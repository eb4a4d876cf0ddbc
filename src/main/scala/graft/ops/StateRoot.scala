package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

/** One incremental-state family, declared as data: the tables its
  * batches land, where its live ids are held and how its deletion
  * ledger is shaped, and which optional lifecycle verbs it supports.
  * [[StateRoot]] defines every verb once on top of these declarations.
  *
  * @param additiveTables per-batch-disjoint facts: compaction
  *   concatenates them, and the streaming ingest guard reads its
  *   landed set from them.
  * @param snapshotTables tables whose newest batch is the folded view
  *   of all history (compaction keeps only that batch).
  * @param delTables the deletion ledger's tables under
  *   `<stateDir>/_deletes`.
  * @param liveIds (table, id column) holding the ids a deletion can
  *   retract; asked ids not found there are exact no-ops.
  * @param tombstoneCol the id column of the `del_ids` table.
  * @param tombstoneDeltas the statistics a deletion batch lands next
  *   to `del_ids` (BM25's negative df/globals); None = ids only.
  * @param generationTables inline state beyond the batch tables that a
  *   superseded generation also holds (the frozen `centroids`).
  * @param bucketColumns (table, id column) pairs [[StateRoot.bucket]]
  *   declares; empty = the family does not bucket.
  * @param purgeFold builds the per-table purge transform from the
  *   effective tombstone set: (spark, stateDir, deleted) ⇒
  *   (table, frame) ⇒ frame. None = the family does not purge.
  * @param needsCodebook a batch counts as landed only once the frozen
  *   codebook is committed.
  * @param verbs the optional metadata verbs the family declares
  *   (purge and bucket are declared by their own data above).
  */
final case class StateFamily(
    name: String,
    additiveTables: Seq[String],
    delTables: Seq[String],
    liveIds: (String, String),
    tombstoneCol: String = "id",
    tombstoneDeltas: Option[StateFamily.TombstoneDeltas] = None,
    snapshotTables: Seq[String] = Seq.empty,
    generationTables: Seq[String] = Seq.empty,
    bucketColumns: Seq[(String, String)] = Seq.empty,
    purgeFold: Option[StateFamily.PurgeFold] = None,
    needsCodebook: Boolean = false,
    verbs: Set[StateFamily.Verb] = Set.empty) {

  /** Every table a landed batch carries. */
  def batchTables: Seq[String] = additiveTables ++ snapshotTables
}

object StateFamily {
  type PurgeFold =
    (SparkSession, String, DataFrame) => (String, DataFrame) => DataFrame

  /** Statistics a deletion batch derives from ONE persisted probe: the
    * rows of `probeTable` (pruned to the asked ids' buckets) whose id
    * this batch tombstones. `derive` maps (probe, landed main batch
    * ids) to the (deletion table, frame) pairs landed beside `del_ids`.
    */
  final case class TombstoneDeltas(probeTable: String,
      derive: (DataFrame, Seq[Long]) => Seq[(String, DataFrame)])

  sealed abstract class Verb(val name: String)
  case object Describe extends Verb("describe")
  case object Expire extends Verb("expire")
  case object RetainHistory extends Verb("retainHistory")
  case object RetireGenerations extends Verb("retireGenerations")
}

/** The lifecycle handle of one incremental-state root: a reader-
  * addressed `path` plus the [[StateFamily]] that lives there. Each
  * verb resolves the generation pointer once
  * ([[BatchState.resolveGeneration]]) and runs the shared
  * [[BatchState]] protocol — leases, manifests, the purge arbiter —
  * against the current generation's directory. A verb the family does
  * not declare throws [[UnsupportedOperationException]] naming the
  * family, before touching the filesystem.
  */
final case class StateRoot(family: StateFamily, path: String) {

  import BatchState._
  import StateFamily._

  /** The current generation's state directory. */
  def dir(spark: SparkSession): String = resolveGeneration(spark, path)

  private def undeclared(verb: String): Nothing =
    throw new UnsupportedOperationException(
      s"the ${family.name} state family does not declare `$verb` " +
        s"(root $path)")

  private def declared(v: Verb): Unit =
    if (!family.verbs(v)) undeclared(v.name)

  /** True iff batch `batchId` is fully landed (and, for codebook
    * families, the codebook is committed).
    */
  def landed(spark: SparkSession, batchId: Long): Boolean =
    StateRoot.landedIn(spark, family, dir(spark), batchId)

  /** Compact every landed batch into one ([[BatchState.compactState]]):
    * additive tables concatenate, snapshot tables keep their newest
    * batch, frozen codebooks are untouched. A pristine directory gets a
    * plain main-table compaction (never CREATING a deletion root); a
    * tombstoned one first heals a crashed purge, then compacts the
    * deletion root independently. Run between ingests (single-writer
    * contract); at thousands of accumulated batches this is what keeps
    * state listing and scan planning constant-time.
    */
  def compact(spark: SparkSession): Unit = {
    val stateDir = dir(spark)
    withLease(spark, stateDir) {
      if (!hasDeletionRoot(spark, stateDir)) compactMain(spark, stateDir)
      else withLease(spark, deletionRoot(stateDir)) {
        // discard a stale purge marker BEFORE this compaction increments
        // the manifest version it names (false-commit hazard), finish a
        // committed one
        healPurge(spark, stateDir, family.delTables)
        compactMain(spark, stateDir)
        if (hasDeletionRoot(spark, stateDir) &&
            landedBatchIds(spark, deletionRoot(stateDir), family.delTables,
              None).nonEmpty)
          compactState(spark, deletionRoot(stateDir),
            additiveTables = family.delTables)
      }
    }
  }

  private def compactMain(spark: SparkSession, stateDir: String): Unit =
    compactState(spark, stateDir, family.additiveTables,
      family.snapshotTables)

  /** PHYSICALLY reclaim tombstoned rows: one transformed compaction
    * (the family's purge fold, built from the effective tombstone set)
    * rewrites the main tables without them, then the whole deletion
    * root is retired — after which reads pay no tombstone anti-join and
    * the bytes are actually gone. Falls back to a plain compaction when
    * there is nothing to purge.
    *
    * Crash-safe across the two roots via a commit ARBITER: the purge
    * records the main manifest version its flip will create in
    * `_deletes/.purged_at` BEFORE compacting; readers and writers then
    * decide "deltas live" vs "deltas folded" by comparing the current
    * main version against the marker ([[BatchState.purgeCommitted]]). A
    * crash before the flip leaves the marker stale (discarded by the
    * next writer); a crash after it leaves tombstones that every reader
    * ignores and the next writer retires ([[BatchState.healPurge]]).
    * Use the handle's verbs — never raw `BatchState.compactState` — on
    * a directory that has ever had deletions, so the healing always runs
    * under the leases first.
    */
  def purge(spark: SparkSession): Unit = {
    val fold = family.purgeFold.getOrElse(undeclared("purge"))
    val stateDir = dir(spark)
    withLease(spark, stateDir) {
      if (!hasDeletionRoot(spark, stateDir)) compactMain(spark, stateDir)
      else withLease(spark, deletionRoot(stateDir)) {
        healPurge(spark, stateDir, family.delTables)
        readTombstones(spark, stateDir, family.delTables) match {
          case None => compactMain(spark, stateDir)
          case Some(deleted) =>
            // compliance beats audit: purged content must be neither
            // servable through any as-of cut nor left on disk, so the
            // history floor is raised past every pre-purge id BEFORE
            // the fold — the gc then sweeps retained directories, and
            // pre-purge cuts refuse loudly (fail-closed: a crash after
            // this write but before the fold only narrows audit
            // history, never leaks purged content)
            if (historyFloor(spark, stateDir).isDefined)
              setHistoryFloor(spark, stateDir,
                landedBatchIds(spark, stateDir, family.batchTables, None)
                  .last + 1)
            val expected = manifestVersion(spark, stateDir) + 1
            writePurgeMarker(spark, stateDir, expected)
            compactState(spark, stateDir, family.additiveTables,
              family.snapshotTables,
              transform = fold(spark, stateDir, deleted),
              forceRewrite = true)
            require(manifestVersion(spark, stateDir) >= expected,
              "purge flip did not reach its recorded arbiter version — " +
                "state untouched, retry")
            healPurge(spark, stateDir, family.delTables)
        }
      }
    }
  }

  /** Tombstone `dels` (ids in `idCol`) — [[StateRoot.deleteIn]] with
    * the batch id chosen INSIDE the main lease (above everything landed
    * or promised in the deletion root) — the form concurrent callers
    * should use: an id chosen outside the lease can be raced to by
    * another deletion, whose idempotency check then silently absorbs
    * the loser's ids. The main lease alone protects the choice (every
    * deletion writer takes it first) without creating the deletion root
    * on a directory where this call turns out to be a no-op.
    */
  def delete(spark: SparkSession, dels: DataFrame, idCol: String): Unit = {
    val stateDir = dir(spark)
    withLease(spark, stateDir) {
      StateRoot.deleteIn(spark, family, dels, idCol, stateDir,
        nextTombstoneBatchId(spark, stateDir, family.delTables))
    }
  }

  /** Operational introspection: ONE metadata-only (key, value) frame —
    * the `DESCRIBE TABLE` of the state family, for operators deciding
    * whether to compact, purge, expire or cut over: batches,
    * manifest/watermark, TTL and history floors, deletion state,
    * params. Constant-RPC (listings only, no data scans, no Spark jobs
    * beyond building the local frame).
    */
  def describe(spark: SparkSession): DataFrame = {
    declared(Describe)
    val stateDir = dir(spark)
    val landed = landedBatchIds(spark, stateDir, family.batchTables, None)
    val delRootExists = hasDeletionRoot(spark, stateDir)
    val delLanded =
      if (!delRootExists) Seq.empty[Long]
      else landedBatchIds(spark, deletionRoot(stateDir), family.delTables,
        None)
    val params = readParams(spark, stateDir)
    val rows = Seq(
      "root" -> path,
      "resolved_dir" -> stateDir,
      "generation_pointer" -> (stateDir != new Path(path).toString &&
        stateDir != path).toString,
      "landed_batches" -> landed.size.toString,
      "newest_batch" -> landed.lastOption.map(_.toString).getOrElse(""),
      "oldest_batch" -> landed.headOption.map(_.toString).getOrElse(""),
      "manifest_version" -> manifestVersion(spark, stateDir).toString,
      "retention_floor" -> retentionFloor(spark, stateDir)
        .map(_.toString).getOrElse(""),
      "history_floor" -> historyFloor(spark, stateDir)
        .map(_.toString).getOrElse(""),
      "deletion_root" -> delRootExists.toString,
      "deletion_batches" -> delLanded.size.toString,
      "purge_committed" -> (delRootExists &&
        purgeCommitted(spark, stateDir)).toString
    ) ++ params.toSeq.sortBy(_._1).map { case (p, v) => s"param:$p" -> v }
    import spark.implicits._
    rows.toDF("key", "value")
  }

  /** Age-based retention ([[BatchState.setRetention]]): retire every
    * batch below `minActiveBatchId` from the active view — the TTL verb
    * ("drop shards older than the training-data cutoff"). Declared only
    * by families whose batches are disjoint facts, so the TTL'd view IS
    * the state of the surviving batches. Requires a tombstone-free
    * directory (purge first): a live deletion delta references the
    * whole pre-TTL corpus.
    *
    * TTL granularity is the PRE-compaction batch id space: compaction
    * folds every active batch into ONE merged id at the top of the id
    * space, after which a floor can only keep everything or retire
    * everything. Expire BEFORE compacting, or run compaction on a
    * cadence coarser than the TTL.
    */
  def expire(spark: SparkSession, minActiveBatchId: Long): Unit = {
    declared(Expire)
    val stateDir = dir(spark)
    withLease(spark, stateDir) {
      require(readTombstones(spark, stateDir, family.delTables).isEmpty,
        s"$stateDir holds live tombstones; purge before expiring — " +
          "deletion deltas reference retired batches")
      setRetention(spark, stateDir, minActiveBatchId)
    }
  }

  /** Opt-in bucketed layout for the family's scan-heavy tables
    * ([[BatchState.setBucketing]]): each declared table lands as
    * `batch=k/gbkt=hash(id)%n` partitions, so a deletion's probe scans
    * only the deleted ids' buckets instead of the whole table
    * (partition pruning at planning time). Declare BEFORE the first
    * ingest; read results are bit-identical either way.
    */
  def bucket(spark: SparkSession, nBuckets: Int): Unit = {
    if (family.bucketColumns.isEmpty) undeclared("bucket")
    val stateDir = dir(spark)
    family.bucketColumns.foreach { case (table, idCol) =>
      setBucketing(spark, stateDir, table, idCol, nBuckets)
    }
  }

  /** Declare audit-history retention ([[BatchState.setHistoryFloor]]):
    * compaction keeps folded batch directories at or above `floor` on
    * disk (invisible to the live view), so as-of reads can resolve
    * cuts BELOW a fold through the pre-fold manifest. Raising the floor
    * is the history-GC verb; cuts below it refuse loudly. A purge
    * overrides retention (compliance beats audit).
    */
  def retainHistory(spark: SparkSession, floor: Long = 0L): Unit = {
    declared(RetainHistory)
    setHistoryFloor(spark, dir(spark), floor)
  }

  /** Reclaim superseded generations after a cutover
    * ([[BatchState.retireGenerations]]): reindex → cutover → retire
    * leaves exactly ONE generation on disk. Crash-safe and re-runnable;
    * reads through the root are untouched. Works on the root itself
    * (under the root's lease), so it resolves the pointer there.
    */
  def retireGenerations(spark: SparkSession): Unit = {
    declared(RetireGenerations)
    BatchState.retireGenerations(spark, path,
      family.batchTables ++ family.generationTables)
  }
}

object StateRoot {

  import BatchState._

  /** [[StateRoot.landed]] against an already-resolved state directory —
    * the replay check of the family ingest ops, which resolve once at
    * their own entry.
    */
  private[graft] def landedIn(spark: SparkSession, family: StateFamily,
      stateDir: String, batchId: Long): Boolean =
    allLanded(spark, stateDir, family.batchTables, batchId) &&
      (!family.needsCodebook || hasCodebook(spark, stateDir))

  /** The tombstone-landing protocol of every family, against an
    * already-resolved state directory and an explicit tombstone batch
    * id (the streaming harnesses and replays choose it; concurrent
    * callers use [[StateRoot.delete]]). The asked ids held in the
    * family's live-id table that no earlier batch tombstoned land in
    * `<stateDir>/_deletes/del_ids/batch=<batchId>`, beside the family's
    * [[StateFamily.TombstoneDeltas]]; readers anti-join them
    * ([[BatchState.readTombstones]]) until [[StateRoot.purge]] folds
    * them away.
    *
    *  - BOTH leases: the main one (mutual exclusion with ingest and the
    *    main-table compaction) and the deletion root's own (mutual
    *    exclusion with its ledger compaction, which holds only that one
    *    — without it a landing batch could be destroyed as a "crashed
    *    prior attempt").
    *  - A deletion that would be a complete no-op never creates the
    *    deletion root: a pristine directory keeps its one-exists-probe
    *    read path.
    *  - A crashed purge is finished or discarded first
    *    ([[BatchState.healPurge]]): tombstones landed into a
    *    committed-but-unretired root would be wiped by the next healer.
    *  - Idempotent per (stateDir, batchId), in-order enforced, and ids
    *    not held or already tombstoned contribute nothing — so a replay
    *    or an over-broad set can never push a statistic negative.
    *
    * Deletion is by id and permanent for that id (ids are never
    * reused). On a bucketed directory ([[StateRoot.bucket]]) the
    * live-id and delta probes scan only the asked ids' buckets.
    */
  private[graft] def deleteIn(spark: SparkSession, family: StateFamily,
      dels: DataFrame, idCol: String, stateDir: String,
      batchId: Long): Unit = withLease(spark, stateDir) {
    val landed = landedBatchIds(spark, stateDir, family.batchTables, None)
    require(landed.nonEmpty,
      s"no landed batches under $stateDir — nothing to delete from")
    val id = family.tombstoneCol
    val (liveTable, liveCol) = family.liveIds
    val asked = dels.select(col(idCol).as(id)).distinct()
    def pruned(table: String) =
      readBatchesPrunedBy(spark, stateDir, table, landed, asked, id).get
    val held = asked.join(pruned(liveTable).select(col(liveCol).as(id)),
      Seq(id), "left_semi")
    if (hasDeletionRoot(spark, stateDir) || !held.isEmpty) {
      val delRoot = deletionRoot(stateDir)
      withLease(spark, delRoot) {
        healPurge(spark, stateDir, family.delTables)
        if (!allLanded(spark, delRoot, family.delTables, batchId)) {
          val delLanded = landedBatchIds(spark, delRoot, family.delTables,
            None)
          requireInOrder(delLanded, batchId)
          val newDel = readBatches(spark, delRoot, "del_ids", delLanded) match {
            case Some(prev) => held.join(prev, Seq(id), "left_anti")
            case None => held
          }
          val probed = family.tombstoneDeltas.map(d => d ->
            pruned(d.probeTable).join(newDel, Seq(id), "left_semi")
              .persist(StorageLevel.MEMORY_AND_DISK))
          try {
            val deltas = probed.toSeq.flatMap { case (d, probe) =>
              d.derive(probe, landed) }
            // every table derives from newDel (and the one persisted
            // probe) and lands independently — overlapped
            inParallel((("del_ids" -> newDel) +: deltas).map {
              case (t, df) => () => land(df, delRoot, t, batchId)
            })
          } finally probed.foreach(_._2.unpersist(blocking = false))
        }
      }
    }
  }
}
