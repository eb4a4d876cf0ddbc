package graft.ops

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Shared machinery of the batch-partitioned parquet state pattern
  * (`<stateDir>/<table>/batch=<k>/`) behind [[IncrementalCurateOps]],
  * [[IncrementalDedupOps]] and [[IncrementalIndexOps]]: idempotent
  * per-batch OVERWRITE gated on `_SUCCESS` markers, all-or-nothing
  * batch visibility (a batch counts only when EVERY table carries its
  * marker — per-table visibility would let a crash between two table
  * writes expose half a batch), and constant-RPC batch listing (ONE
  * `globStatus` per table, never O(batches) `exists` probes — on an
  * object store the latter dominates a many-thousand-batch corpus's
  * planning time).
  */
private[graft] object BatchState {

  // --------------------------------------------------------------- lease

  /** In-process registry of held leases (stateDir → holder thread):
    * lets [[withLease]] re-enter on the same thread (the streaming
    * harness holds the lease across a micro-batch while the ingest op
    * inside takes it again) while a SECOND thread in the same JVM still
    * fails loudly at the file create.
    */
  private val heldLeases =
    new java.util.concurrent.ConcurrentHashMap[String, Thread]()

  /** Run `body` holding the state directory's single-writer LEASE — the
    * loud enforcement of the contract every writer shares: ingest and
    * compaction must never run concurrently ([[compactState]] deletes a
    * `batch=<c>` directory it believes is a crashed prior attempt; a
    * concurrent ingest landing that id would be destroyed and excluded
    * from the manifest — silent data loss, the one failure class this
    * family otherwise guards loudly). The lease file is
    * `<stateDir>/_manifest/.lease`, taken with the same atomic
    * `create(overwrite = false)` primitive as the manifest flip, so a
    * second writer — any thread, any JVM, any machine sharing the
    * filesystem — fails with a loud [[IllegalStateException]] instead
    * of corrupting state. Reentrant within one thread.
    *
    * A holder that CRASHES leaves a stale lease; every later writer
    * fails loudly until an operator confirms the holder is gone and
    * calls [[breakLease]] — deliberately fail-stop, never auto-expire:
    * a lease that silently expires under a long GC pause readmits the
    * very race it exists to prevent.
    */
  def withLease[T](spark: SparkSession, stateDir: String)(body: => T): T = {
    val key = new Path(stateDir).toString
    if (heldLeases.get(key) eq Thread.currentThread()) body
    else {
      val conf = spark.sparkContext.hadoopConfiguration
      val lease = new Path(s"$stateDir/_manifest/.lease")
      val fs = lease.getFileSystem(conf)
      fs.mkdirs(lease.getParent)
      val out =
        try fs.create(lease, false)
        catch {
          case e: java.io.IOException => throw new IllegalStateException(
            s"another writer holds the single-writer lease at $lease — " +
              "ingest and compaction must not run concurrently on one " +
              "state directory. If the holder crashed (stale lease), " +
              "verify it is gone and call BatchState.breakLease.", e)
        }
      // a failed metadata write must not orphan the just-created lease
      // (the holder is alive and healthy — nothing would ever release it)
      try {
        try out.write((s"pid=${ProcessHandle.current().pid()} " +
          s"taken_ms=${System.currentTimeMillis()}").getBytes("UTF-8"))
        finally out.close()
      } catch {
        case e: Throwable => fs.delete(lease, false); throw e
      }
      heldLeases.put(key, Thread.currentThread())
      try body
      finally {
        heldLeases.remove(key)
        fs.delete(lease, false)
      }
    }
  }

  /** Operator override for a stale lease left by a crashed writer —
    * call ONLY after confirming the holder process is gone (the lease
    * file records its pid and take time). Returns true iff a lease file
    * was removed.
    */
  def breakLease(spark: SparkSession, stateDir: String): Boolean = {
    val lease = new Path(s"$stateDir/_manifest/.lease")
    lease.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(lease, false)
  }

  // ------------------------------------------------- streaming ledger

  /** Committed entries of the streaming input ledger, (id, entry dir)
    * in ascending id order ([[graft.streaming.Streaming.stateIngest]]
    * writes one per checkpoint micro-batch under
    * `<stateDir>/_input/batch=<ckptId>`). Empty for state directories
    * never fed by a stream. One `globStatus`.
    */
  private[graft] def inputLedger(spark: SparkSession,
      stateDir: String): Seq[(Long, Path)] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val glob = new Path(s"$stateDir/_input/batch=*/_SUCCESS")
    val found = glob.getFileSystem(conf).globStatus(glob)
    if (found == null) Seq.empty
    else found.toSeq.map(_.getPath.getParent).flatMap(d => scala.util.Try(
      d.getName.stripPrefix("batch=").toLong -> d).toOption).sortBy(_._1)
  }

  /** Delete the ledger entries below `extId` — the engine only ever
    * re-delivers the LAST micro-batch, so older entries can never be
    * replayed again, and keeping them would regrow in `_input` the very
    * small-file problem [[compactState]] retires for the data tables.
    */
  private[graft] def retireLedgerBelow(spark: SparkSession, extId: Long,
      ledger: Seq[(Long, Path)]): Unit =
    ledger.collect { case (old, dir) if old < extId => dir }.foreach(d =>
      d.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(d, true))

  /** Stamp the `_LANDED` confirmation into one ledger entry directory. */
  private[graft] def markLanded(fs: FileSystem, entry: Path): Unit =
    fs.create(new Path(entry, "_LANDED"), true).close()

  /** Highest effective state-batch id any streaming ledger entry has
    * PROMISED to a micro-batch — landed or not. [[compactState]] must
    * place its merged batch strictly above this: a micro-batch that
    * recorded effective id N and crashed before landing it would
    * otherwise replay against a compacted batch sitting at N, pass
    * every guard, and have its data silently no-op'd away.
    */
  private[graft] def maxPromisedEffectiveId(spark: SparkSession,
      stateDir: String): Option[Long] = {
    val dirs = inputLedger(spark, stateDir).map(_._2)
    if (dirs.isEmpty) None
    else {
      import org.apache.spark.sql.functions.{col, max}
      Some(spark.read.parquet(dirs.map(_.toString): _*)
        .agg(max(col("effective_id"))).head.getLong(0))
    }
  }

  /** Sentinel return of [[mapExternalBatchId]]: this external id's work
    * on this root is already CONFIRMED landed (a compaction stamped the
    * mapping `_LANDED` and may since have retired the batch directory)
    * — the caller must SKIP its sub-operation, not re-run it under the
    * stale id (a below-watermark id would trip the deletion root's
    * in-order guard, and a fresh id would silently duplicate data the
    * merged batch already holds).
    */
  val ExternalIdAlreadyLanded: Long = -1L

  /** Deterministically map an EXTERNALLY-assigned batch id (a streaming
    * harness's effective id) into this root's OWN ascending id space,
    * persisted under `<root>/_input/batch=<extId>` — the same
    * promise-ledger shape the harness keeps for its primary root, so
    * that (a) a replay of the external id reuses the recorded mapping
    * (idempotence), and (b) [[compactState]] on this root reads the
    * ledger for its promise ceiling and can never land a merged batch
    * on a mapped id — the silent-absorption hazard any secondary root
    * of a composed ingest (curate → index) would otherwise inherit the
    * moment an operator compacts it between drains. Entries for older
    * external ids are retired on each new mapping (the engine only ever
    * replays the last micro-batch).
    *
    * The reuse path mirrors the primary root's replay rule instead of
    * trusting the recorded mapping unconditionally: a stored id is kept
    * only while the root's tables still vouch for it ([[allLanded]]) or
    * its id space is still open (newest landed < stored). A compaction
    * that moved the landed set past an UNLANDED promise (crash between
    * the mapping write and the ingest, then compact) forces a fresh id
    * — the stale one sits below the watermark, where the replayed data
    * would be invisible to [[landedBatchIds]] and swept by the next GC.
    * A mapping compaction already CONFIRMED (`_LANDED`) returns
    * [[ExternalIdAlreadyLanded]]: the data is in the merged batch even
    * though the original directory is retired, so the caller skips.
    */
  def mapExternalBatchId(spark: SparkSession, root: String, extId: Long,
      tables: Seq[String]): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fpDir = s"$root/_input/batch=$extId"
    val fs = new Path(fpDir).getFileSystem(conf)
    def writeEntry(own: Long): Unit = {
      import spark.implicits._
      Seq(own).toDF("effective_id").coalesce(1)
        .write.mode(SaveMode.Overwrite).parquet(fpDir)
    }
    def freshId: Long = math.max(
      landedBatchIds(spark, root, tables, None).lastOption
        .getOrElse(Long.MinValue),
      maxPromisedEffectiveId(spark, root).getOrElse(Long.MinValue))
    if (fs.exists(new Path(s"$fpDir/_SUCCESS"))) {
      // the confirmed-skip path must not pay the entry read (one tiny
      // Spark job) for a value it never uses
      if (fs.exists(new Path(fpDir, "_LANDED"))) ExternalIdAlreadyLanded
      else {
      val storedEff =
        spark.read.parquet(fpDir).head.getAs[Long]("effective_id")
      if (allLanded(spark, root, tables, storedEff)) storedEff
      else {
        val newest = landedBatchIds(spark, root, tables, None)
          .lastOption.getOrElse(Long.MinValue)
        if (newest < storedEff) storedEff
        else {
          val own = freshId + 1
          writeEntry(own)
          own
        }
      }
      }
    } else {
      val floor = freshId
      val own = if (floor == Long.MinValue) extId else floor + 1
      writeEntry(own)
      retireLedgerBelow(spark, extId, inputLedger(spark, root))
      own
    }
  }

  /** Stamp `_LANDED` into every ledger entry whose promised effective
    * id is in the landed set — the confirmation
    * [[graft.streaming.Streaming.stateIngest]] normally writes right
    * after its ingest returns. Compaction re-derives it (it holds the
    * lease and knows the landed set exactly) so that an entry whose
    * confirmation write crashed is not mistaken for a crashed INGEST
    * after the batch directories are retired — that mistake would
    * re-ingest landed data under a fresh id (silent duplication).
    *
    * Entries flagged COMPOSED (written by closures with effects beyond
    * this root's core tables — curate → index) are never confirmed
    * here: the core tables landing proves only the FIRST sub-operation
    * completed, and a confirmation stamped off it would make the replay
    * skip the whole closure — a crash between the curate land and the
    * index step followed by a routine compaction would leave the shard
    * permanently unindexed. Composed entries are confirmed only by the
    * harness, after the full closure returns; their replay after a
    * compaction re-runs the closure under a fresh id, where every
    * sub-operation is a semantic no-op on work the merged batch already
    * holds.
    */
  private def confirmLandedInputs(spark: SparkSession, stateDir: String,
      landed: Set[Long]): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    inputLedger(spark, stateDir).foreach { case (_, d) =>
      val fs = d.getFileSystem(conf)
      if (!fs.exists(new Path(d, "_LANDED"))) {
        val row = spark.read.parquet(d.toString).head
        val composed = row.schema.fieldNames.contains("composed") &&
          row.getAs[Boolean]("composed")
        if (!composed && landed.contains(row.getAs[Long]("effective_id")))
          markLanded(fs, d)
      }
    }
  }

  /** Batch ids visible as state: present with `_SUCCESS` in EVERY
    * table, optionally restricted to ids below `below`. Sorted. When
    * the directory carries a compaction manifest, ids below its
    * watermark are visible ONLY if the manifest lists them (the
    * compacted replacement batch) — which is what lets [[compactState]]
    * retire thousands of small per-batch directories without a window
    * where a reader could double-count or see nothing.
    */
  def landedBatchIds(spark: SparkSession, stateDir: String,
      tables: Seq[String], below: Option[Long]): Seq[Long] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val globbed = globbedIds(conf, stateDir, tables)
    // ONE listing of `_manifest` serves both the compaction manifest
    // and the TTL floor — this is the hottest metadata path, and a
    // second listStatus per call would double its RPCs on an object
    // store for every root, TTL'd or not
    val mdir = new Path(s"$stateDir/_manifest")
    val mfs = mdir.getFileSystem(conf)
    val entries =
      if (!mfs.exists(mdir)) Seq.empty[FileStatus]
      else mfs.listStatus(mdir).toSeq
    val visible = manifestsFrom(mfs, entries).nextOption() match {
      case Some((wm, listed)) =>
        // listed ids are visible UNCONDITIONALLY (their dirs are fully
        // written before the manifest lands; their markers may arrive
        // after it — see the compaction protocol), glob ids only at or
        // above the watermark
        listed.toSet ++ globbed.filter(_ >= wm)
      case None => globbed
    }
    // the TTL floor hides a PREFIX of the id space ([[setRetention]]):
    // applied last so compaction merges survivors only and its GC
    // sweeps the retired directories
    val ttl = floorFrom(mfs, entries, "r")
    visible.toSeq
      .filter(k => below.forall(k < _) && ttl.forall(k >= _)).sorted
  }

  /** Batch ids on disk with a `_SUCCESS` marker in EVERY table — the
    * raw glob intersection, BEFORE manifest/TTL visibility (retained
    * history included). One `globStatus` per table.
    */
  private def globbedIds(conf: org.apache.hadoop.conf.Configuration,
      stateDir: String, tables: Seq[String]): Set[Long] =
    tables.map { t =>
      val glob = new Path(s"$stateDir/$t/batch=*/_SUCCESS")
      val found = glob.getFileSystem(conf).globStatus(glob)
      if (found == null) Set.empty[Long]
      else found.toSeq.flatMap { st =>
        scala.util.Try(
          st.getPath.getParent.getName.stripPrefix("batch=").toLong).toOption
      }.toSet
    }.reduce(_ intersect _)

  /** Highest-version compaction manifest: (watermark, listed ids). */
  private def readManifest(spark: SparkSession,
      stateDir: String): Option[(Long, Seq[Long])] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new Path(s"$stateDir/_manifest")
    val fs = dir.getFileSystem(conf)
    if (!fs.exists(dir)) return None
    manifestsFrom(fs, fs.listStatus(dir).toSeq).nextOption()
  }

  /** Parse one manifest version's content: `<wm>;<ids>;`. The trailing
    * ';' is the commit terminator — create+write+close is not atomic on
    * every filesystem, and a truncated "12" of "123;4,5;" would parse
    * as a VALID but wrong watermark; unterminated content reads as a
    * torn (never-committed) flip.
    */
  private def parseManifestLine(line: String): Option[(Long, Seq[Long])] =
    if (!line.endsWith(";")) None
    else scala.util.Try {
      val parts = line.split(";")
      (parts(0).toLong,
        if (parts.length < 2 || parts(1).isEmpty) Seq.empty[Long]
        else parts(1).split(",").map(_.toLong).toSeq)
    }.toOption

  /** The whole (trimmed) content of one small metadata file. */
  private def readText(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
    finally in.close()
  }

  /** The `<prefix><N>` version files of one listing, newest first:
    * `v` = compaction manifests (and generation pointers under
    * `_current`), `r` = TTL floors, `h` = audit-history floors.
    */
  private def versionsOf(entries: Seq[FileStatus],
      prefix: String): Seq[(Long, Path)] =
    entries.map(_.getPath).filter(_.getName.startsWith(prefix))
      .flatMap(p => scala.util.Try(
        p.getName.stripPrefix(prefix).toLong -> p).toOption)
      .sortBy(-_._1)

  /** Create `<dir>/<prefix><newest + 1>` holding `content`.
    * create(overwrite = false) is the atomic publish: a racing writer
    * targets the same version number and loses with an exception
    * instead of clobbering.
    */
  private def publishVersion(fs: FileSystem, dir: Path, prefix: String,
      entries: Seq[FileStatus], content: String): Unit = {
    val next = versionsOf(entries, prefix).headOption.fold(0L)(_._1) + 1
    val out = fs.create(new Path(dir, s"$prefix$next"), false)
    try out.write(content.getBytes("UTF-8"))
    finally out.close()
  }

  /** The committed manifests of a pre-fetched `_manifest` listing,
    * newest first (shared with the floor parses so the hot path lists
    * the dir once). Torn (unterminated) versions are skipped: the flip
    * never happened, so the first one read is the current view.
    */
  private def manifestsFrom(fs: FileSystem,
      entries: Seq[FileStatus]): Iterator[(Long, Seq[Long])] =
    versionsOf(entries, "v").iterator
      .flatMap { case (_, p) => parseManifestLine(readText(fs, p)) }

  private def writeManifest(spark: SparkSession, stateDir: String,
      watermark: Long, listed: Seq[Long]): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new Path(s"$stateDir/_manifest")
    val fs = dir.getFileSystem(conf)
    fs.mkdirs(dir)
    // the trailing ';' is the commit terminator readers require
    publishVersion(fs, dir, "v", fs.listStatus(dir).toSeq,
      s"$watermark;${listed.mkString(",")};")
  }

  /** Current manifest version of a state directory (0 when none) —
    * monotonically increasing across compactions; the purge protocol
    * uses "version ≥ V" as its crash-safe commit arbiter.
    */
  private[graft] def manifestVersion(spark: SparkSession,
      stateDir: String): Long = {
    val dir = new Path(s"$stateDir/_manifest")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) 0L else readManifestVersion(fs, dir)
  }

  private def readManifestVersion(fs: FileSystem,
      dir: Path): Long =
    versionsOf(fs.listStatus(dir).toSeq, "v").headOption.fold(0L)(_._1)

  /** Compact every landed batch of a state directory into ONE batch —
    * the answer to the small-file problem a years-long shard-by-shard
    * ingest accumulates (thousands of `batch=k` directories, each a
    * handful of parquet files, dominate listing and open() time long
    * before data volume matters). `additiveTables` are concatenated
    * (their rows are per-batch-disjoint facts: postings, edges, docs);
    * `snapshotTables` keep only the NEWEST batch's content (cluster
    * maps — already the folded view of all history). The compacted
    * batch lands under id `max(landed) + 1`, so the ascending-id ingest
    * contract continues untouched on top.
    *
    * Crash-safe by ordering, never by luck:
    *  1. every table's union is written to a dot-prefixed staging dir
    *     (hidden from globs AND Spark listings) and its `_SUCCESS`
    *     marker is stripped;
    *  2. staging dirs are renamed to `batch=<C>` — still invisible (the
    *     glob intersection requires markers);
    *  3. the manifest version file is CREATED atomically: watermark C,
    *     listed [C] — the one instant the view flips, old batches out,
    *     C in (listed ids do not need markers, their data is complete
    *     by construction);
    *  4. markers are recreated (tool compatibility) and old batch dirs
    *     plus stale manifests are garbage-collected — all invisible
    *     work; a crash anywhere retries idempotently.
    *
    * A crash between 1 and 3 leaves the OLD view fully intact; a crash
    * after 3 leaves the NEW view fully intact with invisible garbage a
    * re-run sweeps. The single-writer contract (no concurrent ingest)
    * is enforced LOUDLY by [[withLease]], not by convention — a writer
    * racing this method fails at the lease file instead of having its
    * batch destroyed at the "crashed prior attempt" delete below.
    *
    * Streaming composition: the merged batch id is chosen strictly
    * above BOTH the landed set and every effective id the streaming
    * input ledger has promised ([[maxPromisedEffectiveId]]) — a
    * micro-batch that recorded its effective id and crashed before
    * landing would otherwise replay against the compacted batch and be
    * silently no-op'd. Entries whose promised batch DID land are
    * stamped `_LANDED` first ([[confirmLandedInputs]]), so replays of
    * confirmed work skip instead of re-ingesting post-retirement.
    *
    * `transform` lets a caller rewrite each table's merged content on
    * the way through (the tombstone PURGE passes an anti-join /
    * stats-recompute here); it runs inside the same crash-safe staging,
    * so a transformed compaction is exactly as atomic as a plain one.
    * `forceRewrite` runs the merge even at ≤1 landed batch — needed
    * when the rewrite itself (not the dir count) is the point.
    */
  def compactState(spark: SparkSession, stateDir: String,
      additiveTables: Seq[String], snapshotTables: Seq[String] = Seq.empty,
      transform: (String, DataFrame) => DataFrame = (_, df) => df,
      forceRewrite: Boolean = false):
      Unit = withLease(spark, stateDir) {
    val tables = additiveTables ++ snapshotTables
    val landed = landedBatchIds(spark, stateDir, tables, None)
    confirmLandedInputs(spark, stateDir, landed.toSet)
    if (landed.size <= 1 && !forceRewrite) {
      // heal the step-3/step-4 crash window of a PRIOR run: the
      // manifest flipped but markers were never restored — a bare
      // retry must finish the protocol, not just garbage-collect
      restoreListedMarkers(spark, stateDir, tables)
      gcBelowWatermark(spark, stateDir, tables)
    } else {
      val c = math.max(landed.max,
        maxPromisedEffectiveId(spark, stateDir).getOrElse(Long.MinValue)) + 1
      val conf = spark.sparkContext.hadoopConfiguration
      val fs = new Path(stateDir).getFileSystem(conf)

      for (t <- tables) {
        val staged = new Path(s"$stateDir/$t/.compact_$c")
        val src =
          if (additiveTables.contains(t)) landed
          else Seq(landed.max) // snapshot: newest already folds all history
        val bucketing = bucketingOf(spark, stateDir, t)
        val srcReader = {
          val r = spark.read
          if (bucketing.isDefined) r.option("basePath", s"$stateDir/$t")
          else r
        }
        val merged = transform(t,
          srcReader.parquet(src.map(k => s"$stateDir/$t/batch=$k"): _*))
        bucketing match {
          case Some((bc, n)) =>
            // re-bucket the merged batch (drop + recompute is
            // deterministic — same hash, same n), keeping the layout
            // contract for every later pruned read
            merged.drop(BucketCol, BatchPartCol)
              .withColumn(BucketCol, bucketExpr(bc, n))
              .repartition(n, org.apache.spark.sql.functions.col(BucketCol))
              .write.mode(SaveMode.Overwrite).partitionBy(BucketCol)
              .parquet(staged.toString)
          case None =>
            merged.write.mode(SaveMode.Overwrite).parquet(staged.toString)
        }
        fs.delete(new Path(staged, "_SUCCESS"), false)
        val dest = new Path(s"$stateDir/$t/batch=$c")
        // a crashed PRIOR attempt — and provably not a live writer's
        // batch, because this method holds the single-writer lease
        if (fs.exists(dest)) fs.delete(dest, true)
        require(fs.rename(staged, dest), s"rename failed for $dest")
      }
      writeManifest(spark, stateDir, watermark = c, listed = Seq(c))
      restoreListedMarkers(spark, stateDir, tables)
      gcBelowWatermark(spark, stateDir, tables)
    }
  }

  /** Recreate `_SUCCESS` markers for every manifest-listed batch dir
    * (step 4 of the compaction protocol — cosmetic for manifest-aware
    * readers, load-bearing for marker-globbing tools and `allLanded`).
    */
  private def restoreListedMarkers(spark: SparkSession, stateDir: String,
      tables: Seq[String]): Unit =
    readManifest(spark, stateDir).foreach { case (_, listed) =>
      val conf = spark.sparkContext.hadoopConfiguration
      val fs = new Path(stateDir).getFileSystem(conf)
      for (t <- tables; k <- listed) {
        val dir = new Path(s"$stateDir/$t/batch=$k")
        if (fs.exists(dir))
          fs.create(new Path(dir, "_SUCCESS"), true).close()
      }
    }

  /** Delete batch directories the manifest has retired (id below the
    * watermark and not listed) and all but the newest manifest version
    * — invisible garbage, safe to sweep any time. With a declared
    * audit-history floor ([[setHistoryFloor]]) retired directories AT
    * OR ABOVE the floor are kept on disk (as-of resolution reads them
    * through the kept manifest versions) and only ids below the floor
    * are swept; every manifest version is kept too, because a pre-fold
    * cut resolves through the manifest that was current at that moment.
    */
  private def gcBelowWatermark(spark: SparkSession, stateDir: String,
      tables: Seq[String]): Unit = {
    readManifest(spark, stateDir).foreach { case (wm, listed) =>
      val conf = spark.sparkContext.hadoopConfiguration
      val fs = new Path(stateDir).getFileSystem(conf)
      val hist = historyFloor(spark, stateDir)
      for (t <- tables) {
        val dirs = fs.globStatus(new Path(s"$stateDir/$t/batch=*"))
        if (dirs != null) dirs.foreach { st =>
          scala.util.Try(
            st.getPath.getName.stripPrefix("batch=").toLong).toOption
            .filter(k => k < wm && !listed.contains(k) &&
              hist.forall(k < _))
            .foreach(_ => fs.delete(st.getPath, true))
        }
      }
      val mdir = new Path(s"$stateDir/_manifest")
      val latest = readManifestVersion(fs, mdir)
      versionsOf(fs.listStatus(mdir).toSeq, "v")
        .filter(_._1 < latest).foreach { case (_, p) =>
          hist match {
            case None => fs.delete(p, false)
            case Some(h) =>
              // a manifest whose fold sits below the floor can never
              // legally resolve a cut (the wm >= floor guard) — sweep
              // it with its directories; torn versions are left
              parseManifestLine(readText(fs, p)).foreach { case (w, _) =>
                if (w < h) fs.delete(p, false)
              }
          }
        }
    }
  }

  /** Record an external-id mapping whose effective id was chosen by
    * the CALLER (under the writer leases) — the post-apply form of the
    * mapping [[mapExternalBatchId]] writes pre-apply: a deletion
    * harness must not create the deletion root for a micro-batch that
    * turns out to be a complete no-op, so it applies first and records
    * the mapping only once the root provably exists. Retires older
    * external ids (the engine only ever replays the last micro-batch)
    * and is a no-op when the entry already exists.
    */
  def recordExternalBatchId(spark: SparkSession, root: String,
      extId: Long, eff: Long): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fpDir = s"$root/_input/batch=$extId"
    val fs = new Path(fpDir).getFileSystem(conf)
    if (!fs.exists(new Path(s"$fpDir/_SUCCESS"))) {
      import spark.implicits._
      Seq(eff).toDF("effective_id").coalesce(1)
        .write.mode(SaveMode.Overwrite).parquet(fpDir)
      retireLedgerBelow(spark, extId, inputLedger(spark, root))
    }
  }

  /** Stamp the `_LANDED` confirmation on an external-id mapping — the
    * replay of a confirmed external id skips its sub-operation
    * entirely ([[mapExternalBatchId]] returns
    * [[ExternalIdAlreadyLanded]]). No-op when the entry is absent.
    */
  def confirmExternalBatchId(spark: SparkSession, root: String,
      extId: Long): Unit = {
    val fpDir = new Path(s"$root/_input/batch=$extId")
    val fs = fpDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(new Path(fpDir, "_SUCCESS"))) markLanded(fs, fpDir)
  }

  // --------------------------------------------------- retention (TTL)

  /** Retire every batch id below `minActiveBatchId` from the ACTIVE
    * view — age-based retention, the time-travel-free TTL verb of the
    * state family: retired batches stop being visible to every reader
    * and writer immediately (no per-id tombstones — the unit of
    * retirement is the ingest batch), and the next [[compactState]]
    * merges only the survivors and physically sweeps the retired
    * directories (they sit below its watermark unlisted). The floor is
    * a versioned file `_manifest/r<N>` (content: the floor), written
    * with the same create(overwrite = false) primitive as the manifest;
    * the floor is monotonic — a lower re-set throws, because readers
    * may already have served the narrower view.
    *
    * Family applicability: exact only where batches are independent
    * facts (BM25 postings/stats, IVF cells — "view over surviving
    * batches" ≡ "ingest of the surviving batches"); the edge-producing
    * families (curation, image near-dup) hold CROSS-batch state whose
    * older legs a TTL would orphan — their wrappers must not expose
    * this without re-deriving that state.
    *
    * Granularity: the floor addresses the PRE-compaction batch id
    * space. [[compactState]] folds all active batches into one merged
    * id, after which any floor at or below the watermark keeps
    * everything and any floor above it retires everything — set the
    * floor BEFORE compacting when sub-corpus TTL is the intent.
    */
  def setRetention(spark: SparkSession, stateDir: String,
      minActiveBatchId: Long): Unit =
    publishFloor(spark, stateDir, "r", minActiveBatchId) { cur =>
      s"retention floor must be monotonic: $cur -> $minActiveBatchId " +
        "would RE-ADMIT batches readers have already been served without"
    }

  /** The current retention floor (None when no TTL was ever set):
    * batch ids below it are invisible to [[landedBatchIds]]. Torn
    * floor versions (a crashed [[setRetention]]) are skipped — the
    * write never committed.
    */
  private[graft] def retentionFloor(spark: SparkSession,
      stateDir: String): Option[Long] = readFloor(spark, stateDir, "r")

  /** The newest committed `<prefix><N>` floor of a pre-fetched
    * `_manifest` listing. Only terminator-committed floors count — a
    * torn write's truncated digits would otherwise parse as a smaller,
    * WRONG floor; an unterminated version is skipped like an empty one.
    */
  private def floorFrom(fs: FileSystem, entries: Seq[FileStatus],
      prefix: String): Option[Long] =
    versionsOf(entries, prefix).iterator.flatMap { case (_, p) =>
      val txt = readText(fs, p)
      if (txt.endsWith(";")) scala.util.Try(txt.dropRight(1).toLong).toOption
      else None
    }.nextOption()

  private def readFloor(spark: SparkSession, stateDir: String,
      prefix: String): Option[Long] = {
    val dir = new Path(s"$stateDir/_manifest")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) None
    else floorFrom(fs, fs.listStatus(dir).toSeq, prefix)
  }

  /** Publish a new `<prefix><N>` floor version under the lease: a
    * no-op when `floor` is already current, and monotonic — a lower
    * floor throws with `lowered(current floor)`. ';' terminates the
    * committed write: create+write+close is not atomic on every
    * filesystem, and a truncated floor ("12" of "123;") parses to a
    * VALID but wrong number — readers require the terminator and skip
    * unterminated (torn) versions.
    */
  private def publishFloor(spark: SparkSession, stateDir: String,
      prefix: String, floor: Long)(lowered: Long => String): Unit =
    withLease(spark, stateDir) {
      val dir = new Path(s"$stateDir/_manifest")
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.mkdirs(dir)
      val entries = fs.listStatus(dir).toSeq
      val cur = floorFrom(fs, entries, prefix)
      if (!cur.contains(floor)) {
        require(cur.forall(floor >= _), lowered(cur.get))
        publishVersion(fs, dir, prefix, entries, s"$floor;")
      }
    }

  // ------------------------------------------- retained history (audit)

  /** Declare the AUDIT-HISTORY floor of a state directory: batch ids at
    * or above `floor` survive compaction ON DISK (their directories are
    * kept below the manifest watermark, invisible to the live view) and
    * every compaction manifest version is kept — which is what lets
    * as-of reads ([[landedBatchIdsAsOf]]) resolve cuts BELOW a fold
    * through the pre-fold manifest instead of refusing. `floor = 0`
    * keeps everything ever landed. Versioned `_manifest/h<N>` files
    * (terminator-committed like the TTL floor); monotonic — raising the
    * floor is the history-GC verb, the next compaction sweeps below it;
    * lowering cannot resurrect swept directories and throws. Without
    * any declared floor the family keeps today's behavior: compaction
    * physically retires folded batches and as-of stops at the
    * watermark.
    *
    * A PURGE overrides retention (compliance beats audit): it raises
    * the floor past every pre-purge id before folding, so purged
    * content is neither servable through any cut nor left on disk.
    */
  def setHistoryFloor(spark: SparkSession, stateDir: String,
      floor: Long): Unit =
    publishFloor(spark, stateDir, "h", floor) { cur =>
      s"history floor must be monotonic: $cur -> $floor would claim " +
        "directories already swept are retained"
    }

  /** The declared audit-history floor (None = history retention off). */
  private[graft] def historyFloor(spark: SparkSession,
      stateDir: String): Option[Long] = readFloor(spark, stateDir, "h")

  /** The batch ids that were VISIBLE as state when `cut` was the
    * newest landed batch — the as-of resolution verb. Without a
    * declared history floor this is exactly the live listing bounded
    * at the cut (as-of stops at the compaction watermark, today's
    * behavior). With one, cuts below the current watermark resolve
    * through the PRE-FOLD manifest version: the newest kept manifest
    * whose merged id is ≤ the cut supplies the folded prefix, glob ids
    * between its watermark and the cut supply the rest — which is the
    * exact visible set of that moment, because every manifest flip
    * replaces ids strictly below its merged id. Honesty guards, loud:
    * the resolving manifest's merged id must sit at or above the
    * declared floor, and every id the resolution names must still be
    * on disk — a cut whose history was GC'd (floor raised, purge)
    * refuses instead of silently serving a narrower corpus. The TTL
    * retention floor is deliberately NOT applied on this path: it
    * narrows the LIVE view, while an as-of read reconstructs a moment
    * that may predate it.
    */
  private[graft] def landedBatchIdsAsOf(spark: SparkSession,
      stateDir: String, tables: Seq[String], cut: Long): Seq[Long] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val mdir = new Path(s"$stateDir/_manifest")
    val mfs = mdir.getFileSystem(conf)
    val entries =
      if (!mfs.exists(mdir)) Seq.empty[FileStatus]
      else mfs.listStatus(mdir).toSeq
    floorFrom(mfs, entries, "h") match {
      case None => landedBatchIds(spark, stateDir, tables, Some(cut + 1))
      case Some(h) =>
        val globbed = globbedIds(conf, stateDir, tables)
        // torn (unterminated) versions are never-committed flips —
        // skipped here exactly as the live listing skips them
        val manifests = manifestsFrom(mfs, entries).toSeq
        manifests.filter(_._1 <= cut).sortBy(-_._1).headOption match {
          case Some((wm, listed)) =>
            require(wm >= h,
              s"as-of cut $cut resolves through the fold at $wm, below " +
                s"the declared history floor $h — that history is GC'd " +
                "(or a purge removed it); the cut cannot be served " +
                "completely")
            val missing = listed.filterNot(globbed.contains)
            require(missing.isEmpty,
              s"as-of cut $cut needs folded batch(es) ${missing.mkString(",")} " +
                "which are no longer on disk — history GC'd past this cut")
            (listed.toSet ++ globbed.filter(i => i >= wm && i <= cut))
              .toSeq.sorted
          case None =>
            require(h <= 0,
              s"as-of cut $cut predates every retained fold and the " +
                s"history floor is $h — ids below the floor are GC'd; " +
                "completeness cannot be proven")
            globbed.filter(_ <= cut).toSeq.sorted
        }
    }
  }

  // ------------------------------------------------ generation cutover
  // (the read-side completion of the offline reindex operators: a
  // reindex lands a fresh state directory; the POINTER is what makes
  // "cut searches over" one atomic action instead of a config push to
  // a fleet of readers)

  /** Atomically repoint a reader-addressed ROOT at a new generation's
    * state directory — the cutover step after a `reindex*` landed its
    * fresh directory. The pointer is `<root>/_current/v<N>` (content:
    * the generation's state directory path), created with the same
    * `create(overwrite = false)` version primitive as the compaction
    * manifest: two racing cutovers target the same version number and
    * the loser fails loudly. A flip COMMITS when its version file holds
    * a readable path; a crash mid-write leaves a torn (empty) version
    * that every reader skips — the old generation keeps serving, and
    * the retry simply creates the next version. Readers resolve through
    * [[resolveGeneration]]; roots that never had a cutover pay one
    * `exists` probe.
    *
    * The root stays the stable address forever: a second reindex cuts
    * the SAME root over to generation 3 with one more version file —
    * resolution is always one hop, never a chain.
    */
  def cutoverGeneration(spark: SparkSession, root: String,
      newStateDir: String): Unit = {
    val dir = new Path(s"$root/_current")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(dir)
    // generations nested UNDER the root are stored ROOT-RELATIVE, so a
    // wholesale storage migration (copy the root directory to a new
    // path) carries its pointer — the copied root keeps resolving
    // without an operator rewriting version files. Generations outside
    // the root keep their absolute path (nothing relative to store).
    val rootP = new Path(root).toString
    val newP = new Path(newStateDir).toString
    val stored =
      if (newP.startsWith(rootP + "/")) newP.stripPrefix(rootP + "/")
      else newP
    publishVersion(fs, dir, "v", fs.listStatus(dir).toSeq, stored)
  }

  /** Memoized generation resolutions, keyed by (root, version file
    * name, version file mtime): version files are immutable once their
    * create(overwrite = false) committed, and a new flip always creates
    * the NEXT version file — so a repeat resolve pays one `listStatus`
    * of `_current` and ZERO content reads, while a flip (new file name)
    * or any rewrite (new mtime) misses and re-reads. Torn/dangling
    * versions are never cached: they are skipped negatives that a
    * concurrent writer may still be completing.
    */
  private val generationMemo =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Count of version-file CONTENT reads [[resolveGeneration]] has
    * paid (spec hook: repeat resolutions on an unchanged root must not
    * grow it).
    */
  private[graft] val generationReads =
    new java.util.concurrent.atomic.AtomicLong()

  /** Resolve a reader-addressed root to its CURRENT generation's state
    * directory: the newest COMMITTED `<root>/_current/v<N>` pointer, or
    * the root itself when none exists (a plain state directory — the
    * overwhelmingly common case, one `exists` probe). A version is
    * committed only when its content is non-empty AND the directory it
    * names exists — create+write+close is not atomic on every
    * filesystem, so a crash mid-write can leave a truncated non-empty
    * path; the existence probe keeps such a torn flip from redirecting
    * readers to a nonexistent directory (they fall through to the
    * previous generation, or the root). Relative pointer content
    * resolves against the root ([[cutoverGeneration]] stores nested
    * generations relative, which is what makes a copied root
    * self-contained).
    */
  def resolveGeneration(spark: SparkSession, root: String): String = {
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new Path(s"$root/_current")
    val fs = dir.getFileSystem(conf)
    if (!fs.exists(dir)) root
    else {
      val listing = fs.listStatus(dir).toSeq
      val mtimes = listing.map(st => st.getPath -> st.getModificationTime)
        .toMap
      versionsOf(listing, "v").iterator.flatMap { case (_, p) =>
        val key = new Path(root).toString + "|" + p.getName + "|" +
          mtimes(p)
        Option(generationMemo.get(key)).orElse {
          generationReads.incrementAndGet()
          val txt = readText(fs, p)
          val resolved =
            if (txt.isEmpty) None
            else {
              val p =
                if (txt.startsWith("/") || txt.contains("://"))
                  new Path(txt)
                else new Path(root, txt)
              // the TARGET's filesystem, not the root's: a generation
              // may legally live on another store (s3a:// pointer
              // under an hdfs:// root)
              if (p.getFileSystem(conf).exists(p)) Some(p.toString)
              else None
            }
          resolved.foreach(r => memoPut(generationMemo, key, r))
          resolved
        }
      }.nextOption().getOrElse(root)
    }
  }

  /** Reclaim every generation STRICTLY OLDER than the current pointer —
    * the storage-lifecycle completion of [[cutoverGeneration]]: without
    * it each reindex + flip leaves the superseded generation's full
    * index on disk forever (storage doubles per cutover at 100 TB).
    * Under the ROOT's lease (distinct from the current generation's —
    * live writers on the resolved directory are untouched), it deletes,
    * in this PINNED order:
    *
    *  1. the DATA of superseded generations: every directory an older
    *     committed version file names (and, when the current generation
    *     is not the root itself, the root's own inline generation-0
    *     state — `inlineTables` plus the `_input`/`_deletes`/`_params`
    *     sidecars and the root-level manifest files, keeping the held
    *     lease);
    *  2. the older version FILES.
    *
    * Data-before-pointers is the crash-safe order: the pointers are
    * read FIRST (so no generation directory is ever orphaned
    * unreachable), and a crash between the phases leaves dangling old
    * pointers that [[resolveGeneration]] skips (it serves only
    * versions whose directory exists) — readers stay on the current
    * generation, and a re-run sweeps the remaining files (deletes of
    * already-gone data no-op). A reader that resolved the OLD
    * generation before retirement began fails loudly on its next read
    * — the documented cutover contract, never silent wrong answers.
    * No-op when the root has no committed cutover.
    */
  def retireGenerations(spark: SparkSession, root: String,
      inlineTables: Seq[String]): Unit = withLease(spark, root) {
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new Path(s"$root/_current")
    val fs = dir.getFileSystem(conf)
    if (fs.exists(dir)) {
      val versions = versionsOf(fs.listStatus(dir).toSeq, "v")
      def target(p: Path): Option[Path] = {
        val txt = readText(fs, p)
        if (txt.isEmpty) None
        else Some(
          if (txt.startsWith("/") || txt.contains("://")) new Path(txt)
          else new Path(root, txt))
      }
      // each target probes/deletes through ITS OWN filesystem — a
      // generation may live on a different store than the root
      def tfs(p: Path) = p.getFileSystem(conf)
      val committed = versions.iterator
        .flatMap { case (n, p) =>
          target(p).filter(t => tfs(t).exists(t)).map(n -> _) }
        .nextOption()
      committed.foreach { case (vN, curDir) =>
        val cur = tfs(curDir).makeQualified(curDir)
        val rootQ = fs.makeQualified(new Path(root))
        val older = versions.filter(_._1 < vN)
        // phase 1: superseded generation data
        older.flatMap { case (_, p) => target(p) }
          .map(p => tfs(p).makeQualified(p))
          .filter(p => p != cur && p != rootQ)
          .foreach(p => tfs(p).delete(p, true))
        if (cur != rootQ) {
          val sidecars = Seq("_input", "_deletes", "_params")
          (inlineTables ++ sidecars)
            .map(t => fs.makeQualified(new Path(root, t)))
            .filter(_ != cur)
            .foreach(p => fs.delete(p, true))
          val mdir = new Path(s"$root/_manifest")
          if (fs.exists(mdir)) fs.listStatus(mdir).foreach { st =>
            if (st.getPath.getName != ".lease")
              fs.delete(st.getPath, true)
          }
        }
        // phase 2: the superseded pointer files
        older.foreach { case (_, p) => fs.delete(p, false) }
      }
    }
  }

  // ------------------------------------------------ tombstones & purge
  // (shared by every family that supports deletion: BM25, IVF, image
  // near-dup, SemDeDup, curation — the deletion ledger is its own
  // BatchState root `<stateDir>/_deletes` with its own batch ids and
  // manifest, so the main tables' compaction watermarks can never hide
  // tombstone history)

  private[graft] def deletionRoot(stateDir: String): String =
    s"$stateDir/_deletes"

  /** One `exists` probe instead of per-table `globStatus` + a manifest
    * read on hot read paths — the overwhelmingly common state directory
    * never had a deletion and must stay constant-RPC.
    */
  private[graft] def hasDeletionRoot(spark: SparkSession,
      stateDir: String): Boolean = {
    val p = new Path(deletionRoot(stateDir))
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  private def purgeMarkerPath(stateDir: String): Path =
    new Path(s"${deletionRoot(stateDir)}/.purged_at")

  private def readPurgeMarker(spark: SparkSession,
      stateDir: String): Option[Long] = {
    val p = purgeMarkerPath(stateDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // an empty or non-numeric marker is a purge that crashed between
    // creating and writing it: uncommitted, so healPurge discards it
    // and the tombstones stay live
    if (!fs.exists(p)) None
    else scala.util.Try(readText(fs, p).toLong).toOption
  }

  /** True iff a purge's main-table flip COMMITTED but its deletion-root
    * retirement has not finished — the tombstones are already folded
    * into the merged tables, so a reader must ignore the surviving
    * deletion state. Read ordering is load-bearing: the MAIN manifest
    * version is read BEFORE the marker, while every writer deletes a
    * stale marker BEFORE incrementing the version — so a version ≥ v
    * observation implies any marker still visible is the committed
    * purge's, never a stale one racing a plain compaction.
    */
  private[graft] def purgeCommitted(spark: SparkSession,
      stateDir: String): Boolean = {
    val v = manifestVersion(spark, stateDir)
    readPurgeMarker(spark, stateDir).exists(v >= _)
  }

  /** Record the purge commit arbiter: the main manifest version the
    * imminent transformed compaction will create. Call under both
    * leases, immediately before the compaction.
    */
  private[graft] def writePurgeMarker(spark: SparkSession,
      stateDir: String, version: Long): Unit = {
    val p = purgeMarkerPath(stateDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(version.toString.getBytes("UTF-8"))
    finally out.close()
  }

  /** Finish (or discard) a crashed purge — called by every deletion
    * writer under both leases before it acts: a COMMITTED purge's
    * deletion root is retired (tables, ledger mirrors, marker, stale
    * delete-side manifests — only the caller's lease file survives); an
    * UNCOMMITTED purge's marker is deleted (its flip never happened;
    * the tombstones stay live, and leaving the marker would let an
    * unrelated later compaction reach its version and falsely "commit"
    * a purge whose transform never ran — resurrecting deleted rows).
    */
  private[graft] def healPurge(spark: SparkSession, stateDir: String,
      delTables: Seq[String]): Unit = {
    val marker = purgeMarkerPath(stateDir)
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(marker)) {
      if (purgeCommitted(spark, stateDir)) {
        // retire the WHOLE deletion root (the caller's del lease file
        // included — safe because every deletion-root writer takes the
        // MAIN lease first, which this caller still holds; the lease
        // release in withLease tolerates the already-gone file), so a
        // purged directory goes back to the pristine one-exists-probe
        // fast path on every future read
        fs.delete(new Path(deletionRoot(stateDir)), true)
        // drop the retired root's memoized emptiness verdicts: a NEW
        // deletion life at this path restarts its batch ids at 0, and
        // a stale "(root, [0]) → empty" entry from the old life would
        // make fresh tombstones invisible to every search until a
        // second batch changed the key
        val prefix = new Path(deletionRoot(stateDir)).toString + "|"
        tombstoneEmptiness.keySet.removeIf(_.startsWith(prefix))
      } else {
        fs.delete(marker, false)
      }
    }
  }

  /** Memoized emptiness of the effective tombstone set, keyed by
    * (deletion root, landed deletion batch ids): batch directories are
    * immutable once landed and the landed SET changes on every
    * delete/compaction (new or merged ids), so the cached verdict can
    * never go stale — a new tombstone batch or a delete-ledger
    * compaction produces a new key and re-probes once. Without this, a
    * search-heavy serving path on a tombstoned-but-unpurged index pays
    * one Spark job per QUERY re-counting an id set that has not
    * changed.
    */
  private val tombstoneEmptiness =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

  /** Crude epoch eviction for the planning memos: the maps are
    * correctness-safe at any content (keys embed the state identity
    * they summarize) but grow one entry per state-dir/landed-set/fit
    * seen by the JVM — a bench sweep or a long-lived server would
    * accumulate them forever. Past the cap, start a fresh epoch; the
    * next reads re-fill what is still hot.
    */
  private def memoPut[V](map: java.util.concurrent.ConcurrentHashMap[String, V],
      key: String, value: V): Unit = {
    if (map.size > 8192) map.clear()
    map.put(key, value)
  }

  /** The EFFECTIVE tombstone id set of a state directory: None when the
    * deletion root does not exist, when a committed purge has already
    * folded the tombstones into the merged tables (reading them again
    * would double-apply), when no deletion batch is landed, or when the
    * landed batches hold zero ids (all-no-op deletions) — so every
    * reader's fast path survives empty or retired deletion history.
    * The emptiness probe costs one tiny job on the FIRST read of a
    * given landed deletion set; repeats hit [[tombstoneEmptiness]].
    */
  private[graft] def readTombstones(spark: SparkSession, stateDir: String,
      delTables: Seq[String]): Option[DataFrame] = {
    if (!hasDeletionRoot(spark, stateDir) ||
      purgeCommitted(spark, stateDir)) None
    else {
      val root = deletionRoot(stateDir)
      val landed = landedBatchIds(spark, root, delTables, None)
      readBatches(spark, root, "del_ids", landed).flatMap { df =>
        // the key embeds the landed dirs' FILE IDENTITY (marker
        // mtimes), not just their ids: a purge retires the whole root
        // and a new deletion life restarts at batch 0, so an id-only
        // key could serve one JVM's verdict from a RETIRED life to a
        // reader in another JVM (the in-process healPurge clearing
        // cannot reach it). One globStatus, only on tombstoned roots.
        val glob = new Path(s"$root/del_ids/batch=*/_SUCCESS")
        val sts = glob.getFileSystem(
          spark.sparkContext.hadoopConfiguration).globStatus(glob)
        val ident =
          if (sts == null) ""
          else sts.toSeq.map(st =>
            s"${st.getPath.getParent.getName}:${st.getModificationTime}")
            .sorted.mkString(",")
        // the FULL ident string, never a 32-bit digest of it: on a
        // coarse-mtime store, a purge plus a new deletion life
        // restarting at batch 0 inside one timestamp tick could
        // otherwise collide with the retired life's key and serve its
        // "empty" verdict — fresh tombstones invisible to every search
        val key = new Path(root).toString + "|" + landed.mkString(",") +
          "|" + ident
        val empty = Option(tombstoneEmptiness.get(key))
          .map(_.booleanValue()).getOrElse {
            val e = df.isEmpty
            memoPut(tombstoneEmptiness, key, java.lang.Boolean.valueOf(e))
            e
          }
        if (empty) None else Some(df)
      }
    }
  }

  /** The next tombstone batch id: above everything landed OR promised
    * in the deletion root. Call under the writer leases — an id chosen
    * outside them can be raced to by a concurrent writer, whose
    * idempotency check then silently absorbs the loser's ids.
    */
  private[graft] def nextTombstoneBatchId(spark: SparkSession,
      stateDir: String, delTables: Seq[String]): Long = {
    val root = deletionRoot(stateDir)
    math.max(
      landedBatchIds(spark, root, delTables, None).lastOption
        .getOrElse(-1L),
      maxPromisedEffectiveId(spark, root).getOrElse(-1L)) + 1
  }

  /** True iff every listed table has a committed `batch=k` directory. */
  def allLanded(spark: SparkSession, stateDir: String, tables: Seq[String],
      batchId: Long): Boolean = {
    val fs = new Path(stateDir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    tables.forall(t =>
      fs.exists(new Path(s"$stateDir/$t/batch=$batchId/_SUCCESS")))
  }

  /** Enforce ascending-id ingestion LOUDLY — for operators whose
    * cross-batch work (new∕old edges, frozen codebooks) would silently
    * diverge from the one-shot union if a batch arrived after a later
    * one already landed.
    */
  def requireInOrder(landed: Seq[Long], batchId: Long): Unit =
    require(landed.forall(_ < batchId),
      s"out-of-order ingest: batch $batchId arrived after batch(es) " +
        s"${landed.filter(_ > batchId).mkString(",")} already landed; " +
        "batches must be ingested in ascending id order")

  /** Run independent Spark actions concurrently from a small thread
    * pool and wait for all — the optimization-guide §2.6 shape: a
    * shard's state-table writes are independent jobs reading one
    * persisted frame, and running them sequentially leaves the cluster
    * idle through each job's tail (at bench scale, through each job's
    * fixed commit latency). Crash semantics are unchanged: every write
    * is an idempotent overwrite gated on all-or-nothing `_SUCCESS`
    * visibility, so a failure mid-pool leaves the batch as invisible as
    * a failure mid-sequence; the FIRST failure is rethrown (remaining
    * writes finish or fail on their own — their directories are
    * overwritten by the retry either way). Cached-frame races are safe:
    * the block manager's per-partition locks make concurrent first
    * readers of a persisted frame compute-once.
    *
    * Scope of the crash-semantics claim: it holds when the pooled set
    * alone cannot be misread as a complete (or legacy) batch. A caller
    * that lands an additional table sequentially AFTER the pool must
    * ensure visibility/commit is decided by one of the POST-pool
    * tables — e.g. curation ingest lands `stats` last, after the
    * cluster fold, so a crash mid-pool never leaves an
    * everything-but-clusters shape that readers would take for
    * pre-snapshot legacy state.
    */
  private[graft] def inParallel(tasks: Seq[() => Unit]): Unit =
    if (tasks.size <= 1) tasks.foreach(_())
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(4, tasks.size))
      try {
        val futs = tasks.map(t =>
          pool.submit(new java.util.concurrent.Callable[Unit] {
            def call(): Unit = t()
          }))
        var firstFailure: Option[Throwable] = None
        futs.foreach { f =>
          try f.get()
          catch {
            case e: java.util.concurrent.ExecutionException =>
              if (firstFailure.isEmpty)
                firstFailure = Some(Option(e.getCause).getOrElse(e))
          }
        }
        firstFailure.foreach(throw _)
      } finally pool.shutdown()
    }

  /** Idempotent overwrite of one table's `batch=k` directory. */
  // --------------------------------------------------- bucketed tables
  // (opt-in manual bucketing for the scan-heavy state tables: a
  // `gbkt = pmod(xxhash64(key), n)` PARTITION directory inside every
  // batch dir. Unlike catalog `bucketBy`, the layout is pure paths —
  // no metastore — so it composes with the `batch=k` landing protocol,
  // and any reader that knows the keys it wants prunes to their
  // buckets at PLANNING time (Spark partition pruning on the gbkt
  // column). The win at 100 TB: a deletion's delta derivation scans
  // only the deleted ids' buckets of the postings/cells/bands instead
  // of the whole table — per-batch delta cost tracks the deletion
  // size, not the corpus size.)

  /** The reserved manual-bucket partition column. */
  private[graft] val BucketCol = "gbkt"

  private def bucketExpr(bucketCol: String, n: Int) = {
    import org.apache.spark.sql.functions.{pmod, xxhash64, lit}
    pmod(xxhash64(org.apache.spark.sql.functions.col(bucketCol)
      .cast("string")), lit(n.toLong))
  }

  /** Declare bucketing for a state table — BEFORE its first landed
    * batch (mixed flat/bucketed batch layouts cannot be read
    * together). Recorded in `<stateDir>/<table>/_bucketed`
    * (terminator-committed); every later [[land]] and [[compactState]]
    * writes `batch=k/gbkt=j` partitions, and
    * [[readBatchesPrunedBy]] prunes scans to the buckets of the keys
    * it is given. Re-declaring with the same (column, n) is a no-op;
    * changing either refuses (the stored layout is fixed).
    */
  def setBucketing(spark: SparkSession, stateDir: String, table: String,
      bucketCol: String, nBuckets: Int): Unit = withLease(spark, stateDir) {
    require(nBuckets > 0 && nBuckets <= 65536,
      s"nBuckets in 1..65536, got $nBuckets")
    val conf = spark.sparkContext.hadoopConfiguration
    val marker = new Path(s"$stateDir/$table/_bucketed")
    val fs = marker.getFileSystem(conf)
    bucketingOf(spark, stateDir, table) match {
      case Some((c, n)) =>
        require(c == bucketCol && n == nBuckets,
          s"$stateDir/$table is already bucketed by ($c, $n); the " +
            "stored layout is fixed — reindex into a fresh directory " +
            "to change it")
      case None =>
        val landedAny = fs.globStatus(
          new Path(s"$stateDir/$table/batch=*"))
        require(landedAny == null || landedAny.isEmpty,
          s"$stateDir/$table already holds batch directories; " +
            "bucketing must be declared before the first landed batch")
        fs.mkdirs(marker.getParent)
        // a torn marker (crashed prior declaration) reads as
        // unbucketed; the retry replaces it under the lease
        if (fs.exists(marker)) fs.delete(marker, false)
        val out = fs.create(marker, false)
        try out.write(s"$bucketCol;$nBuckets;".getBytes("UTF-8"))
        finally out.close()
        bucketingsNeg.remove(marker.toString)
    }
  }

  /** The `batch=k` directory name doubles as a partition column when a
    * bucketed table is read with a basePath — stripped on every read so
    * consumers never see it.
    */
  private val BatchPartCol = "batch"

  /** Memoized bucketing declarations. Positive verdicts never go stale
    * (the marker is immutable once written). Negative verdicts are
    * cached too — the hot read path must not pay an `exists` RPC per
    * call — which is safe because bucketing can only be declared while
    * the table has NO landed batches, i.e. before any read that could
    * have cached the negative ([[setBucketing]] clears the in-process
    * entry on declaration).
    */
  private val bucketings =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Int)]()
  private val bucketingsNeg =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private[graft] def bucketingOf(spark: SparkSession, stateDir: String,
      table: String): Option[(String, Int)] = {
    val marker = new Path(s"$stateDir/$table/_bucketed")
    val key = marker.toString
    if (bucketingsNeg.contains(key)) None
    else Option(bucketings.get(key)).orElse {
      val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(marker)) {
        if (bucketingsNeg.size > 8192) bucketingsNeg.clear()
        bucketingsNeg.add(key)
        None
      } else {
        val txt = readText(fs, marker)
        val parts = txt.split(";")
        if (!txt.endsWith(";") || parts.length < 2) None // torn — unbucketed
        else {
          val v = (parts(0), parts(1).toInt)
          memoPut(bucketings, key, v)
          Some(v)
        }
      }
    }
  }

  def land(df: DataFrame, stateDir: String, table: String,
      batchId: Long): Unit =
    bucketingOf(df.sparkSession, stateDir, table) match {
      case Some((c, n)) =>
        df.withColumn(BucketCol, bucketExpr(c, n))
          .repartition(n, org.apache.spark.sql.functions.col(BucketCol))
          .write.mode(SaveMode.Overwrite).partitionBy(BucketCol)
          .parquet(s"$stateDir/$table/batch=$batchId")
      case None =>
        df.write.mode(SaveMode.Overwrite)
          .parquet(s"$stateDir/$table/batch=$batchId")
    }

  /** Memoized parquet schema per (state dir, table): a state table's
    * schema is fixed for the directory's lifetime (the family defines
    * it; `ensureParams` pins everything that could vary), but a bare
    * `spark.read.parquet` re-infers it from footers with one tiny
    * Spark job PER CALL — a search-heavy serving path was paying ~7
    * such jobs per query just to plan. First read infers and caches;
    * every later read passes the schema explicitly (zero jobs).
    * Deleting a state directory and re-ingesting the SAME family at
    * the path re-produces the identical schema, so the memo stays
    * valid; reusing a path for a DIFFERENT family is outside the
    * contract (its reads would fail loudly on missing columns).
    */
  private val tableSchemas = new java.util.concurrent.ConcurrentHashMap[
    String, org.apache.spark.sql.types.StructType]()

  /** Union-read of one table across the given batch ids. Bucketed
    * tables read back WITHOUT the internal `gbkt` partition column, so
    * the layout is invisible to every consumer's schema.
    */
  def readBatches(spark: SparkSession, stateDir: String, table: String,
      ids: Seq[Long]): Option[DataFrame] =
    readBatchesRaw(spark, stateDir, table, ids)
      .map { df =>
        // strip the layout's partition columns ONLY on bucketed tables
        // — an unconditional drop would silently eat a future table's
        // legitimate "batch"/"gbkt" data column
        if (bucketingOf(spark, stateDir, table).isDefined)
          df.drop(BucketCol, BatchPartCol)
        else df
      }

  /** [[readBatches]] KEEPING the partition columns (pruning filters
    * must be placed on them before the drop). Bucketed tables read
    * with `basePath` = the table directory, so one scan relation spans
    * every batch dir's `gbkt=j` partitions (multi-root partition
    * discovery would otherwise refuse); that surfaces `batch` and
    * `gbkt` as partition columns, which every public read strips.
    */
  private def readBatchesRaw(spark: SparkSession, stateDir: String,
      table: String, ids: Seq[Long]): Option[DataFrame] = {
    val paths = ids.map(k => s"$stateDir/$table/batch=$k")
    if (paths.isEmpty) None
    else {
      val key = new Path(s"$stateDir/$table").toString
      def reader = {
        val r = spark.read
        if (bucketingOf(spark, stateDir, table).isDefined)
          r.option("basePath", s"$stateDir/$table")
        else r
      }
      Option(tableSchemas.get(key)) match {
        case Some(schema) =>
          Some(reader.schema(schema).parquet(paths: _*))
        case None =>
          val df = reader.parquet(paths: _*)
          memoPut(tableSchemas, key, df.schema)
          Some(df)
      }
    }
  }

  /** [[readBatches]] pruned to the BUCKETS of the given keys — the
    * deletion-delta fast path: on a bucketed table, the distinct
    * bucket ids of `keys` (at most nBuckets values, usually far fewer
    * for a deletion-sized key set) become a partition-pruning `IN`
    * filter, so the scan reads only the matching `gbkt=j` directories
    * of each batch instead of the whole table. On an unbucketed table
    * this is exactly [[readBatches]]. The caller still joins — pruning
    * narrows the scan, the semi-join keeps exactness.
    */
  private[graft] def readBatchesPrunedBy(spark: SparkSession,
      stateDir: String, table: String, ids: Seq[Long], keys: DataFrame,
      keyCol: String): Option[DataFrame] =
    bucketingOf(spark, stateDir, table) match {
      case Some((_, n)) =>
        readBatchesRaw(spark, stateDir, table, ids).map { df =>
          import org.apache.spark.sql.functions.col
          // bounded by min(|keys|, n) — a deletion-sized driver list
          val buckets = keys
            .select(bucketExpr(keyCol, n).as(BucketCol)).distinct()
            .collect().map(_.getLong(0)).toSeq
          df.where(col(BucketCol).isin(buckets: _*))
            .drop(BucketCol, BatchPartCol)
        }
      case None => readBatches(spark, stateDir, table, ids)
    }

  /** Enforce that every batch of a state directory was ingested under
    * the SAME operator parameters. Cross-batch state is parameter-
    * dependent (band widths on maxDist, prefix indexes on the Jaccard
    * threshold, cell postings on the codebook size): a batch ingested
    * with different knobs would silently join mismatched state and
    * diverge from the one-shot contract without erroring — the same
    * class of hazard the in-order guard closes, so it gets the same
    * loud treatment. First call records the fingerprint (one tiny
    * parquet row under `_params/`); later calls require equality.
    */
  def ensureParams(spark: SparkSession, stateDir: String,
      params: Map[String, String]): Unit = {
    val dir = s"$stateDir/_params"
    val fs = new Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    if (fs.exists(new Path(s"$dir/_SUCCESS"))) {
      val stored = readParams(spark, stateDir)
      // reserved PROVENANCE keys (written by the reindex operators,
      // never passed by ingests — which refit produced this directory
      // and on what sample) are not operator knobs: they must not trip
      // the drift guard; the reindexers check them explicitly
      require(stored -- ReservedParamKeys == params -- ReservedParamKeys,
        s"state at $stateDir was ingested with parameters $stored, " +
          s"but this ingest uses $params; mixed-parameter state would " +
          "silently diverge from the one-shot operator — use a new " +
          "state directory (or re-ingest everything) to change knobs")
    } else {
      import spark.implicits._
      params.toSeq.sortBy(_._1).toDF("k", "v")
        .coalesce(1).write.mode(SaveMode.Overwrite).parquet(dir)
    }
  }

  /** The frozen per-corpus codebook (k-means centroids): fit EXACTLY
    * once per state directory — by whichever batch first finds no
    * committed codebook — and reused by every later batch. Keying the
    * fit decision on the CODEBOOK's own existence (not on whether any
    * batch fully landed) closes a silent-corruption window: a fit
    * batch that crashed after committing its codebook but before its
    * tables must NOT cause the next batch to fit a SECOND codebook —
    * two interleaved codebooks would corrupt every later assignment.
    * If multiple committed codebooks are ever found (a manually mangled
    * state dir), reading throws rather than interleaving.
    */
  def ensureCodebook(spark: SparkSession, stateDir: String, batchId: Long)(
      fit: => Seq[Seq[Double]]): Seq[Seq[Double]] = {
    if (!hasCodebook(spark, stateDir)) {
      import spark.implicits._
      land(fit.zipWithIndex.map { case (cv, ci) => (ci, cv) }
        .toDF("ci", "cv"), stateDir, "centroids", batchId)
    }
    readCodebook(spark, stateDir)
  }

  private[graft] val ReservedParamKeys = Set("generation", "refit_sample")

  /** The recorded operator parameters of a state directory (empty when
    * none were ever recorded).
    */
  def readParams(spark: SparkSession, stateDir: String): Map[String, String] = {
    val dir = s"$stateDir/_params"
    val fs = new Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(s"$dir/_SUCCESS"))) Map.empty
    else spark.read.parquet(dir).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
  }

  def hasCodebook(spark: SparkSession, stateDir: String): Boolean =
    codebookDirs(spark, stateDir).nonEmpty

  private def codebookDirs(spark: SparkSession,
      stateDir: String): Seq[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val glob = new Path(s"$stateDir/centroids/batch=*/_SUCCESS")
    val found = glob.getFileSystem(conf).globStatus(glob)
    if (found == null) Seq.empty
    else found.toSeq.map(_.getPath.getParent.toString).sorted
  }

  /** Memoized codebooks, keyed by the committed codebook's batch
    * directory PLUS a file-status digest of its contents: the codebook
    * is fit once and frozen ([[ensureCodebook]]), but the DOCUMENTED
    * refit-retry flow ("delete the directory to change the sample")
    * can legally recreate the same path with a different fit — the
    * digest (names, lengths, mtimes) makes that a fresh key, so the
    * memo can never serve a deleted directory's codebook. One
    * listStatus per read (constant RPC, zero Spark jobs) replaces the
    * driver-side collect every search was re-paying.
    */
  private val codebooks = new java.util.concurrent.ConcurrentHashMap[
    String, Seq[Seq[Double]]]()

  def readCodebook(spark: SparkSession,
      stateDir: String): Seq[Seq[Double]] = {
    val dirs = codebookDirs(spark, stateDir)
    require(dirs.nonEmpty, s"no committed codebook under $stateDir")
    require(dirs.size == 1,
      s"multiple committed codebooks under $stateDir (${dirs.size}); " +
        "refusing to interleave them — remove all but the fit batch's")
    val dir = new Path(dirs.head)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val digest = fs.listStatus(dir).toSeq
      .map(st => s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}")
      .sorted.mkString(",")
    val key = s"${dir.toString}|${digest.hashCode}"
    Option(codebooks.get(key)).getOrElse {
      val cb = spark.read.parquet(dirs.head)
        .orderBy("ci").collect()
        .map(_.getSeq[Double](1).toSeq).toSeq
      memoPut(codebooks, key, cb)
      cb
    }
  }
}
