package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental (cross-batch) NEAR-DUP state for the two non-lexical
  * modalities — images (perceptual dHash) and embeddings (SemDeDup) —
  * completing the family [[IncrementalCurateOps]] started for text: a
  * corpus that grows by shards, where each new shard is deduplicated
  * against everything ingested so far WITHOUT re-hashing any old
  * shard's bytes or re-assigning any old shard's vectors. The one-shot
  * forms ([[DedupOps.imageNearDupPairs]],
  * [[SimilarityOps.semanticDedup]]) re-decode/re-fit the whole corpus
  * per run — the quadratic-in-history cost this module removes.
  *
  * == Image state (parquet, batch-partitioned: `<table>/batch=<k>/`) ==
  *
  *  - `bands` — (bi, block, id, sh): the Manku block-banding index of
  *              the shard's 64-bit dHashes ([[DedupOps.mankuBands]] —
  *              the one shared definition with the verify engine).
  *              Decode+hash (the dominant cost) runs exactly once per
  *              image, at its own shard's ingest; the fingerprint rides
  *              along so cross-batch verification is a `bit_count(xor)`
  *              on the joined row, and the per-hash view is the bi = 0
  *              slice (no separate fingerprint table). Banding is
  *              content-determined, so stored bands stay valid as the
  *              corpus grows.
  *  - `edges` — (doc_a, doc_b, hamming): verified pairs within the
  *              radius. Old∕old edges never change (Hamming distance is
  *              a function of the two images alone), so each batch
  *              appends only new∕new + new∕old.
  *
  * == Embedding state ==
  *
  *  - `centroids` — (ci, cv): the k-means codebook, fit ONCE on the
  *              first batch and frozen — the published SemDeDup shape
  *              (the codebook comes from a bounded sample; clustering
  *              new data never refits). Landed only under the fit
  *              batch's directory.
  *  - `assign` — (id, cluster, v): each shard's vectors with their
  *              frozen-codebook cell. `v` is retained for cross-batch
  *              cosine verification (dims-bounded, far smaller than
  *              re-reading source embeddings).
  *  - `edges`  — within-cell cosine pairs ≥ threshold, new∕new +
  *              new∕old per batch.
  *  - `clusters` — the non-trivial rows of the corpus-wide component
  *              map after this batch, folded incrementally via
  *              [[DedupOps.foldClusterSnapshot]] — O(new edges) per
  *              batch, never O(edge history).
  *
  * == Exactly-once / ordering ==
  *
  * Same contract as [[IncrementalCurateOps]]: every table for batch k
  * is an idempotent OVERWRITE of its own `batch=k` directory gated on
  * `_SUCCESS` markers (all-or-nothing per batch); a replayed landed
  * batch is a no-op; a crash mid-shard recomputes deterministically
  * from batches < k. Batches must land in ascending id order — a late
  * out-of-order batch would have missed its cross-batch edges against
  * batches that ingested before it, silently diverging from the
  * one-shot union, so out-of-order ingest throws.
  *
  * == Parity contracts (battery-pinned) ==
  *
  *  - images: after ingesting shards S₁…Sₙ, [[imagePairs]] is
  *    row-identical to one-shot `imageNearDupPairs(S₁ ∪ … ∪ Sₙ)` — a
  *    pair lands exactly once, at the batch of its LATER member (m12
  *    shares m11's analytic oracle).
  *  - embeddings: [[semanticDedupView]] is row-identical to one-shot
  *    [[SimilarityOps.semanticDedupAssigned]] over the union with the
  *    codebook fit on shard 1 (n11's oracle replays that fit).
  *
  * == Scale shape ==
  *
  * Per image shard: one decode+hash pass over the shard's bytes, one
  * in-shard banded self-join, one equi-join of the shard's bands
  * against the stored band index on (bi, block) — bucket the state dir
  * by block via `ParquetSink.writeBucketed` to make it exchange-free at
  * 100 TB. Per embedding shard: one broadcast-literal argmin over the
  * shard, one in-shard cell self-join, one equi-join of the shard's
  * assignments against stored assignments on the cell id; the snapshot
  * fold touches this batch's edges only.
  */
object IncrementalDedupOps {

  // ------------------------------------------------------------- shared

  import BatchState.{landedBatchIds, requireInOrder, land, readBatches}

  // ------------------------------------------------------------- images

  private[graft] val ImageTables = Seq("bands", "edges")

  /** Hash one new image shard and land its band-index rows (which
    * carry the fingerprints — the per-hash view is the bi = 0 slice)
    * and the near-dup edges it gains against everything landed before
    * it. Idempotent per (stateDir, batchId); out-of-order ingest and
    * parameter drift throw (see object doc).
    */
  def ingestImageShard(spark: SparkSession, newImgs: DataFrame,
      idCol: String, bytesCol: String, stateDir: String, batchId: Long,
      maxDist: Int = 3): Unit = BatchState.withLease(spark, stateDir) {
    ingestImageShardBody(spark, newImgs, idCol, bytesCol, stateDir,
      batchId, maxDist)
  }

  private def ingestImageShardBody(spark: SparkSession, newImgs: DataFrame,
      idCol: String, bytesCol: String, stateDir: String, batchId: Long,
      maxDist: Int): Unit = {
    if (StateRoot.landedIn(spark, Images, stateDir, batchId)) return
    BatchState.ensureParams(spark, stateDir,
      Map("maxDist" -> maxDist.toString))
    val landed = landedBatchIds(spark, stateDir, ImageTables, None)
    requireInOrder(landed, batchId)

    // decode+hash once per image — every downstream consumer (both
    // landed tables, both edge legs) derives from this frame, so pin it
    // for the duration of the shard's eager writes (the ingestShard
    // owner-release shape). The fingerprints themselves need no
    // separate table: the band index carries (id, sh), and the per-hash
    // view is its bi = 0 slice.
    val sig = newImgs
      .select(col(idCol).as("id"),
        DedupOps.imageDHash(col(bytesCol)).as("sh"))
      .where(col("sh").isNotNull)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // ONE definition of the banding ([[DedupOps.mankuBands]]) serves
      // the stored index and the in-shard verify engine — they cannot
      // desynchronize
      val bands = DedupOps.mankuBands(sig, maxDist)

      // new/new: the in-shard banded self-join (shared verify engine)
      val newNew = DedupOps.hamming64Pairs(sig, maxDist)
      // new/old: shard bands equi-joined against the stored index —
      // old bytes are never re-decoded; a candidate pair agreeing on
      // several blocks surfaces once per agreement, dedup after the
      // cheap Hamming filter (same order as hamming64Pairs)
      val newOld = readBatches(spark, stateDir, "bands", landed) match {
        case Some(old0) =>
          // tombstoned images' stored bands must not mint NEW edges —
          // removed content stays removed ([[StateRoot.delete]])
          val old = BatchState.readTombstones(spark, stateDir,
              DelIdsTables) match {
            case Some(d) => old0.join(d, Seq("id"), "left_anti")
            case None => old0
          }
          bands.select(col("bi"), col("block"),
              col("id").as("new_id"), col("sh").as("sh_n"))
            .join(old.select(col("bi"), col("block"),
              col("id").as("old_id"), col("sh").as("sh_o")),
              Seq("bi", "block"))
            .select(
              least(col("new_id"), col("old_id")).as("doc_a"),
              greatest(col("new_id"), col("old_id")).as("doc_b"),
              bit_count(col("sh_n").bitwiseXOR(col("sh_o"))).as("hamming"))
            .where(col("hamming") <= maxDist)
            .distinct()
        case None => newNew.limit(0)
      }

      // both tables derive from the persisted signature frame and land
      // independently — overlapped ([[BatchState.inParallel]])
      BatchState.inParallel(Seq(
        () => land(bands, stateDir, "bands", batchId),
        () => land(newNew.unionAll(newOld), stateDir, "edges", batchId)))
    } finally sig.unpersist(blocking = false)
  }

  // ---------------------------------------------------- image tombstones

  private[graft] val DelIdsTables = Seq("del_ids")

  /** Every near-dup image pair across all landed batches — the same
    * rows one-shot [[DedupOps.imageNearDupPairs]] produces over the
    * union (each pair landed exactly once, at its later member's
    * batch) minus every pair touching a tombstoned image
    * ([[StateRoot.delete]]). Reads edge state only; no image bytes are
    * touched.
    */
  def imagePairs(spark: SparkSession, stateDir: String): DataFrame = {
    val landed = landedBatchIds(spark, stateDir, ImageTables, None)
    require(landed.nonEmpty, s"no landed batches under $stateDir")
    val edges = readBatches(spark, stateDir, "edges", landed).get
      .select("doc_a", "doc_b", "hamming")
    BatchState.readTombstones(spark, stateDir, DelIdsTables) match {
      case Some(d) => edges
        .join(d.select(col("id").as("doc_a")), Seq("doc_a"), "left_anti")
        .join(d.select(col("id").as("doc_b")), Seq("doc_b"), "left_anti")
        // a USING join moves its key column first — re-pin the shape
        .select("doc_a", "doc_b", "hamming")
      case None => edges
    }
  }

  // --------------------------------------------------------- embeddings

  private val EmbTables = Seq("assign", "edges", "clusters")

  /** Cluster one new embedding shard against the frozen codebook and
    * land its assignments, the near-dup edges it gains (in-shard +
    * against every stored shard), and the folded component snapshot.
    * Whichever batch first finds no committed codebook fits it
    * ([[SimilarityOps.kmeansFit]], k/iters) on its own vectors and
    * freezes it ([[BatchState.ensureCodebook]] — keyed on the
    * codebook's own existence so a crashed fit batch can never cause a
    * second fit); later batches only assign — the published SemDeDup
    * decomposition. Idempotent per (stateDir, batchId); out-of-order
    * ingest and parameter drift throw.
    */
  def ingestEmbeddingShard(spark: SparkSession, newEmb: DataFrame,
      idCol: String, vecCol: String, root: String, batchId: Long,
      k: Int, iters: Int, threshold: Double): Unit = {
    val stateDir = BatchState.resolveGeneration(spark, root)
    BatchState.withLease(spark, stateDir) {
      ingestEmbeddingShardBody(spark, newEmb, idCol, vecCol, stateDir,
        batchId, k, iters, threshold)
    }
  }

  private def ingestEmbeddingShardBody(spark: SparkSession,
      newEmb: DataFrame, idCol: String, vecCol: String, stateDir: String,
      batchId: Long, k: Int, iters: Int, threshold: Double): Unit = {
    if (StateRoot.landedIn(spark, Embeddings, stateDir, batchId)) return
    BatchState.ensureParams(spark, stateDir, Map("k" -> k.toString,
      "iters" -> iters.toString, "threshold" -> threshold.toString))
    val landed = landedBatchIds(spark, stateDir, EmbTables, None)
    requireInOrder(landed, batchId)

    val cents = BatchState.ensureCodebook(spark, stateDir, batchId) {
      SimilarityOps.kmeansFit(newEmb, idCol, vecCol, k, iters)._1
    }

    // one broadcast-literal argmin per row — no fit, no join
    val assign = newEmb
      .select(col(idCol).as("id"),
        SimilarityOps.asDouble(col(vecCol)).as("v"))
      .withColumn("cluster", SimilarityOps.ivfCell(col("v"), cents))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val l = assign.select(col("cluster"), col("id").as("id_a"),
        col("v").as("va"))
      val r = assign.select(col("cluster"), col("id").as("id_b"),
        col("v").as("vb"))
      val newNew = l.join(r, Seq("cluster")).where(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          SimilarityOps.cosine(col("va"), col("vb")).as("cos"))
        .where(col("cos") >= threshold)
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
      val newOld = readBatches(spark, stateDir, "assign", landed) match {
        case Some(old0) =>
          // tombstoned vectors' stored assignments must not mint NEW
          // edges or merge components ([[StateRoot.delete]])
          val old = BatchState.readTombstones(spark, stateDir,
              DelIdsTables) match {
            case Some(d) => old0.join(d, Seq("id"), "left_anti")
            case None => old0
          }
          assign.select(col("cluster"), col("id").as("new_id"),
              col("v").as("va"))
            .join(old.select(col("cluster"), col("id").as("old_id"),
              col("v").as("vb")), Seq("cluster"))
            .where(SimilarityOps.cosine(col("va"), col("vb")) >= threshold)
            .select(least(col("new_id"), col("old_id")).as("doc_a"),
              greatest(col("new_id"), col("old_id")).as("doc_b"))
        case None => newNew.limit(0)
      }

      // assignments and edges land independently — overlapped
      // ([[BatchState.inParallel]]); the cluster fold below reads the
      // landed edges back, so it stays sequential
      BatchState.inParallel(Seq(
        () => land(assign, stateDir, "assign", batchId),
        () => land(newNew.unionAll(newOld), stateDir, "edges", batchId)))

      val edgesK = spark.read.parquet(s"$stateDir/edges/batch=$batchId")
      val prevSnap = landed.lastOption
        .map(kk => spark.read.parquet(s"$stateDir/clusters/batch=$kk"))
      land(DedupOps.foldClusterSnapshot(prevSnap,
        assign.select(col("id").as("doc_id")), edgesK),
        stateDir, "clusters", batchId)
    } finally assign.unpersist(blocking = false)
  }

  /** Offline codebook REFIT + state-only reindex for the SemDeDup
    * family — the escape hatch from the frozen-codebook contract when
    * the embedding distribution drifts: refit the k-means codebook on a
    * deterministic hash-sample of the STORED vectors (the `assign`
    * table carries them — source embeddings are never re-read),
    * re-assign everything, recompute the within-cell cosine edges over
    * the union (cells changed, so the candidate set did too), fold one
    * fresh component snapshot, and land it all as batch 0 of a FRESH
    * `newStateDir` whose params record the bumped `generation`. Cut
    * readers over, resume [[ingestEmbeddingShard]] on top, retire the
    * old directory.
    *
    * With `sampleFraction` = 1 the result is row-identical to a fresh
    * one-shot ingest of all stored vectors (equality-spec'd); a sampled
    * refit bounds the fit cost at 100 TB while the edge recompute stays
    * one within-cell self-join — the same shape as the one-shot
    * operator, paid once per refit instead of never being available.
    */
  def reindexEmbeddings(spark: SparkSession, oldRoot: String,
      newStateDir: String, k: Int, iters: Int, threshold: Double,
      sampleFraction: Double = 1.0): Unit = {
    val oldStateDir = BatchState.resolveGeneration(spark, oldRoot)
    BatchState.withLease(spark, oldStateDir) {
      BatchState.withLease(spark, newStateDir) {
        require(sampleFraction > 0 && sampleFraction <= 1.0,
          s"sampleFraction in (0, 1], got $sampleFraction")
        val landedOld = landedBatchIds(spark, oldStateDir, EmbTables, None)
        require(landedOld.nonEmpty, s"no landed batches under $oldStateDir")
        // FRESH means no landed batches — a codebook/params remnant of a
        // CRASHED prior reindex is retry-safe (deterministic fit over
        // the same stored vectors), if the retry's sample matches
        require(landedBatchIds(spark, newStateDir, EmbTables, None).isEmpty,
          s"$newStateDir already holds landed batches; reindex lands " +
            "into a FRESH directory so readers cut over atomically")
        val prior = BatchState.readParams(spark, newStateDir)
        require(prior.get("refit_sample")
            .forall(_ == sampleFraction.toString),
          s"$newStateDir holds a crashed prior reindex fit on " +
            s"sampleFraction ${prior.get("refit_sample").get}, but this " +
            s"retry uses $sampleFraction — its committed codebook would " +
            "be silently reused; delete the directory to change the " +
            "sample")
        // survivors only: re-assigning tombstoned vectors would
        // resurrect them into the new generation (which starts with a
        // clean, empty deletion root)
        val allStored = readBatches(spark, oldStateDir, "assign",
          landedOld).get.select(col("id"), col("v"))
        val stored = BatchState.readTombstones(spark, oldStateDir,
            DelIdsTables) match {
          case Some(d) => allStored.join(d, Seq("id"), "left_anti")
          case None => allStored
        }
        val fitSet =
          if (sampleFraction >= 1.0) stored
          else stored.where(
            pmod(abs(xxhash64(col("id").cast("string"))), lit(1000000L))
              < lit(math.round(sampleFraction * 1000000L)))
        val generation = BatchState.readParams(spark, oldStateDir)
          .get("generation").map(_.toLong).getOrElse(0L) + 1
        BatchState.ensureParams(spark, newStateDir, Map(
          "k" -> k.toString, "iters" -> iters.toString,
          "threshold" -> threshold.toString,
          "generation" -> generation.toString,
          "refit_sample" -> sampleFraction.toString))
        val cents = BatchState.ensureCodebook(spark, newStateDir, 0L) {
          SimilarityOps.kmeansFit(fitSet, "id", "v", k, iters)._1
        }
        val assign = stored
          .withColumn("cluster", SimilarityOps.ivfCell(col("v"), cents))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val l = assign.select(col("cluster"), col("id").as("id_a"),
            col("v").as("va"))
          val r = assign.select(col("cluster"), col("id").as("id_b"),
            col("v").as("vb"))
          val edges = l.join(r, Seq("cluster"))
            .where(col("id_a") < col("id_b"))
            .where(SimilarityOps.cosine(col("va"), col("vb")) >= threshold)
            .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
          land(assign, newStateDir, "assign", 0L)
          land(edges, newStateDir, "edges", 0L)
          val edges0 =
            spark.read.parquet(s"$newStateDir/edges/batch=0")
          land(DedupOps.foldClusterSnapshot(None,
            assign.select(col("id").as("doc_id")), edges0),
            newStateDir, "clusters", 0L)
        } finally assign.unpersist(blocking = false)
      }
    }
  }

  /** The SemDeDup view after every landed batch — one row per vector,
    * (idCol, cluster, rep), row-identical to one-shot
    * [[SimilarityOps.semanticDedupAssigned]] over the union with the
    * frozen codebook. Reads assignment metadata + the LATEST snapshot
    * only (column pruning drops `v`); no CC runs here — the map was
    * folded at each ingest.
    */
  def semanticDedupView(spark: SparkSession, root: String,
      idCol: String): DataFrame =
    semanticDedupView(spark, root, idCol, None)

  /** [[semanticDedupView]] AS OF a batch id — the audit cut for the
    * SemDeDup family: assignments and the component snapshot of the
    * cut alone (the snapshot at the cut's newest batch IS the
    * historical fold, by the in-order contract). Deletions follow the
    * CURATION as-of contract, not the search families': they are pure
    * id removals (takedown-shaped — no statistics to cut), and a
    * compliance removal must hold in every view, historical included —
    * so the full tombstone set applies at every cut, with reps
    * re-elected among the cut's survivors.
    */
  def semanticDedupView(spark: SparkSession, root: String,
      idCol: String, asOfBatch: Option[Long]): DataFrame = {
    val stateDir = BatchState.resolveGeneration(spark, root)
    val landed = asOfBatch match {
      case Some(c) =>
        BatchState.landedBatchIdsAsOf(spark, stateDir, EmbTables, c)
      case None => landedBatchIds(spark, stateDir, EmbTables, None)
    }
    require(landed.nonEmpty,
      s"no landed batches under $stateDir" + asOfBatch.map(b =>
        s" at or below batch $b (compaction may have folded the " +
          "history you are asking for)").getOrElse(""))
    val assign = readBatches(spark, stateDir, "assign", landed).get
      .select("id", "cluster")
    val snap = spark.read
      .parquet(s"$stateDir/clusters/batch=${landed.max}")
      .select(col("doc_id").as("id"), col("cluster").as("rep0"))
    BatchState.readTombstones(spark, stateDir, DelIdsTables) match {
      case None =>
        assign.join(snap, Seq("id"), "left")
          .select(col("id").as(idCol), col("cluster"),
            coalesce(col("rep0"), col("id")).as("rep"))
      case Some(d) =>
        // takedown semantics ([[StateRoot.delete]]): deleted vectors
        // leave the view, components never split (the historical comp
        // label — the pre-deletion min — keys the group even when that
        // member is gone), and each component re-elects its smallest
        // SURVIVING member as rep
        val live = assign.join(d, Seq("id"), "left_anti")
          .join(snap, Seq("id"), "left")
          .select(col("id"), col("cluster"),
            coalesce(col("rep0"), col("id")).as("comp"))
        val reps = live.groupBy(col("comp"))
          .agg(min(col("id")).as("rep"))
        live.join(reps, Seq("comp"))
          .select(col("id").as(idCol), col("cluster"), col("rep"))
    }
  }

  // -------------------------------------------------- lifecycle families

  import StateFamily.{RetainHistory, RetireGenerations}

  /** The image near-dup family's [[StateRoot]] declaration: band index
    * and edges are additive facts; purge drops the deleted ids' band
    * rows and every edge touching them. Near-dup pairs are PAIRWISE
    * facts, so deletion is exact: [[imagePairs]] after deleting `d` is
    * row-identical to one-shot [[DedupOps.imageNearDupPairs]] over the
    * union minus `d`, and later [[ingestImageShard]]s stop matching the
    * deleted images' stored bands.
    */
  val Images: StateFamily = StateFamily("image",
    additiveTables = ImageTables, delTables = DelIdsTables,
    liveIds = "bands" -> "id", bucketColumns = Seq("bands" -> "id"),
    purgeFold = Some { (_, _, deleted) =>
      val t: (String, DataFrame) => DataFrame = {
        case ("bands", df) => df.join(deleted, Seq("id"), "left_anti")
        case ("edges", df) => df
          .join(deleted.select(col("id").as("doc_a")), Seq("doc_a"),
            "left_anti")
          .join(deleted.select(col("id").as("doc_b")), Seq("doc_b"),
            "left_anti")
          .select("doc_a", "doc_b", "hamming") // USING moved keys
        case (_, df) => df
      }
      t
    })

  /** The SemDeDup family's [[StateRoot]] declaration: assignments and
    * edges concatenate under compaction, the component map keeps its
    * newest snapshot, the frozen codebook is untouched (and part of
    * each generation's inline state). Purge anti-joins the tombstones
    * out of assignments and edges and rewrites the component SNAPSHOT
    * with each component's re-elected surviving representative, so the
    * purged directory is self-contained: the plain [[semanticDedupView]]
    * path reproduces exactly the tombstoned view. Component structure
    * is history, so deletion is takedown-shaped, not a re-clustering:
    * deleted vectors leave the view, clusters never split, a deleted
    * representative re-elects the smallest survivor, and later
    * [[ingestEmbeddingShard]]s stop matching the deleted vectors.
    */
  val Embeddings: StateFamily = StateFamily("embedding",
    additiveTables = Seq("assign", "edges"), delTables = DelIdsTables,
    liveIds = "assign" -> "id", snapshotTables = Seq("clusters"),
    generationTables = Seq("centroids"),
    purgeFold = Some { (spark, stateDir, deleted) =>
      val landed = landedBatchIds(spark, stateDir, EmbTables, None)
      val t: (String, DataFrame) => DataFrame = {
        case ("assign", df) => df.join(deleted, Seq("id"), "left_anti")
        case ("edges", df) => df
          .join(deleted.select(col("id").as("doc_a")), Seq("doc_a"),
            "left_anti")
          .join(deleted.select(col("id").as("doc_b")), Seq("doc_b"),
            "left_anti")
          .select("doc_a", "doc_b") // USING moved the key first
        case ("clusters", snap) =>
          // survivors keyed by their HISTORICAL component label,
          // re-elected min — non-trivial rows only, exactly the
          // shape the plain view path reads
          val live = readBatches(spark, stateDir, "assign", landed)
            .get.select(col("id"))
            .join(deleted, Seq("id"), "left_anti")
            .join(snap.select(col("doc_id").as("id"),
              col("cluster").as("rep0")), Seq("id"), "left")
            .select(col("id"),
              coalesce(col("rep0"), col("id")).as("comp"))
          val reps = live.groupBy(col("comp"))
            .agg(min(col("id")).as("rep"))
          live.join(reps, Seq("comp"))
            .where(col("rep") =!= col("id"))
            .select(col("id").as("doc_id"), col("rep").as("cluster"))
        case (_, df) => df
      }
      t
    },
    needsCodebook = true,
    verbs = Set(RetainHistory, RetireGenerations))
}
