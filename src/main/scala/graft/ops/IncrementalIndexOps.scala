package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental (cross-batch) SEARCH-INDEX state — the index-maintenance
  * counterpart of the incremental dedup family: a corpus that grows by
  * shards, where searching never re-tokenizes a document or re-assigns
  * a vector that an earlier shard already processed. The one-shot
  * operators ([[RetrievalOps.bm25TopK]], [[SimilarityOps.ivfTopK]])
  * rebuild their index on every call — the per-query
  * O(corpus-tokenize/assign) cost this module moves to ingest time,
  * paid once per shard.
  *
  * == BM25 state (parquet, batch-partitioned: `<table>/batch=<k>/`) ==
  *
  *  - `postings` — (id, token, tf): the shard's inverted-index rows.
  *  - `doclen`   — (id, dl).
  *  - `tokstats` — (token, df): the shard's document frequencies.
  *  - `globals`  — ONE row (n_docs, totlen).
  *
  * Every BM25 statistic is ADDITIVE over disjoint doc sets: corpus df
  * is the sum of per-batch dfs, (N, totlen) the sums of the per-batch
  * globals — so [[bm25Search]] re-aggregates vocabulary-sized /
  * 1-row-sized state and union-reads postings, never text. Because no
  * state row depends on any other batch, BM25 ingestion has NO
  * ordering precondition — shards may land in any order and even
  * concurrently (distinct batch dirs), unlike the edge-producing
  * operators.
  *
  * == IVF state ==
  *
  *  - `centroids` — (ci, cv): the coarse quantizer, k-means-fit ONCE on
  *    the first batch and frozen (the [[IncrementalDedupOps]] codebook
  *    contract — production IVF never refits per insert; it re-trains
  *    offline and reindexes). Landed only under the fit batch.
  *  - `cells` — (cell, cid, cv): each shard's vectors under their
  *    frozen-codebook cell. Bucket by `cell` via
  *    `ParquetSink.writeBucketed` at 100 TB to make the probe join
  *    exchange-free on the corpus side.
  *
  * IVF ingestion requires ascending batch order (the fit batch must be
  * first; a batch landing before it would have no codebook to assign
  * against) — out-of-order ingest throws.
  *
  * == Exactly-once ==
  *
  * Same contract as the rest of the family ([[BatchState]]): idempotent
  * OVERWRITE of `batch=k` gated on all-or-nothing `_SUCCESS` markers;
  * replay of a landed batch is a no-op; a crash mid-shard recomputes
  * deterministically.
  *
  * == Parity contracts (battery-pinned) ==
  *
  *  - [[bm25Search]] after ingesting S₁…Sₙ ≡ one-shot
  *    `bm25TopK(S₁ ∪ … ∪ Sₙ, queries)` row-for-row (x36 shares x30's
  *    oracle) — integer-exact scoring makes this hash-equality, not
  *    approximate parity.
  *  - [[ivfSearch]] ≡ one-shot `ivfTopK` over the union with the
  *    codebook fit on shard 1 (n12's oracle replays the fit with the
  *    generalized k-means CTE chain and the probe ranking).
  *
  * == Scale shape ==
  *
  * Per text shard: one tokenize pass, three shard-local aggregates.
  * Per search: query terms equi-join the accumulated postings ON TOKEN
  * (bounded by the query terms' postings lists, never corpus × queries)
  * — identical to the one-shot plan minus the index build. Per vector
  * shard: one broadcast-literal argmin. Per vector search: probes
  * equi-join the accumulated cells ON CELL — candidates are
  * (nProbe/nCells)·corpus, never corpus × queries.
  */
object IncrementalIndexOps {

  import BatchState.{landedBatchIds, requireInOrder, land, readBatches}

  // ------------------------------------------------------------- BM25

  private[graft] val Bm25Tables =
    Seq("postings", "doclen", "tokstats", "globals")

  /** Tokenize one new document shard into the inverted-index state.
    * Idempotent per (stateDir, batchId); order-free (see object doc).
    */
  def ingestTextShard(spark: SparkSession, docs: DataFrame, idCol: String,
      textCol: String, root: String, batchId: Long): Unit = {
    val stateDir = BatchState.resolveGeneration(spark, root)
    BatchState.withLease(spark, stateDir) {
      ingestTextShardBody(spark, docs, idCol, textCol, stateDir, batchId)
    }
  }

  private def ingestTextShardBody(spark: SparkSession, docs: DataFrame,
      idCol: String, textCol: String, stateDir: String,
      batchId: Long): Unit = {
    if (StateRoot.landedIn(spark, Bm25, stateDir, batchId)) return
    val postings = docs
      .select(col(idCol).as("id"),
        explode(TextOps.tokens(col(textCol))).as("token"))
      .groupBy(col("id"), col("token")).agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val docLen = postings.groupBy(col("id")).agg(sum(col("tf")).as("dl"))
      // all four state tables derive from the one persisted frame and
      // land independently — overlapped ([[BatchState.inParallel]])
      BatchState.inParallel(Seq(
        () => land(postings, stateDir, "postings", batchId),
        () => land(docLen, stateDir, "doclen", batchId),
        () => land(postings.groupBy(col("token")).agg(count(lit(1)).as("df")),
          stateDir, "tokstats", batchId),
        () => land(docLen.agg(count(lit(1)).as("n_docs"),
          sum(col("dl")).as("totlen")), stateDir, "globals", batchId)))
    } finally postings.unpersist(blocking = false)
  }

  // ---- tombstones: the deletion ledger lives under its own BatchState
  // root (`<stateDir>/_deletes`) so its batch ids and compaction
  // manifest never interfere with the ingest tables' — one shared
  // manifest would let a postings compaction watermark silently hide
  // the deletion history (or vice versa)

  private[graft] val DelTables =
    Seq("del_ids", "del_tokstats", "del_globals")

  /** BM25 top-k over the accumulated index — row-identical to
    * [[RetrievalOps.bm25TopK]] on the union of every ingested shard
    * MINUS every tombstoned document (same integer-rational scoring,
    * same tie-break), with the index build amortized away: df and the
    * (N, totlen) pair are ONE re-aggregate of vocabulary-sized /
    * single-row state (deletion deltas sum right in), candidates one
    * equi-join of query terms against the accumulated postings
    * anti-joined by the tombstone set (deleted-id-count-sized — tiny
    * next to the postings it filters).
    */
  def bm25Search(spark: SparkSession, root: String, queries: DataFrame,
      qidCol: String, qtextCol: String, k: Int = 10): DataFrame =
    bm25Search(spark, root, queries, qidCol, qtextCol, k, None)

  /** [[bm25Search]] AS OF a batch id: the index as it stood when
    * `asOfBatch` was the newest landed batch — the audit/debug verb
    * ("what did this query return before shard N landed?"). Only
    * batches with id ≤ `asOfBatch` participate, statistics included,
    * so the result is row-identical to a search taken at that moment.
    *
    * Honest bounds, loudly enforced: history exists only until
    * compaction folds it (a merged batch is one id — asking for a cut
    * below the watermark throws via the emptiness require) unless a
    * history floor retains it ([[StateRoot.retainHistory]] — folded cuts
    * then resolve through the pre-fold manifests). Tombstoned
    * directories serve ALIGNED cuts only: each deletion batch records
    * the max main batch id its delta was derived against (`ceiling`),
    * and a cut at or above every landed ceiling is consistent with
    * the interleaved (ingest, delete) ledger order — the deltas only
    * touch batches inside the cut. A cut below any ceiling refuses
    * (applying those deltas would corrupt df/globals): purge first,
    * or pick an aligned cut.
    */
  def bm25Search(spark: SparkSession, root: String, queries: DataFrame,
      qidCol: String, qtextCol: String, k: Int,
      asOfBatch: Option[Long]): DataFrame = {
    require(k >= 1 && k <= 1000, s"k in 1..1000, got $k")
    val stateDir = BatchState.resolveGeneration(spark, root)
    val delRoot = BatchState.deletionRoot(stateDir)
    val delLanded =
      if (!BatchState.hasDeletionRoot(spark, stateDir)) Seq.empty[Long]
      // a committed-but-unretired purge already folded every delta into
      // the merged tables — the surviving tombstones must NOT re-apply
      else if (BatchState.purgeCommitted(spark, stateDir)) Seq.empty[Long]
      else landedBatchIds(spark, delRoot, DelTables, None)
    asOfBatch.foreach { c =>
      // tombstone deltas are derived against the postings AT DELETE
      // TIME, so an arbitrary cut cannot apply them consistently — but
      // a cut at or above EVERY landed deletion's recorded ceiling (the
      // max main batch id its delta referenced) IS consistent with the
      // interleaved (ingest, delete) ledger order: every delta touches
      // only batches inside the cut. Aligned cuts serve; others refuse.
      // (delLanded is shared with the search body below; readTombstones
      // supplies the memoized effective-emptiness verdict, so an
      // all-no-op deletion history never refuses a cut.)
      if (delLanded.nonEmpty &&
          BatchState.readTombstones(spark, stateDir, DelTables).nonEmpty) {
        val g = readBatches(spark, delRoot, "del_globals", delLanded).get
        val maxCeil =
          if (!g.columns.contains("ceiling")) Long.MaxValue
          else {
            val r = g.agg(max(col("ceiling"))).head
            if (r.isNullAt(0)) Long.MinValue else r.getLong(0)
          }
        require(maxCeil <= c,
          s"$stateDir holds live tombstones derived against batches " +
            s"up to $maxCeil — cut $c is not aligned with the " +
            "interleaved ingest/delete order; cut at or above every " +
            "deletion's ceiling, or purge first")
      }
    }
    val landed = asOfBatch match {
      case Some(c) =>
        BatchState.landedBatchIdsAsOf(spark, stateDir, Bm25Tables, c)
      case None => landedBatchIds(spark, stateDir, Bm25Tables, None)
    }
    require(landed.nonEmpty,
      s"no landed batches under $stateDir" + asOfBatch.map(b =>
        s" at or below batch $b (compaction may have folded the " +
          "history you are asking for)").getOrElse(""))
    val deleted = readBatches(spark, delRoot, "del_ids", delLanded)
    def live(df: DataFrame): DataFrame = deleted match {
      case Some(d) => df.join(d, Seq("id"), "left_anti")
      case None => df
    }
    val postings = live(readBatches(spark, stateDir, "postings", landed).get)
    val docLen = live(readBatches(spark, stateDir, "doclen", landed).get)
    val withDl = postings.join(docLen, Seq("id"))
    // df adds across disjoint batches, deletion deltas subtract; a
    // token whose postings are all tombstoned sums to 0 and drops —
    // the exact dfTab a from-scratch build over the survivors produces
    val tokAll = readBatches(spark, stateDir, "tokstats", landed).get
    val dfTab = (readBatches(spark, delRoot, "del_tokstats", delLanded) match {
      case Some(d) => tokAll.unionAll(d)
      case None => tokAll
    }).groupBy(col("token")).agg(sum(col("df")).as("df"))
      .where(col("df") > 0)
    val globAll = readBatches(spark, stateDir, "globals", landed).get
    val globals = (readBatches(spark, delRoot, "del_globals", delLanded) match {
      // project: the delta rows also carry the alignment `ceiling`
      case Some(d) => globAll.unionAll(d.select("n_docs", "totlen"))
      case None => globAll
    }).agg(sum(col("n_docs")).as("n_docs"), sum(col("totlen")).as("totlen"))
    // the SAME scoring tail as the one-shot build — parity by shared
    // code, not by a copy that can drift
    RetrievalOps.rankCandidates(withDl, dfTab, globals, queries,
      "id", qidCol, qtextCol, k)
  }

  // -------------------------------------------------------------- IVF

  private[graft] val IvfTables = Seq("cells")

  /** Assign one new vector shard under the frozen codebook and land its
    * cell postings. Whichever batch first finds no committed codebook
    * fits it ([[SimilarityOps.kmeansFit]], nCells/iters) on its own
    * vectors and freezes it ([[BatchState.ensureCodebook]]).
    * Idempotent per (stateDir, batchId); out-of-order ingest and
    * parameter drift throw.
    */
  def ingestVectorShard(spark: SparkSession, emb: DataFrame, idCol: String,
      vecCol: String, root: String, batchId: Long,
      nCells: Int, iters: Int): Unit = {
    val stateDir = BatchState.resolveGeneration(spark, root)
    BatchState.withLease(spark, stateDir) {
      ingestVectorShardBody(spark, emb, idCol, vecCol, stateDir, batchId,
        nCells, iters)
    }
  }

  private def ingestVectorShardBody(spark: SparkSession, emb: DataFrame,
      idCol: String, vecCol: String, stateDir: String, batchId: Long,
      nCells: Int, iters: Int): Unit = {
    if (StateRoot.landedIn(spark, Ivf, stateDir, batchId)) return
    BatchState.ensureParams(spark, stateDir,
      Map("nCells" -> nCells.toString, "iters" -> iters.toString))
    val landed = landedBatchIds(spark, stateDir, IvfTables, None)
    requireInOrder(landed, batchId)
    val cents = BatchState.ensureCodebook(spark, stateDir, batchId) {
      SimilarityOps.kmeansFit(emb, idCol, vecCol, nCells, iters)._1
    }
    land(emb.select(col(idCol).as("cid"),
        SimilarityOps.asDouble(col(vecCol)).as("cv"))
      .withColumn("cell", SimilarityOps.ivfCell(col("cv"), cents))
      .select(col("cell"), col("cid"), col("cv")),
      stateDir, "cells", batchId)
  }

  // IVF deletions carry no statistics (search is pure candidate
  // ranking), so the tombstone root holds only the id set
  private[graft] val VecDelTables = Seq("del_ids")

  /** Offline codebook REFIT + state-only reindex — the operator the
    * frozen-codebook contract points at when the embedding distribution
    * drifts ("production IVF re-trains offline and reindexes"): refit
    * the coarse quantizer on a deterministic hash-sample of the STORED
    * vectors and re-assign every stored vector under the new codebook,
    * landing the result as batch 0 of a FRESH `newStateDir` whose
    * params record the bumped `generation`. Source embeddings are never
    * re-read — the state's `cells` table carries the vectors, so the
    * cost is one scan of the index itself (at `sampleFraction` < 1 the
    * k-means fit sees only the hash-selected subset; the re-assignment
    * always covers everything). The old directory is untouched: cut
    * searches over to `newStateDir`, resume [[ingestVectorShard]] on
    * top of it (batch ids restart above 0), and retire the old one.
    *
    * With `sampleFraction` = 1 the new index is row-identical to a
    * fresh ingest of all stored vectors under a from-scratch fit
    * (equality-spec'd); a sampled refit is the 100 TB path — the fit
    * cost is bounded while assignment stays exact.
    */
  def reindexVectors(spark: SparkSession, oldRoot: String,
      newStateDir: String, nCells: Int, iters: Int,
      sampleFraction: Double = 1.0): Unit = {
    val oldStateDir = BatchState.resolveGeneration(spark, oldRoot)
    BatchState.withLease(spark, oldStateDir) {
      BatchState.withLease(spark, newStateDir) {
        require(sampleFraction > 0 && sampleFraction <= 1.0,
          s"sampleFraction in (0, 1], got $sampleFraction")
        val landedOld = landedBatchIds(spark, oldStateDir, IvfTables, None)
        require(landedOld.nonEmpty, s"no landed batches under $oldStateDir")
        // FRESH means no landed batches — a codebook/params remnant of a
        // CRASHED prior reindex is fine to retry over (the fit is
        // deterministic on the same stored vectors, so the committed
        // codebook is the one this run would produce), as long as the
        // retry's sample matches the one that fit it
        require(landedBatchIds(spark, newStateDir, IvfTables, None).isEmpty,
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
        // survivors only: a reindex that re-assigned tombstoned vectors
        // would resurrect them into the new generation (which starts
        // with a clean, empty deletion root)
        val allStored = readBatches(spark, oldStateDir, "cells", landedOld)
          .get.select(col("cid"), col("cv"))
        val stored = BatchState.readTombstones(spark, oldStateDir,
            VecDelTables) match {
          case Some(d) => allStored.join(d.select(col("id").as("cid")),
            Seq("cid"), "left_anti")
          case None => allStored
        }
        val fitSet =
          if (sampleFraction >= 1.0) stored
          else stored.where(
            pmod(abs(xxhash64(col("cid").cast("string"))), lit(1000000L))
              < lit(math.round(sampleFraction * 1000000L)))
        val generation = BatchState.readParams(spark, oldStateDir)
          .get("generation").map(_.toLong).getOrElse(0L) + 1
        BatchState.ensureParams(spark, newStateDir, Map(
          "nCells" -> nCells.toString, "iters" -> iters.toString,
          "generation" -> generation.toString,
          "refit_sample" -> sampleFraction.toString))
        val cents = BatchState.ensureCodebook(spark, newStateDir, 0L) {
          SimilarityOps.kmeansFit(fitSet, "cid", "cv", nCells, iters)._1
        }
        land(stored
          .withColumn("cell", SimilarityOps.ivfCell(col("cv"), cents))
          .select(col("cell"), col("cid"), col("cv")),
          newStateDir, "cells", 0L)
      }
    }
  }

  /** IVF top-k over the accumulated index — row-identical to
    * [[SimilarityOps.ivfTopK]] on the union with the frozen codebook:
    * each query probes its `nProbe` nearest cells (broadcast-literal
    * distances), candidates are one equi-join against the accumulated
    * cell postings, exact cosine ranks them.
    */
  def ivfSearch(spark: SparkSession, root: String, queries: DataFrame,
      nProbe: Int, k: Int): DataFrame =
    ivfSearch(spark, root, queries, nProbe, k, None)

  /** [[ivfSearch]] AS OF a batch id — same contract as the BM25 twin:
    * only cells with batch id ≤ `asOfBatch` are candidates (the frozen
    * codebook is outside batch visibility and serves every cut),
    * history lives until compaction folds it, and live tombstones
    * refuse the cut (purge first).
    */
  def ivfSearch(spark: SparkSession, root: String, queries: DataFrame,
      nProbe: Int, k: Int, asOfBatch: Option[Long]): DataFrame = {
    val stateDir = BatchState.resolveGeneration(spark, root)
    asOfBatch.foreach { _ =>
      require(BatchState.readTombstones(spark, stateDir,
        VecDelTables).isEmpty,
        s"$stateDir holds live tombstones; as-of reads cannot cut " +
          "deletion history consistently — purge first")
    }
    val landed = asOfBatch match {
      case Some(c) =>
        BatchState.landedBatchIdsAsOf(spark, stateDir, IvfTables, c)
      case None => landedBatchIds(spark, stateDir, IvfTables, None)
    }
    require(landed.nonEmpty,
      s"no landed batches under $stateDir" + asOfBatch.map(b =>
        s" at or below batch $b (compaction may have folded the " +
          "history you are asking for)").getOrElse(""))
    val cents = BatchState.readCodebook(spark, stateDir)
    val allCells = readBatches(spark, stateDir, "cells", landed).get
    // tombstones ([[StateRoot.delete]]): anti-join the effective set (None
    // when absent, all-no-op, or already folded by a committed purge)
    val cells = BatchState.readTombstones(spark, stateDir,
        VecDelTables) match {
      case Some(d) => allCells.join(d.select(col("id").as("cid")),
        Seq("cid"), "left_anti")
      case None => allCells
    }
    val q = queries.withColumn("cell",
      explode(SimilarityOps.ivfProbes(col("qv"), cents, nProbe)))
    val scored = q.join(cells, Seq("cell"))
      .where(col("cid") =!= col("qid"))
      .select(col("qid"), col("cid"),
        SimilarityOps.cosine(col("qv"), col("cv")).as("cos"))
      .dropDuplicates("qid", "cid")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))
    scored.withColumn("rnk", row_number().over(w)).where(col("rnk") <= k)
  }

  // -------------------------------------------------- lifecycle families

  import StateFamily.{Describe, Expire, RetainHistory, RetireGenerations}

  /** The BM25 family's [[StateRoot]] declaration. Every statistic is
    * additive over per-batch-disjoint doc sets, so compaction
    * concatenates all four tables (search re-aggregates) and a TTL'd
    * view is exactly the index of the surviving batches. Purge drops
    * the tombstoned postings/doclen and recomputes tokstats/globals
    * from the survivors.
    */
  val Bm25: StateFamily = StateFamily("bm25",
    additiveTables = Bm25Tables, delTables = DelTables,
    liveIds = "doclen" -> "id",
    // the negative-delta batch: per-token −df for the deleted docs'
    // vocabularies and one −(n_docs, totlen) row, derived from the
    // STORED postings (text is never re-read) in one probe per
    // deletion batch — deletions are rare next to searches, so the
    // scan belongs here and search pays only the anti-join (purge
    // retires even that). `ceiling` records the
    // max main batch id the delta was derived against — an as-of cut
    // at or above every landed ceiling is consistent with the
    // interleaved (ingest, delete) order, so [[bm25Search]] serves
    // ALIGNED cuts of tombstoned-but-unpurged directories
    tombstoneDeltas = Some(StateFamily.TombstoneDeltas("postings",
      (delPostings, landed) => Seq(
        "del_tokstats" -> delPostings.groupBy(col("token"))
          .agg((-count(lit(1))).as("df")),
        "del_globals" -> delPostings.groupBy(col("id"))
          .agg(sum(col("tf")).as("dl"))
          .agg((-count(lit(1))).as("n_docs"),
            (-coalesce(sum(col("dl")), lit(0L))).as("totlen"))
          .withColumn("ceiling", lit(landed.max))))),
    bucketColumns = Seq("postings" -> "id", "doclen" -> "id"),
    purgeFold = Some { (spark, stateDir, deleted) =>
      val landed = landedBatchIds(spark, stateDir, Bm25Tables, None)
      def survivors(table: String) =
        readBatches(spark, stateDir, table, landed).get
          .join(deleted, Seq("id"), "left_anti")
      val t: (String, DataFrame) => DataFrame = {
        case ("postings", df) => df.join(deleted, Seq("id"), "left_anti")
        case ("doclen", df) => df.join(deleted, Seq("id"), "left_anti")
        case ("tokstats", _) => survivors("postings")
          .groupBy(col("token")).agg(count(lit(1)).as("df"))
        case ("globals", _) => survivors("doclen")
          .agg(count(lit(1)).as("n_docs"),
            coalesce(sum(col("dl")), lit(0L)).as("totlen"))
        case (_, df) => df
      }
      t
    },
    verbs = Set(Describe, Expire, RetainHistory, RetireGenerations))

  /** The IVF family's [[StateRoot]] declaration: cell postings are
    * per-batch-disjoint (exact under compaction and TTL); the frozen
    * codebook lives outside batch visibility, survives both, and is
    * part of each generation's inline state. Purge anti-joins the
    * tombstones out of `cells`.
    */
  val Ivf: StateFamily = StateFamily("ivf",
    additiveTables = IvfTables, delTables = VecDelTables,
    liveIds = "cells" -> "cid", generationTables = Seq("centroids"),
    bucketColumns = Seq("cells" -> "cid"),
    purgeFold = Some { (_, _, deleted0) =>
      val deleted = deleted0.select(col("id").as("cid"))
      val t: (String, DataFrame) => DataFrame = {
        case ("cells", df) => df.join(deleted, Seq("cid"), "left_anti")
        case (_, df) => df
      }
      t
    },
    needsCodebook = true,
    verbs = Set(Describe, Expire, RetainHistory, RetireGenerations))
}
