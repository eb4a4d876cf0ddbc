package graft.streaming

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.etl.SparkTestSession
import graft.ops.{BatchState, IncrementalCurateOps, IncrementalIndexOps,
  RetrievalOps, StateRoot}

/** Crash/compaction windows specific to the COMPOSED curate → index
  * micro-batch (round-16 review findings): the parts of the closure
  * beyond the primary root's core tables must survive
  *
  *  - a crash BETWEEN the curate land and the index/tombstone steps
  *    (an unconfirmed replay must re-run the whole closure, not skip
  *    because the curate tables look landed);
  *  - an operator compaction of the INDEX or DELETION root between
  *    drains (their promise ledgers must keep the next mapped batch id
  *    off the compacted id);
  *  - a crashed ledger rewrite that left the only `_input` entry
  *    uncommitted (the restart must proceed, not wedge on the
  *    empty-ledger guard).
  */
class ComposedCrashWindowSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val srcDir = "/root/testdata/sf0.001"
  private val cfg = IncrementalCurateOps.CurateConfig()

  private def docs: DataFrame = graft.Tables.documents(spark, srcDir)
  private def corpus: DataFrame =
    docs.where(pmod(col("doc_id"), lit(97)) =!= 0)
  private def queries: DataFrame =
    docs.where(pmod(col("doc_id"), lit(97)) === 0)
      .select(col("doc_id").as("qid"), col("text"))

  private def fresh(): String =
    java.nio.file.Files.createTempDirectory("graft_ccw").toString

  private def fs = new Path("/").getFileSystem(
    spark.sparkContext.hadoopConfiguration)

  private def sortedRows(df: DataFrame): Seq[String] =
    df.orderBy(df.columns.map(col): _*).collect()
      .map(_.mkString("|")).toSeq

  private def oneShotOverKept(union: DataFrame): Seq[String] = {
    val kept = graft.ops.CorpusOps.curate(union, "doc_id", "text")
      .select("doc_id")
    sortedRows(RetrievalOps.bm25TopK(
      union.join(kept, Seq("doc_id"), "left_semi"), queries,
      "doc_id", "text", "qid", "text", 10).withColumnRenamed("doc_id", "id"))
  }

  private def thirds(df: DataFrame): (Long, Long) = {
    val r = df.agg(min(col("doc_id")), max(col("doc_id"))).head
    val (lo, hi) = (r.getLong(0), r.getLong(1))
    (lo + (hi - lo) / 3, lo + 2 * (hi - lo) / 3)
  }

  test("crash between the curate land and the index step: the " +
      "unconfirmed replay re-runs the WHOLE closure — the shard is " +
      "indexed, not skipped because curate looks landed") {
    val root = fresh()
    val (curateDir, indexDir) = (s"$root/curate", s"$root/index")
    val (cut1, _) = thirds(corpus)
    val (sA, sB) = (corpus.where(col("doc_id") <= cut1),
      corpus.where(col("doc_id") > cut1))
    def micro(df: DataFrame, ckptId: Long)(
        body: (DataFrame, Long, Long) => Unit): Long =
      Streaming.ingestMicroBatchKeyed(df, ckptId, curateDir,
        IncrementalCurateOps.CoreTables, "doc_id", composed = true)(body)
    def full(df: DataFrame, k: Long, key: Long): Unit =
      Streaming.curateAndIndexBatch(df, k, key, curateDir, indexDir,
        "doc_id", "text", cfg)
    assert(micro(sA, 0)(full) == 0L)
    // micro-batch 1 curates, then crashes BEFORE the index step
    intercept[RuntimeException] {
      micro(sB, 1) { (df, k, _) =>
        IncrementalCurateOps.ingestShard(
          spark, df, "doc_id", "text", curateDir, k, cfg)
        sys.error("simulated crash before the index step")
      }
    }
    assert(BatchState.allLanded(spark, curateDir,
      IncrementalCurateOps.CoreTables, 1L),
      "precondition: the curate tables DID land before the crash")
    // replay re-runs the full closure under the recorded id
    assert(micro(sB, 1)(full) == 1L)
    assert(sortedRows(IncrementalIndexOps.bm25Search(
        spark, indexDir, queries, "qid", "text", 10)) ==
      oneShotOverKept(corpus),
      "shard B's kept docs must be searchable after the replay")
  }

  test("operator compaction of the index and deletion roots between " +
      "drains: the promise ledgers keep the next mapped ids off the " +
      "compacted ids — nothing is silently absorbed") {
    val root = fresh()
    val (curateDir, indexDir) = (s"$root/curate", s"$root/index")
    val (cut1, cut2) = thirds(corpus)
    def full(df: DataFrame, k: Long, key: Long): Unit =
      Streaming.curateAndIndexBatch(df, k, key, curateDir, indexDir,
        "doc_id", "text", cfg)
    def micro(df: DataFrame, ckptId: Long): Long =
      Streaming.ingestMicroBatchKeyed(df, ckptId, curateDir,
        IncrementalCurateOps.CoreTables, "doc_id", composed = true)(full)
    assert(micro(corpus.where(col("doc_id") <= cut1), 0) == 0L)
    assert(micro(corpus.where(
      col("doc_id") > cut1 && col("doc_id") <= cut2), 1) == 1L)
    // between drains: compact the INDEX root (main tables + deletion
    // ledger) — pre-fix this landed merged batches at the exact ids the
    // next micro-batch would map to, and the third shard would no-op
    StateRoot(IncrementalIndexOps.Bm25, indexDir).compact(spark)
    assert(micro(corpus.where(col("doc_id") > cut2), 2) == 2L)
    assert(sortedRows(IncrementalIndexOps.bm25Search(
        spark, indexDir, queries, "qid", "text", 10)) ==
      oneShotOverKept(corpus),
      "the post-compaction shard must ingest as new data in every root")
  }

  test("crash between the index-root mapping write and the index " +
      "ingest, then an index compaction: the replay re-resolves the " +
      "stale mapping instead of landing below the watermark") {
    val root = fresh()
    val (curateDir, indexDir) = (s"$root/curate", s"$root/index")
    val (cut1, cut2) = thirds(corpus)
    val (sA, sB, sC) = (
      corpus.where(col("doc_id") <= cut1),
      corpus.where(col("doc_id") > cut1 && col("doc_id") <= cut2),
      corpus.where(col("doc_id") > cut2))
    def full(df: DataFrame, k: Long, key: Long): Unit =
      Streaming.curateAndIndexBatch(df, k, key, curateDir, indexDir,
        "doc_id", "text", cfg)
    def micro(df: DataFrame, ckptId: Long)(
        body: (DataFrame, Long, Long) => Unit): Long =
      Streaming.ingestMicroBatchKeyed(df, ckptId, curateDir,
        IncrementalCurateOps.CoreTables, "doc_id", composed = true)(body)
    assert(micro(sA, 0)(full) == 0L)
    assert(micro(sB, 1)(full) == 1L)
    // micro-batch 2 curates and RECORDS the index-root mapping, then
    // crashes before the index ingest
    intercept[RuntimeException] {
      micro(sC, 2) { (df, k, key) =>
        IncrementalCurateOps.ingestShard(
          spark, df, "doc_id", "text", curateDir, k, cfg)
        BatchState.mapExternalBatchId(
          spark, indexDir, key, IncrementalIndexOps.Bm25Tables)
        sys.error("simulated crash before the index ingest")
      }
    }
    // an operator compacts the index root: the merged batch lands
    // ABOVE the promise, moving the watermark past it — the recorded
    // mapping now points below the watermark, where a replayed ingest
    // would be invisible and swept by the next GC
    StateRoot(IncrementalIndexOps.Bm25, indexDir).compact(spark)
    assert(micro(sC, 2)(full) == 2L)
    assert(sortedRows(IncrementalIndexOps.bm25Search(
        spark, indexDir, queries, "qid", "text", 10)) ==
      oneShotOverKept(corpus),
      "shard C's kept docs must be VISIBLY indexed after the replay — " +
        "a reused stale mapping would land them below the watermark")
  }

  test("crash between the curate land and the index step, then a " +
      "ROUTINE curate compaction: the composed ledger entry is not " +
      "confirmed off the core tables, so the replay still indexes " +
      "the shard") {
    val root = fresh()
    val (curateDir, indexDir) = (s"$root/curate", s"$root/index")
    val (cut1, _) = thirds(corpus)
    val (sA, sB) = (corpus.where(col("doc_id") <= cut1),
      corpus.where(col("doc_id") > cut1))
    def full(df: DataFrame, k: Long, key: Long): Unit =
      Streaming.curateAndIndexBatch(df, k, key, curateDir, indexDir,
        "doc_id", "text", cfg)
    def micro(df: DataFrame, ckptId: Long)(
        body: (DataFrame, Long, Long) => Unit): Long =
      Streaming.ingestMicroBatchKeyed(df, ckptId, curateDir,
        IncrementalCurateOps.CoreTables, "doc_id", composed = true)(body)
    assert(micro(sA, 0)(full) == 0L)
    intercept[RuntimeException] {
      micro(sB, 1) { (df, k, _) =>
        IncrementalCurateOps.ingestShard(
          spark, df, "doc_id", "text", curateDir, k, cfg)
        sys.error("simulated crash before the index step")
      }
    }
    // routine curate-root compaction between the crash and the replay:
    // the curate tables DID land, but confirming the entry off them
    // would make the replay skip the whole closure — shard B would
    // never be indexed
    StateRoot(IncrementalCurateOps.Curation, curateDir).compact(spark)
    val eff = micro(sB, 1)(full)
    assert(eff > 1L,
      s"expected a fresh effective id after compaction, got $eff")
    assert(sortedRows(IncrementalIndexOps.bm25Search(
        spark, indexDir, queries, "qid", "text", 10)) ==
      oneShotOverKept(corpus),
      "shard B must be indexed by the replay even though its curate " +
        "delta was folded away — the kept set is recovered from the " +
        "visible state")
  }

  test("confirmation crash AFTER the full composed closure, then " +
      "compaction of BOTH roots: the replay neither duplicates nor " +
      "loses anything (index-root mirror confirmed _LANDED skips)") {
    val root = fresh()
    val (curateDir, indexDir) = (s"$root/curate", s"$root/index")
    val (cut1, _) = thirds(corpus)
    val (sA, sB) = (corpus.where(col("doc_id") <= cut1),
      corpus.where(col("doc_id") > cut1))
    def full(df: DataFrame, k: Long, key: Long): Unit =
      Streaming.curateAndIndexBatch(df, k, key, curateDir, indexDir,
        "doc_id", "text", cfg)
    def micro(df: DataFrame, ckptId: Long)(
        body: (DataFrame, Long, Long) => Unit): Long =
      Streaming.ingestMicroBatchKeyed(df, ckptId, curateDir,
        IncrementalCurateOps.CoreTables, "doc_id", composed = true)(body)
    assert(micro(sA, 0)(full) == 0L)
    // the closure completes fully; the harness confirmation crashes
    intercept[RuntimeException] {
      micro(sB, 1) { (df, k, key) =>
        full(df, k, key)
        sys.error("simulated crash before the confirmation write")
      }
    }
    StateRoot(IncrementalCurateOps.Curation, curateDir).compact(spark)
    StateRoot(IncrementalIndexOps.Bm25, indexDir).compact(spark)
    val before = sortedRows(IncrementalIndexOps.bm25Search(
      spark, indexDir, queries, "qid", "text", 10))
    assert(before == oneShotOverKept(corpus))
    // replay re-runs the closure: the curate re-ingest is an empty
    // delta, the index mirror is _LANDED-confirmed and skips — search
    // results must be unchanged (no duplicated postings)
    assert(micro(sB, 1)(full) > 1L)
    assert(sortedRows(IncrementalIndexOps.bm25Search(
        spark, indexDir, queries, "qid", "text", 10)) == before,
      "the replay after a confirmed-and-compacted index mirror must " +
        "not duplicate postings or drop documents")
  }

  test("crashed ledger rewrite (the fresh-id rewrite died mid-write, " +
      "leaving the ONLY entry uncommitted): the restart proceeds " +
      "instead of wedging on the empty-ledger guard") {
    val I = IncrementalIndexOps
    val state = fresh()
    val (cut1, cut2) = thirds(corpus)
    val (sA, sB, sC) = (
      corpus.where(col("doc_id") <= cut1),
      corpus.where(col("doc_id") > cut1 && col("doc_id") <= cut2),
      corpus.where(col("doc_id") > cut2))
    def micro(df: DataFrame, ckptId: Long)(
        body: (DataFrame, Long) => Unit): Long =
      Streaming.ingestMicroBatch(df, ckptId, state, I.Bm25Tables,
        "doc_id")(body)
    def realIngest(d: DataFrame, k: Long): Unit =
      I.ingestTextShard(spark, d, "doc_id", "text", state, k)
    assert(micro(sA, 0)(realIngest) == 0L)
    assert(micro(sB, 1)(realIngest) == 1L)
    // ckpt 2 records its promise (retiring entries 0-1), then crashes
    // mid-ingest; compaction moves the landed set past the promise
    intercept[RuntimeException] {
      micro(sC, 2)((_, _) => sys.error("crash mid-ingest"))
    }
    // lands merged batch 3 (above promise 2)
    StateRoot(I.Bm25, state).compact(spark)
    // the restart's fresh-id rewrite of entry 2 dies mid-write: old
    // content gone, new content uncommitted — the ledger's ONLY entry
    // has no _SUCCESS
    assert(fs.delete(new Path(s"$state/_input/batch=2/_SUCCESS"), false))
    // replay of ckpt 2 must not throw "EMPTY input ledger" — it
    // recomputes the entry and ingests under a fresh id
    val eff = micro(sC, 2)(realIngest)
    assert(eff == 4L, s"expected fresh-id re-ingest, got $eff")
    val full = RetrievalOps.bm25TopK(corpus, queries,
      "doc_id", "text", "qid", "text", 10).withColumnRenamed("doc_id", "id")
    assert(sortedRows(I.bm25Search(spark, state, queries, "qid", "text",
      10)) == sortedRows(full))
  }

  test("deleteTextDocs holds the deletion root's lease: a writer racing " +
      "delete-ledger compaction fails loudly") {
    val I = IncrementalIndexOps
    val state = fresh()
    I.ingestTextShard(spark, corpus.limit(50), "doc_id", "text", state, 0L)
    val delLease = new Path(s"$state/_deletes/_manifest/.lease")
    fs.mkdirs(delLease.getParent)
    fs.create(delLease, false).close()
    val e = intercept[IllegalStateException] {
      StateRoot.deleteIn(spark, I.Bm25, corpus.limit(5).select("doc_id"),
        "doc_id", state, 0L)
    }
    assert(e.getMessage.contains("lease"))
    assert(BatchState.breakLease(spark, s"$state/_deletes"))
    StateRoot.deleteIn(spark, I.Bm25, corpus.limit(5).select("doc_id"),
      "doc_id", state, 0L)
  }

  test("crashed reindex remnant (params + codebook, no landed batches) " +
      "is retryable with the same sample and refused with a different " +
      "one") {
    val I = IncrementalIndexOps
    val emb = graft.Tables.embeddings(spark, srcDir)
    val (old, next) = (fresh(), fresh())
    I.ingestVectorShard(spark, emb, "vec_id", "embedding", old, 0L,
      nCells = 4, iters = 2)
    // simulate the crash: params + codebook committed, no cells landed
    BatchState.ensureParams(spark, next, Map(
      "nCells" -> "4", "iters" -> "2", "generation" -> "1",
      "refit_sample" -> "1.0"))
    val cents = BatchState.readCodebook(spark, old)
    // (reuse old's codebook rows as the "crashed fit" — deterministic
    // fit over the same vectors produces exactly this)
    import spark.implicits._
    BatchState.land(cents.zipWithIndex.map { case (cv, ci) => (ci, cv) }
      .toDF("ci", "cv"), next, "centroids", 0L)
    val e = intercept[IllegalArgumentException] {
      I.reindexVectors(spark, old, next, nCells = 4, iters = 2,
        sampleFraction = 0.5)
    }
    assert(e.getMessage.contains("refit_sample") ||
      e.getMessage.contains("sampleFraction"))
    I.reindexVectors(spark, old, next, nCells = 4, iters = 2)
    assert(BatchState.landedBatchIds(spark, next, Seq("cells"), None)
      == Seq(0L), "retry with the matching sample completes the reindex")
  }

  test("composed loop against a CUTOVER index root: the external-id " +
      "mirror ledgers follow the generation pointer — a shard is " +
      "never silently no-op'd by an id computed from the empty " +
      "root-level tables") {
    val base = fresh()
    val (curateDir, indexRoot) = (s"$base/curate", s"$base/index")
    val gen2 = s"$indexRoot/gen2"
    val (cut1, _) = thirds(corpus)
    val (sA, sB) = (corpus.where(col("doc_id") <= cut1),
      corpus.where(col("doc_id") > cut1))
    // the current index generation already holds a seed batch 0
    // (disjoint from the stream's corpus); the ROOT itself holds
    // nothing — the exact shape where a mirror written against the
    // unresolved root hands out id 0 (its id space is empty),
    // colliding with the generation's landed batch 0 so
    // ingestTextShard skips the shard entirely
    val seed = docs.where(pmod(col("doc_id"), lit(97)) === 0)
    IncrementalIndexOps.ingestTextShard(
      spark, seed, "doc_id", "text", gen2, 0L)
    BatchState.cutoverGeneration(spark, indexRoot, gen2)
    def micro(df: DataFrame, ckptId: Long): Long =
      Streaming.ingestMicroBatchKeyed(df, ckptId, curateDir,
        IncrementalCurateOps.CoreTables, "doc_id", composed = true) {
        (d, k, key) => Streaming.curateAndIndexBatch(d, k, key,
          curateDir, indexRoot, "doc_id", "text", cfg)
      }
    micro(sA, 0)
    micro(sB, 1)
    val gotIds = IncrementalIndexOps.bm25Search(
        spark, indexRoot, queries, "qid", "text", 10)
      .select(col("id")).distinct()
    assert(gotIds.join(sA, gotIds("id") === sA("doc_id"), "left_semi")
        .count() > 0,
      "shard A must be searchable through the cutover root — its " +
        "mirror id must come from the RESOLVED generation's id space, " +
        "not collide with the generation's landed batch 0")
    assert(BatchState.landedBatchIds(spark, gen2,
      Seq("postings", "doclen", "tokstats", "globals"), None)
      .size >= 3,
      "both composed drains must land NEW batches in the current " +
        "generation beyond its seed batch 0")
  }
}
