package graft.ops

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.etl.SparkTestSession

/** Single-writer enforcement and the streaming-ledger crash windows of
  * the batch-partitioned state family:
  *
  *  - [[BatchState.withLease]] makes the "do not run ingest and
  *    compaction concurrently" contract LOUD — a second writer fails at
  *    the lease file instead of having its batch destroyed by
  *    compaction's crashed-prior-attempt delete;
  *  - [[BatchState.compactState]] places its merged batch strictly
  *    above every effective id the streaming `_input` ledger has
  *    promised, and stamps `_LANDED` confirmations for promised batches
  *    that did land — closing the two silent windows around a stream
  *    that crashes mid-micro-batch (silent drop of the replayed data,
  *    and silent re-ingest duplication);
  *  - the content fingerprint carries a non-self-cancelling fold, so a
  *    renumbered batch with duplicated ids cannot collide with a
  *    recorded entry at equal row count.
  */
class StateLeaseSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val srcDir = "/root/testdata/sf0.001"

  private def docs: DataFrame = graft.Tables.documents(spark, srcDir)

  private def freshState(): String =
    java.nio.file.Files.createTempDirectory("graft_lease").toString

  private def fs = new Path("/").getFileSystem(
    spark.sparkContext.hadoopConfiguration)

  private def sortedRows(df: DataFrame): Seq[String] =
    df.orderBy(df.columns.map(col): _*).collect()
      .map(_.mkString("|")).toSeq

  private def corpus: DataFrame =
    docs.where(pmod(col("doc_id"), lit(97)) =!= 0)
  private def queries: DataFrame =
    docs.where(pmod(col("doc_id"), lit(97)) === 0)
      .select(col("doc_id").as("qid"), col("text"))

  private def thirds(df: DataFrame): (Long, Long) = {
    val r = df.agg(min(col("doc_id")), max(col("doc_id"))).head
    val (lo, hi) = (r.getLong(0), r.getLong(1))
    (lo + (hi - lo) / 3, lo + 2 * (hi - lo) / 3)
  }

  test("a batch landing while another writer holds the lease throws " +
      "loudly instead of being silently destroyed; breakLease recovers") {
    val state = freshState()
    val (cut1, _) = thirds(corpus)
    // simulate a compaction (or any writer) holding the lease: the
    // lease file exists exactly as withLease would create it
    val lease = new Path(s"$state/_manifest/.lease")
    fs.mkdirs(lease.getParent)
    fs.create(lease, false).close()
    val e = intercept[IllegalStateException] {
      IncrementalCurateOps.ingestShard(spark,
        corpus.where(col("doc_id") <= cut1), "doc_id", "text", state, 0L)
    }
    assert(e.getMessage.contains("lease"))
    assert(BatchState.landedBatchIds(spark, state,
      Seq("docs", "prefix", "edges", "stats"), None).isEmpty,
      "the refused ingest must not have landed anything")
    // operator override for a crashed holder
    assert(BatchState.breakLease(spark, state))
    IncrementalCurateOps.ingestShard(spark,
      corpus.where(col("doc_id") <= cut1), "doc_id", "text", state, 0L)
    assert(IncrementalCurateOps.curated(spark, state).count() > 0)
  }

  test("withLease: reentrant on the holder thread; exclusive across " +
      "threads; released on both success and failure") {
    val state = freshState()
    val lease = new Path(s"$state/_manifest/.lease")
    val out = BatchState.withLease(spark, state) {
      assert(fs.exists(lease), "lease file held during the body")
      // reentrant: the streaming harness wraps the ingest op's own take
      val inner = BatchState.withLease(spark, state) { 21 }
      // a second THREAD must fail while we hold it
      var other: Option[Throwable] = None
      val t = new Thread(() =>
        try BatchState.withLease(spark, state) { () }
        catch { case e: Throwable => other = Some(e) })
      t.start(); t.join()
      assert(other.exists(_.isInstanceOf[IllegalStateException]),
        s"second thread should fail at the lease, got $other")
      inner * 2
    }
    assert(out == 42)
    assert(!fs.exists(lease), "lease released after the body")
    intercept[RuntimeException] {
      BatchState.withLease(spark, state) { sys.error("boom") }
    }
    assert(!fs.exists(lease), "lease released when the body throws")
  }

  test("crash between ledger write and ingest, then compaction, then " +
      "replay: the compacted batch lands ABOVE the promised id and the " +
      "replayed micro-batch re-ingests under a fresh id — nothing is " +
      "silently absorbed") {
    val I = IncrementalIndexOps
    val state = freshState()
    val (cut1, cut2) = thirds(corpus)
    val (sA, sB, sC) = (
      corpus.where(col("doc_id") <= cut1),
      corpus.where(col("doc_id") > cut1 && col("doc_id") <= cut2),
      corpus.where(col("doc_id") > cut2))
    def micro(df: DataFrame, ckptId: Long)(
        ingest: (DataFrame, Long) => Unit): Long =
      graft.streaming.Streaming.ingestMicroBatch(
        df, ckptId, state, I.Bm25Tables, "doc_id")(ingest)
    def realIngest(df: DataFrame, id: Long): Unit =
      I.ingestTextShard(spark, df, "doc_id", "text", state, id)
    assert(micro(sA, 0)(realIngest) == 0L)
    assert(micro(sB, 1)(realIngest) == 1L)
    // micro-batch 2 records its promise (effective id 2) in the ledger,
    // then crashes before the ingest lands anything
    intercept[RuntimeException] {
      micro(sC, 2)((_, _) => sys.error("simulated crash mid-ingest"))
    }
    assert(fs.exists(new Path(s"$state/_input/batch=2/_SUCCESS")))
    assert(!fs.exists(new Path(s"$state/_input/batch=2/_LANDED")))
    // compaction runs before the stream restarts: it must NOT occupy
    // the promised id 2 (pre-fix it landed there, and the replay below
    // would have been silently no-op'd away)
    StateRoot(I.Bm25, state).compact(spark)
    val landed = BatchState.landedBatchIds(spark, state, I.Bm25Tables, None)
    assert(landed == Seq(3L),
      s"compacted batch must land above the promised effective id 2, " +
        s"got $landed")
    // restart replays checkpoint micro-batch 2: same content, recorded
    // entry, no _LANDED — it must re-ingest under a FRESH id
    val eff = micro(sC, 2)(realIngest)
    assert(eff == 4L, s"expected re-ingest under a fresh id, got $eff")
    assert(fs.exists(new Path(s"$state/_input/batch=2/_LANDED")))
    val full = RetrievalOps.bm25TopK(corpus, queries,
      "doc_id", "text", "qid", "text", 10).withColumnRenamed("doc_id", "id")
    assert(sortedRows(I.bm25Search(spark, state, queries, "qid", "text", 10))
      == sortedRows(full),
      "the replayed micro-batch's data must be searchable — not dropped")
  }

  test("confirmation crash window: ingest landed but _LANDED was never " +
      "written; compaction re-derives the confirmation, so the replay " +
      "skips instead of re-ingesting a duplicate") {
    val I = IncrementalIndexOps
    val state = freshState()
    val (cut1, _) = thirds(corpus)
    val (sA, sB) = (corpus.where(col("doc_id") <= cut1),
      corpus.where(col("doc_id") > cut1))
    def micro(df: DataFrame, ckptId: Long): Long =
      graft.streaming.Streaming.ingestMicroBatch(
        df, ckptId, state, I.Bm25Tables, "doc_id")(
        (d, id) => I.ingestTextShard(spark, d, "doc_id", "text", state, id))
    assert(micro(sA, 0) == 0L)
    assert(micro(sB, 1) == 1L)
    // simulate the crash between ingest and confirmation
    assert(fs.delete(new Path(s"$state/_input/batch=1/_LANDED"), false))
    StateRoot(I.Bm25, state).compact(spark)
    assert(fs.exists(new Path(s"$state/_input/batch=1/_LANDED")),
      "compaction must confirm promised batches that actually landed")
    // replay of micro-batch 1 after its original dirs were retired:
    // confirmed → skip (pre-fix this re-ingested under a fresh id and
    // every doc of shard B was double-counted)
    assert(micro(sB, 1) == -1L)
    val full = RetrievalOps.bm25TopK(corpus, queries,
      "doc_id", "text", "qid", "text", 10).withColumnRenamed("doc_id", "id")
    assert(sortedRows(I.bm25Search(spark, state, queries, "qid", "text", 10))
      == sortedRows(full), "no duplication from the confirmed replay")
  }

  test("fingerprint: a renumbered batch with duplicated ids (XOR " +
      "self-cancelling) is caught by the sum fold") {
    import spark.implicits._
    val I = IncrementalIndexOps
    val state = freshState()
    def micro(df: DataFrame, ckptId: Long): Long =
      graft.streaming.Streaming.ingestMicroBatch(
        df, ckptId, state, I.Bm25Tables, "doc_id")(
        (d, id) => I.ingestTextShard(
          spark, d.dropDuplicates("doc_id"), "doc_id", "text", state, id))
    // two copies of ONE id: bit_xor folds to 0 — indistinguishable from
    // two copies of any other id at equal row count
    micro(Seq((5L, "alpha beta"), (5L, "alpha beta"))
      .toDF("doc_id", "text"), 0)
    val e = intercept[IllegalArgumentException] {
      micro(Seq((7L, "gamma delta"), (7L, "gamma delta"))
        .toDF("doc_id", "text"), 0)
    }
    assert(e.getMessage.contains("content fingerprint"),
      s"sum fold must catch the XOR-cancelling collision: ${e.getMessage}")
  }
}
