package graft.ops

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.etl.SparkTestSession

/** Incremental search-index contract ([[IncrementalIndexOps]]):
  * shard-by-shard index maintenance is indistinguishable from the
  * one-shot operator over the union — [[RetrievalOps.bm25TopK]] for the
  * inverted index (hash-exact integer scoring), [[SimilarityOps.ivfTopK]]
  * with the frozen first-shard codebook for IVF — including under batch
  * replay and crash-mid-shard restart. BM25 ingestion is additionally
  * ORDER-FREE (every state row derives from its own shard alone); IVF
  * requires the fit batch first and throws on out-of-order arrival.
  */
class IncrementalIndexSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val srcDir = "/root/testdata/sf0.001"

  private def docs: DataFrame = graft.Tables.documents(spark, srcDir)
  private def emb: DataFrame = graft.Tables.embeddings(spark, srcDir)

  private def freshState(): String =
    java.nio.file.Files.createTempDirectory("graft_incr_index").toString

  private def sortedRows(df: DataFrame): Seq[String] =
    df.orderBy(df.columns.map(col): _*).collect()
      .map(_.mkString("|")).toSeq

  // ------------------------------------------------------------- BM25

  private def corpus = docs.where(pmod(col("doc_id"), lit(97)) =!= 0)
  private def queries = docs.where(pmod(col("doc_id"), lit(97)) === 0)
    .select(col("doc_id").as("qid"), col("text"))

  private def oneShotBm25: DataFrame =
    RetrievalOps.bm25TopK(corpus, queries,
      "doc_id", "text", "qid", "text", k = 10)
      .withColumnRenamed("doc_id", "id")

  private def midDoc: Long = {
    val r = corpus.agg(min(col("doc_id")), max(col("doc_id"))).head
    (r.getLong(0) + r.getLong(1)) / 2
  }

  test("two-shard incremental BM25 search equals one-shot bm25TopK on " +
      "the union, hash-exactly (integer-rational scoring)") {
    val state = freshState()
    val mid = midDoc
    IncrementalIndexOps.ingestTextShard(spark,
      corpus.where(col("doc_id") <= mid), "doc_id", "text", state, 0L)
    IncrementalIndexOps.ingestTextShard(spark,
      corpus.where(col("doc_id") > mid), "doc_id", "text", state, 1L)
    val incr = IncrementalIndexOps.bm25Search(spark, state, queries,
      "qid", "text", k = 10)
    assert(sortedRows(incr) == sortedRows(oneShotBm25))
    assert(incr.count() > 0)
  }

  test("BM25 ingestion is order-free: shards landed in DESCENDING batch " +
      "order still search identically (no cross-batch state rows)") {
    val state = freshState()
    val mid = midDoc
    IncrementalIndexOps.ingestTextShard(spark,
      corpus.where(col("doc_id") > mid), "doc_id", "text", state, 7L)
    IncrementalIndexOps.ingestTextShard(spark,
      corpus.where(col("doc_id") <= mid), "doc_id", "text", state, 2L)
    val incr = IncrementalIndexOps.bm25Search(spark, state, queries,
      "qid", "text", k = 10)
    assert(sortedRows(incr) == sortedRows(oneShotBm25))
  }

  test("BM25: replay of a landed batch is a no-op; crash-mid-shard " +
      "restart recomputes identical state") {
    val state = freshState()
    val mid = midDoc
    val (a, b) = (corpus.where(col("doc_id") <= mid),
      corpus.where(col("doc_id") > mid))
    IncrementalIndexOps.ingestTextShard(spark, a, "doc_id", "text", state, 0L)
    IncrementalIndexOps.ingestTextShard(spark, b, "doc_id", "text", state, 1L)
    val before = sortedRows(IncrementalIndexOps.bm25Search(spark, state,
      queries, "qid", "text", k = 10))
    IncrementalIndexOps.ingestTextShard(spark, a.limit(3), "doc_id", "text",
      state, 1L) // replay with different content — ledger gates
    assert(sortedRows(IncrementalIndexOps.bm25Search(spark, state,
      queries, "qid", "text", k = 10)) == before)
    val fs = new Path(state).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new Path(s"$state/tokstats/batch=1/_SUCCESS"), false))
    assert(!StateRoot(IncrementalIndexOps.Bm25, state).landed(spark, 1L))
    IncrementalIndexOps.ingestTextShard(spark, b, "doc_id", "text", state, 1L)
    assert(sortedRows(IncrementalIndexOps.bm25Search(spark, state,
      queries, "qid", "text", k = 10)) == before)
  }

  test("streaming textIndexIngest: file-source micro-batches build the " +
      "same index as batch ingest; replay is a no-op; a lost checkpoint " +
      "fails loudly instead of absorbing new data") {
    val base = java.nio.file.Files
      .createTempDirectory("graft_stream_bm25").toString
    val (watch, ckpt, state) = (s"$base/in", s"$base/ckpt", s"$base/state")
    val fs = new Path(base).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new Path(watch))
    def landShard(df: DataFrame, name: String): Unit = {
      val tmp = s"$base/tmp_$name"
      df.coalesce(1).write.parquet(tmp)
      val part = fs.globStatus(new Path(s"$tmp/part-*"))(0).getPath
      assert(fs.rename(part, new Path(s"$watch/$name.parquet")))
    }
    def drain(): Unit = graft.streaming.Streaming.stateIngest(
      spark, watch, corpus.schema, ckpt,
      StateRoot(IncrementalIndexOps.Bm25, state),
      "doc_id") { (df, k) =>
      IncrementalIndexOps.ingestTextShard(df.sparkSession, df, "doc_id",
        "text", state, k)
    }
    def search() = IncrementalIndexOps.bm25Search(spark, state, queries,
      "qid", "text", k = 10)
    val mid = midDoc
    landShard(corpus.where(col("doc_id") <= mid), "s1")
    drain()
    landShard(corpus.where(col("doc_id") > mid), "s2")
    drain()
    val streamed = sortedRows(search())
    assert(streamed == sortedRows(oneShotBm25))
    // engine replay of the last uncommitted micro-batch: idempotent
    assert(fs.delete(new Path(s"$ckpt/commits/1"), false))
    drain()
    assert(sortedRows(search()) == streamed)
    // lost checkpoint: renumbered batch 0 carries DIFFERENT content
    // than the recorded batch-0 fingerprint — loud, nothing absorbed
    assert(fs.delete(new Path(ckpt), true))
    landShard(corpus.limit(5), "s3")
    val e = intercept[Exception] { drain() }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ chain(t.getCause)
    assert(chain(e).exists(m => m.contains("checkpoint was reset") ||
      m.contains("checkpoint was lost")),
      s"guard should fire, got: ${chain(e).mkString(" | ")}")
    assert(sortedRows(search()) == streamed, "state untouched by the refusal")

    // the blind spot pure id arithmetic cannot see: checkpoint lost
    // while exactly ONE batch was landed (renumbered batch 0 passes
    // 0 >= 0) — the content fingerprint must catch it
    val (watch2, ckpt2, state2) = (s"$base/in2", s"$base/ckpt2", s"$base/st2")
    fs.mkdirs(new Path(watch2))
    def landShard2(df: DataFrame, name: String): Unit = {
      val tmp = s"$base/tmp2_$name"
      df.coalesce(1).write.parquet(tmp)
      val part = fs.globStatus(new Path(s"$tmp/part-*"))(0).getPath
      assert(fs.rename(part, new Path(s"$watch2/$name.parquet")))
    }
    def drain2(): Unit = graft.streaming.Streaming.stateIngest(
      spark, watch2, corpus.schema, ckpt2,
      StateRoot(IncrementalIndexOps.Bm25, state2),
      "doc_id") { (df, k) =>
      IncrementalIndexOps.ingestTextShard(df.sparkSession, df, "doc_id",
        "text", state2, k)
    }
    landShard2(corpus.where(col("doc_id") <= mid), "s1")
    drain2()
    assert(fs.delete(new Path(ckpt2), true))
    landShard2(corpus.where(col("doc_id") > mid), "s2")
    val e2 = intercept[Exception] { drain2() }
    assert(chain(e2).exists(_.contains("content fingerprint")),
      s"fingerprint guard should fire, got: ${chain(e2).mkString(" | ")}")
  }

  // -------------------------------------------------------------- IVF

  private val (nCells, iters, nProbe, k) = (4, 2, 2, 10)

  private def qset: DataFrame = emb.where(col("vec_id") < 10)
    .select(col("vec_id").as("qid"),
      SimilarityOps.asDouble(col("embedding")).as("qv"))

  private def oneShotIvf(fitSet: DataFrame): DataFrame = {
    val (cents, _) =
      SimilarityOps.kmeansFit(fitSet, "vec_id", "embedding", nCells, iters)
    SimilarityOps.ivfTopK(qset,
      emb.select(col("vec_id").as("cid"),
        SimilarityOps.asDouble(col("embedding")).as("cv")),
      cents, nProbe, k)
  }

  test("two-shard incremental IVF search equals one-shot ivfTopK with " +
      "the frozen first-shard codebook") {
    val state = freshState()
    val r = emb.agg(min(col("vec_id")), max(col("vec_id"))).head
    val mid = (r.getLong(0) + r.getLong(1)) / 2
    val fit = emb.where(col("vec_id") <= mid)
    IncrementalIndexOps.ingestVectorShard(spark, fit,
      "vec_id", "embedding", state, 0L, nCells, iters)
    IncrementalIndexOps.ingestVectorShard(spark,
      emb.where(col("vec_id") > mid),
      "vec_id", "embedding", state, 1L, nCells, iters)
    val incr = IncrementalIndexOps.ivfSearch(spark, state, qset, nProbe, k)
    val one = oneShotIvf(fit)
    assert(incr.columns.sorted.sameElements(one.columns.sorted))
    assert(sortedRows(incr.select(one.columns.map(col): _*)) ==
      sortedRows(one))
  }

  test("IVF: replay no-op, crash restart, and out-of-order ingest throws") {
    val state = freshState()
    val r = emb.agg(min(col("vec_id")), max(col("vec_id"))).head
    val mid = (r.getLong(0) + r.getLong(1)) / 2
    val fit = emb.where(col("vec_id") <= mid)
    IncrementalIndexOps.ingestVectorShard(spark, fit,
      "vec_id", "embedding", state, 0L, nCells, iters)
    IncrementalIndexOps.ingestVectorShard(spark,
      emb.where(col("vec_id") > mid),
      "vec_id", "embedding", state, 2L, nCells, iters)
    val before = sortedRows(
      IncrementalIndexOps.ivfSearch(spark, state, qset, nProbe, k))
    // replay with different content
    IncrementalIndexOps.ingestVectorShard(spark, emb.limit(4),
      "vec_id", "embedding", state, 2L, nCells, iters)
    assert(sortedRows(IncrementalIndexOps.ivfSearch(spark, state, qset,
      nProbe, k)) == before)
    // crash: batch 2's cells lost their commit marker
    val fs = new Path(state).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new Path(s"$state/cells/batch=2/_SUCCESS"), false))
    assert(!StateRoot(IncrementalIndexOps.Ivf, state).landed(spark, 2L))
    IncrementalIndexOps.ingestVectorShard(spark,
      emb.where(col("vec_id") > mid),
      "vec_id", "embedding", state, 2L, nCells, iters)
    assert(sortedRows(IncrementalIndexOps.ivfSearch(spark, state, qset,
      nProbe, k)) == before)
    // out-of-order: batch 1 arriving after batch 2 landed must throw
    val e = intercept[IllegalArgumentException] {
      IncrementalIndexOps.ingestVectorShard(spark, emb.limit(4),
        "vec_id", "embedding", state, 1L, nCells, iters)
    }
    assert(e.getMessage.contains("out-of-order"))
  }
}
