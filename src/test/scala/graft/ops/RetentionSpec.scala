package graft.ops

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.etl.SparkTestSession

/** Age-based retention (TTL — round-16 stretch #8): retire every batch
  * below a floor from the ACTIVE view without per-id tombstones. The
  * pinned law: the TTL'd view equals an ingest of the surviving
  * batches only; compaction merges survivors only and physically
  * sweeps the retired directories.
  */
class RetentionSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val srcDir = "/root/testdata/sf0.001"

  private def docs: DataFrame = graft.Tables.documents(spark, srcDir)
  private def corpus: DataFrame =
    docs.where(pmod(col("doc_id"), lit(97)) =!= 0)
  private def queries: DataFrame =
    docs.where(pmod(col("doc_id"), lit(97)) === 0)
      .select(col("doc_id").as("qid"), col("text"))

  private def fs = new Path("/").getFileSystem(
    spark.sparkContext.hadoopConfiguration)

  private def sortedRows(df: DataFrame): Seq[String] =
    df.orderBy(df.columns.map(col): _*).collect()
      .map(_.mkString("|")).toSeq

  private def fresh(): String =
    java.nio.file.Files.createTempDirectory("graft_ttl").toString

  private def thirds(df: DataFrame): (Long, Long) = {
    val r = df.agg(min(col("doc_id")), max(col("doc_id"))).head
    val (lo, hi) = (r.getLong(0), r.getLong(1))
    (lo + (hi - lo) / 3, lo + 2 * (hi - lo) / 3)
  }

  test("BM25 TTL: the floored view search-equals an ingest of the " +
      "surviving shards only; compaction merges survivors and sweeps " +
      "the retired directories; the floor is monotonic") {
    val I = IncrementalIndexOps
    val (cut1, cut2) = thirds(corpus)
    val (sA, sB, sC) = (
      corpus.where(col("doc_id") <= cut1),
      corpus.where(col("doc_id") > cut1 && col("doc_id") <= cut2),
      corpus.where(col("doc_id") > cut2))
    val state = fresh()
    I.ingestTextShard(spark, sA, "doc_id", "text", state, 0L)
    I.ingestTextShard(spark, sB, "doc_id", "text", state, 1L)
    I.ingestTextShard(spark, sC, "doc_id", "text", state, 2L)
    StateRoot(I.Bm25, state).expire(spark, minActiveBatchId = 1L)
    val twin = fresh()
    I.ingestTextShard(spark, sB, "doc_id", "text", twin, 0L)
    I.ingestTextShard(spark, sC, "doc_id", "text", twin, 1L)
    def search(dir: String) =
      sortedRows(I.bm25Search(spark, dir, queries, "qid", "text", 10))
    val expected = search(twin)
    assert(search(state) == expected,
      "the TTL'd view must equal the surviving-shards-only index")
    // compaction merges the survivors only and sweeps batch 0
    StateRoot(I.Bm25, state).compact(spark)
    assert(search(state) == expected)
    assert(!fs.exists(new Path(s"$state/postings/batch=0")),
      "compaction must physically sweep the retired batch")
    // the floor is monotonic: re-admitting retired batches throws
    val e = intercept[IllegalArgumentException] {
      StateRoot(I.Bm25, state).expire(spark, minActiveBatchId = 0L)
    }
    assert(e.getMessage.contains("monotonic"))
  }

  test("TTL with live tombstones is refused (purge first): deletion " +
      "deltas reference retired batches' statistics") {
    val I = IncrementalIndexOps
    val state = fresh()
    val (cut1, _) = thirds(corpus)
    I.ingestTextShard(spark, corpus.where(col("doc_id") <= cut1),
      "doc_id", "text", state, 0L)
    I.ingestTextShard(spark, corpus.where(col("doc_id") > cut1),
      "doc_id", "text", state, 1L)
    import spark.implicits._
    val victim = corpus.agg(min(col("doc_id"))).head.getLong(0)
    StateRoot(I.Bm25, state).delete(spark, Seq(victim).toDF("doc_id"), "doc_id")
    val e = intercept[IllegalArgumentException] {
      StateRoot(I.Bm25, state).expire(spark, minActiveBatchId = 1L)
    }
    assert(e.getMessage.contains("purge"))
    // purge folds the tombstones (and — being a forced compaction —
    // merges every surviving batch into ONE new id above the old
    // space, so TTL granularity is the PRE-compaction batch id space);
    // after it the expire is legal and the view is the full survivor
    // set
    StateRoot(I.Bm25, state).purge(spark)
    val merged = BatchState.landedBatchIds(
      spark, state, IncrementalIndexOps.Bm25Tables, None)
    assert(merged.size == 1)
    StateRoot(I.Bm25, state).expire(spark, minActiveBatchId = merged.head)
    val twin = fresh()
    I.ingestTextShard(spark,
      corpus.where(col("doc_id") =!= victim), "doc_id", "text", twin, 0L)
    assert(sortedRows(I.bm25Search(spark, state, queries, "qid",
      "text", 10)) == sortedRows(I.bm25Search(spark, twin, queries,
      "qid", "text", 10)),
      "post-purge expire at the merged id keeps the survivor view")
  }

  test("IVF TTL: expired cell batches leave the view, the frozen " +
      "codebook survives (a codebook-sharing twin over the survivors " +
      "is search-identical)") {
    val I = IncrementalIndexOps
    val emb = graft.Tables.embeddings(spark, srcDir)
    val r = emb.agg(min(col("vec_id")), max(col("vec_id"))).head
    val mid = (r.getLong(0) + r.getLong(1)) / 2
    val (sA, sB) = (emb.where(col("vec_id") <= mid),
      emb.where(col("vec_id") > mid))
    val state = fresh()
    I.ingestVectorShard(spark, sA, "vec_id", "embedding", state, 0L,
      nCells = 4, iters = 2)
    I.ingestVectorShard(spark, sB, "vec_id", "embedding", state, 1L,
      nCells = 4, iters = 2)
    StateRoot(I.Ivf, state).expire(spark, minActiveBatchId = 1L)
    // twin: same frozen codebook (pre-landed), survivors only
    val twin = fresh()
    import spark.implicits._
    BatchState.ensureParams(spark, twin,
      Map("nCells" -> "4", "iters" -> "2"))
    BatchState.land(BatchState.readCodebook(spark, state).zipWithIndex
      .map { case (cv, ci) => (ci, cv) }.toDF("ci", "cv"),
      twin, "centroids", 0L)
    I.ingestVectorShard(spark, sB, "vec_id", "embedding", twin, 0L,
      nCells = 4, iters = 2)
    val qset = emb.limit(8).select(col("vec_id").as("qid"),
      SimilarityOps.asDouble(col("embedding")).as("qv"))
    def search(dir: String) =
      sortedRows(I.ivfSearch(spark, dir, qset, nProbe = 4, k = 5))
    assert(search(state) == search(twin))
  }
}
