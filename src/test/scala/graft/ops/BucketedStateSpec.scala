package graft.ops

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.etl.SparkTestSession

/** Opt-in bucketed state tables (round-17 ask #3): scan-heavy tables
  * land as `batch=k/gbkt=hash(key)%n` partitions so key-driven reads —
  * the deletion delta derivation above all — prune to the keys'
  * buckets at planning time. The layout must be invisible to every
  * consumer: searches bit-identical to the flat twin, deletion/purge/
  * compaction semantics unchanged, compaction re-buckets its merged
  * batch.
  */
class BucketedStateSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val srcDir = "/root/testdata/sf0.001"

  private def docs: DataFrame = graft.Tables.documents(spark, srcDir)
  private def corpus: DataFrame =
    docs.where(pmod(col("doc_id"), lit(97)) =!= 0)
  private def queries: DataFrame =
    docs.where(pmod(col("doc_id"), lit(97)) === 0)
      .select(col("doc_id").as("qid"), col("text"))

  private def fresh(): String =
    java.nio.file.Files.createTempDirectory("graft_bkt").toString

  private def fs = new Path("/").getFileSystem(
    spark.sparkContext.hadoopConfiguration)

  private def sortedRows(df: DataFrame): Seq[String] =
    df.orderBy(df.columns.map(col): _*).collect()
      .map(_.mkString("|")).toSeq

  test("bucketed BM25 state: ingest/delete/search/compact are " +
      "bit-identical to the flat twin; the layout is real (gbkt " +
      "partitions on disk) and survives compaction") {
    val I = IncrementalIndexOps
    val (bkt, flat) = (fresh(), fresh())
    StateRoot(I.Bm25, bkt).bucket(spark, nBuckets = 8)
    val r = corpus.agg(min(col("doc_id")), max(col("doc_id"))).head
    val mid = (r.getLong(0) + r.getLong(1)) / 2
    val victims = corpus.where(col("doc_id") <= mid &&
      pmod(col("doc_id"), lit(13)) === 0).select("doc_id")
    for (state <- Seq(bkt, flat)) {
      I.ingestTextShard(spark, corpus.where(col("doc_id") <= mid),
        "doc_id", "text", state, 0L)
      StateRoot.deleteIn(spark, I.Bm25, victims, "doc_id", state, 0L)
      I.ingestTextShard(spark, corpus.where(col("doc_id") > mid),
        "doc_id", "text", state, 1L)
    }
    assert(fs.globStatus(new Path(s"$bkt/postings/batch=0/gbkt=*"))
      .nonEmpty, "bucketed layout must be real partition directories")
    def search(dir: String) =
      sortedRows(I.bm25Search(spark, dir, queries, "qid", "text", 10))
    assert(search(bkt) == search(flat),
      "bucketing must be invisible to search results")
    StateRoot(I.Bm25, bkt).compact(spark)
    StateRoot(I.Bm25, flat).compact(spark)
    assert(search(bkt) == search(flat),
      "compaction must preserve results on the bucketed root")
    val merged = BatchState.landedBatchIds(
      spark, bkt, I.Bm25Tables, None).head
    assert(fs.globStatus(new Path(
      s"$bkt/postings/batch=$merged/gbkt=*")).nonEmpty,
      "the merged batch must be re-bucketed")
    // a later deletion against the compacted bucketed root still works
    val extra = corpus.where(col("doc_id") > mid &&
      pmod(col("doc_id"), lit(17)) === 0).select("doc_id")
    StateRoot(I.Bm25, bkt).delete(spark, extra, "doc_id")
    StateRoot(I.Bm25, flat).delete(spark, extra, "doc_id")
    assert(search(bkt) == search(flat))
  }

  test("setBucketing guards: declaring after a landed batch refuses, " +
      "re-declaring identically is a no-op, changing the layout " +
      "refuses") {
    val I = IncrementalIndexOps
    val state = fresh()
    I.ingestTextShard(spark, corpus.limit(100), "doc_id", "text",
      state, 0L)
    val e = intercept[IllegalArgumentException] {
      BatchState.setBucketing(spark, state, "postings", "id", 8)
    }
    assert(e.getMessage.contains("before the first landed batch"))
    val state2 = fresh()
    StateRoot(I.Bm25, state2).bucket(spark, 8)
    StateRoot(I.Bm25, state2).bucket(spark, 8) // idempotent
    val e2 = intercept[IllegalArgumentException] {
      BatchState.setBucketing(spark, state2, "postings", "id", 16)
    }
    assert(e2.getMessage.contains("already bucketed"))
  }

  test("bucketed IVF and image states: deletion probes and views " +
      "equal their flat twins") {
    val I = IncrementalIndexOps
    val D = IncrementalDedupOps
    val emb = graft.Tables.embeddings(spark, srcDir)
    val (bkt, flat) = (fresh(), fresh())
    StateRoot(I.Ivf, bkt).bucket(spark, 8)
    import spark.implicits._
    val victims = emb.limit(5).select(col("vec_id"))
    for (state <- Seq(bkt, flat)) {
      I.ingestVectorShard(spark, emb, "vec_id", "embedding", state, 0L,
        nCells = 4, iters = 2)
      StateRoot(I.Ivf, state).delete(spark, victims, "vec_id")
    }
    val qs = emb.limit(6).select(col("vec_id").as("qid"),
      SimilarityOps.asDouble(col("embedding")).as("qv"))
    assert(sortedRows(I.ivfSearch(spark, bkt, qs, 4, 5)) ==
      sortedRows(I.ivfSearch(spark, flat, qs, 4, 5)))
    assert(fs.globStatus(new Path(s"$bkt/cells/batch=0/gbkt=*")).nonEmpty)
  }
}
