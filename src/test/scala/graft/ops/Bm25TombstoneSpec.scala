package graft.ops

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.etl.SparkTestSession

/** Tombstone contract of the incremental BM25 index
  * ([[StateRoot.delete]]): deletions are
  * negative-delta batches + an anti-joined tombstone set, and search
  * over ingest(S₁) → delete(d ⊂ S₁) → ingest(S₂) is row-identical to
  * one-shot [[RetrievalOps.bm25TopK]] over (S₁ ∪ S₂) \ d — the
  * statistics (df, N, totlen) really are those of the surviving
  * corpus, not just a filtered result list. Replays, double-deletes,
  * unknown ids, and compaction are all exact no-ops on the view.
  */
class Bm25TombstoneSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val srcDir = "/root/testdata/sf0.001"
  private val I = IncrementalIndexOps

  private def docs: DataFrame = graft.Tables.documents(spark, srcDir)
  private def corpus: DataFrame =
    docs.where(pmod(col("doc_id"), lit(97)) =!= 0)
  private def queries: DataFrame =
    docs.where(pmod(col("doc_id"), lit(97)) === 0)
      .select(col("doc_id").as("qid"), col("text"))

  private def fresh(): String =
    java.nio.file.Files.createTempDirectory("graft_tomb").toString

  private def sortedRows(df: DataFrame): Seq[String] =
    df.orderBy(df.columns.map(col): _*).collect()
      .map(_.mkString("|")).toSeq

  private def search(state: String): Seq[String] = sortedRows(
    I.bm25Search(spark, state, queries, "qid", "text", 10))

  private def oneShot(surviving: DataFrame): Seq[String] = sortedRows(
    RetrievalOps.bm25TopK(surviving, queries,
      "doc_id", "text", "qid", "text", 10).withColumnRenamed("doc_id", "id"))

  test("ingest(S1), delete(d ⊂ S1), ingest(S2) search-equals the " +
      "one-shot over (S1 ∪ S2) \\ d; stats are the survivors'") {
    val state = fresh()
    val r = corpus.agg(min(col("doc_id")), max(col("doc_id"))).head
    val mid = (r.getLong(0) + r.getLong(1)) / 2
    val s1 = corpus.where(col("doc_id") <= mid)
    val s2 = corpus.where(col("doc_id") > mid)
    val d = s1.where(pmod(col("doc_id"), lit(13)) === 0).select("doc_id")
    I.ingestTextShard(spark, s1, "doc_id", "text", state, 0L)
    StateRoot.deleteIn(spark, I.Bm25, d, "doc_id", state, 0L)
    I.ingestTextShard(spark, s2, "doc_id", "text", state, 1L)
    val surviving = corpus.where(!(col("doc_id") <= mid &&
      pmod(col("doc_id"), lit(13)) === 0))
    assert(d.count() > 0, "the deletion set must be non-trivial")
    assert(search(state) == oneShot(surviving))
    // a deleted doc never surfaces
    val hits = I.bm25Search(spark, state, queries, "qid", "text", 10)
      .join(d.withColumnRenamed("doc_id", "id"), Seq("id"), "left_semi")
    assert(hits.count() == 0)
  }

  test("deletion replay, double-delete, and unknown ids are exact " +
      "no-ops; deleting everything then searching finds nothing") {
    import spark.implicits._
    val state = fresh()
    val r = corpus.agg(min(col("doc_id")), max(col("doc_id"))).head
    val mid = (r.getLong(0) + r.getLong(1)) / 2
    val s1 = corpus.where(col("doc_id") <= mid)
    val d = s1.where(pmod(col("doc_id"), lit(13)) === 0).select("doc_id")
    I.ingestTextShard(spark, s1, "doc_id", "text", state, 0L)
    StateRoot.deleteIn(spark, I.Bm25, d, "doc_id", state, 0L)
    val after = search(state)
    // replay of the same deletion batch id: directory-ledger no-op
    StateRoot.deleteIn(spark, I.Bm25, d, "doc_id", state, 0L)
    assert(search(state) == after)
    // double-delete under a NEW batch id + ids that were never indexed:
    // zero deltas, view unchanged
    StateRoot.deleteIn(spark, I.Bm25,
      d.unionAll(Seq(-1L, -2L).toDF("doc_id")), "doc_id", state, 1L)
    assert(search(state) == after)
    val g = spark.read.parquet(s"$state/_deletes/del_globals/batch=1").head
    assert(g.getLong(0) == 0L && g.getLong(1) == 0L,
      s"no-op deletion batch must carry zero deltas, got $g")
    // an out-of-order NEW deletion batch (id below a landed one) is loud
    val e = intercept[IllegalArgumentException] {
      StateRoot.deleteIn(spark, I.Bm25, d, "doc_id", state, 5L)
      StateRoot.deleteIn(spark, I.Bm25, d, "doc_id", state, 3L)
    }
    assert(e.getMessage.contains("out-of-order"))
    // delete EVERYTHING: queries find nothing, loudly consistent
    StateRoot.deleteIn(spark, I.Bm25, s1.select("doc_id"), "doc_id", state, 6L)
    assert(search(state).isEmpty)
  }

  test("compaction folds deletion deltas like any additive fact: view " +
      "identical before/after, tombstone dirs collapse to one") {
    val state = fresh()
    val r = corpus.agg(min(col("doc_id")), max(col("doc_id"))).head
    val mid = (r.getLong(0) + r.getLong(1)) / 2
    val s1 = corpus.where(col("doc_id") <= mid)
    val s2 = corpus.where(col("doc_id") > mid)
    I.ingestTextShard(spark, s1, "doc_id", "text", state, 0L)
    StateRoot.deleteIn(spark, I.Bm25,
      s1.where(pmod(col("doc_id"), lit(13)) === 0).select("doc_id"),
      "doc_id", state, 0L)
    I.ingestTextShard(spark, s2, "doc_id", "text", state, 1L)
    StateRoot.deleteIn(spark, I.Bm25,
      s2.where(pmod(col("doc_id"), lit(29)) === 0).select("doc_id"),
      "doc_id", state, 1L)
    val before = search(state)
    StateRoot(I.Bm25, state).compact(spark)
    assert(search(state) == before)
    val fs = new Path(state).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val delDirs = fs.globStatus(
      new Path(s"$state/_deletes/del_ids/batch=*"))
    assert(delDirs.length == 1,
      s"tombstone batches must compact to one, got ${delDirs.length}")
    // the surviving view still matches the one-shot over the survivors
    val surviving = corpus.where(!(col("doc_id") <= mid &&
        pmod(col("doc_id"), lit(13)) === 0) &&
      !(col("doc_id") > mid && pmod(col("doc_id"), lit(29)) === 0))
    assert(search(state) == oneShot(surviving))
  }
}
