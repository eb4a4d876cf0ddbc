package graft.ops

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.etl.SparkTestSession

/** State-compaction contract ([[BatchState.compactState]]): folding
  * every landed batch into one is INVISIBLE to every reader and every
  * later ingest — curated views, searches, and cross-batch edge passes
  * are row-identical before and after — while the per-batch directory
  * count drops to one (the small-file problem a years-long ingest
  * accumulates). The manifest protocol's critical crash window (view
  * flipped, markers not yet restored, old dirs not yet swept) is
  * simulated directly.
  */
class IncrementalCompactionSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val srcDir = "/root/testdata/sf0.001"

  private def docs: DataFrame = graft.Tables.documents(spark, srcDir)

  private def freshState(): String =
    java.nio.file.Files.createTempDirectory("graft_compact").toString

  private def sortedRows(df: DataFrame): Seq[String] =
    df.orderBy(df.columns.map(col): _*).collect()
      .map(_.mkString("|")).toSeq

  private def batchDirs(state: String, table: String): Seq[String] = {
    val fs = new Path(state).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val found = fs.globStatus(new Path(s"$state/$table/batch=*"))
    if (found == null) Seq.empty else found.map(_.getPath.getName).toSeq
  }

  test("curation: compaction is invisible to curated() and to a later " +
      "shard's cross-batch edge pass; old batch dirs are swept") {
    val state = freshState()
    val r = docs.agg(min(col("doc_id")), max(col("doc_id"))).head
    val (lo, hi) = (r.getLong(0), r.getLong(1))
    val cut1 = lo + (hi - lo) / 3
    val cut2 = lo + 2 * (hi - lo) / 3
    IncrementalCurateOps.ingestShard(spark,
      docs.where(col("doc_id") <= cut1), "doc_id", "text", state, 0L)
    IncrementalCurateOps.ingestShard(spark,
      docs.where(col("doc_id") > cut1 && col("doc_id") <= cut2),
      "doc_id", "text", state, 1L)
    val before = sortedRows(IncrementalCurateOps.curated(spark, state))
    StateRoot(IncrementalCurateOps.Curation, state).compact(spark)
    assert(sortedRows(IncrementalCurateOps.curated(spark, state)) == before)
    assert(batchDirs(state, "docs") == Seq("batch=2"),
      s"old batch dirs must be swept: ${batchDirs(state, "docs")}")
    // stats fold reads the compacted state (globals concatenated)
    val stats = IncrementalCurateOps.corpusStats(spark, state)
    assert(stats.count() >= 1)
    // a THIRD shard on top: its new/old pass joins the compacted prefix
    // index; the final view equals the one-shot over everything
    IncrementalCurateOps.ingestShard(spark,
      docs.where(col("doc_id") > cut2), "doc_id", "text", state, 3L)
    val incr = IncrementalCurateOps.curated(spark, state)
    val oneShot = CorpusOps.curate(docs, "doc_id", "text")
    assert(sortedRows(incr.select(oneShot.columns.map(col): _*)) ==
      sortedRows(oneShot))
    // replaying a pre-compaction batch id is LOUD, not silent re-ingest
    val e = intercept[IllegalArgumentException] {
      IncrementalCurateOps.ingestShard(spark, docs.limit(3),
        "doc_id", "text", state, 1L)
    }
    assert(e.getMessage.contains("out-of-order"))
  }

  test("BM25: compaction is invisible to search; re-compaction is a " +
      "no-op; post-compaction ingest searches the union") {
    val I = IncrementalIndexOps
    val state = freshState()
    val corpus = docs.where(pmod(col("doc_id"), lit(97)) =!= 0)
    val queries = docs.where(pmod(col("doc_id"), lit(97)) === 0)
      .select(col("doc_id").as("qid"), col("text"))
    val r = corpus.agg(min(col("doc_id")), max(col("doc_id"))).head
    val (lo, hi) = (r.getLong(0), r.getLong(1))
    val cut1 = lo + (hi - lo) / 3
    val cut2 = lo + 2 * (hi - lo) / 3
    I.ingestTextShard(spark, corpus.where(col("doc_id") <= cut1),
      "doc_id", "text", state, 0L)
    I.ingestTextShard(spark,
      corpus.where(col("doc_id") > cut1 && col("doc_id") <= cut2),
      "doc_id", "text", state, 1L)
    def search() = I.bm25Search(spark, state, queries, "qid", "text", 10)
    val before = sortedRows(search())
    StateRoot(I.Bm25, state).compact(spark)
    assert(sortedRows(search()) == before)
    // single batch left: no-op + gc only
    StateRoot(I.Bm25, state).compact(spark)
    assert(sortedRows(search()) == before)
    I.ingestTextShard(spark, corpus.where(col("doc_id") > cut2),
      "doc_id", "text", state, 5L)
    val full = RetrievalOps.bm25TopK(corpus, queries,
      "doc_id", "text", "qid", "text", 10).withColumnRenamed("doc_id", "id")
    assert(sortedRows(search()) == sortedRows(full))
  }

  test("compaction between STREAM drains: the next micro-batch lands " +
      "under a fresh effective id instead of colliding with the " +
      "compacted batch (checkpoint ids and state ids are decoupled)") {
    val I = IncrementalIndexOps
    val base = freshState()
    val (watch, ckpt, state) = (s"$base/in", s"$base/ckpt", s"$base/state")
    val fs = new Path(base).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new Path(watch))
    val corpus = docs.where(pmod(col("doc_id"), lit(97)) =!= 0)
    val queries = docs.where(pmod(col("doc_id"), lit(97)) === 0)
      .select(col("doc_id").as("qid"), col("text"))
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
    val r = corpus.agg(min(col("doc_id")), max(col("doc_id"))).head
    val (lo, hi) = (r.getLong(0), r.getLong(1))
    val cut1 = lo + (hi - lo) / 3
    val cut2 = lo + 2 * (hi - lo) / 3
    landShard(corpus.where(col("doc_id") <= cut1), "s1")
    drain() // checkpoint batch 0 -> state batch 0
    landShard(corpus.where(col("doc_id") > cut1 && col("doc_id") <= cut2),
      "s2")
    drain() // checkpoint batch 1 -> state batch 1
    // state batches 0,1 -> compacted batch 2
    StateRoot(I.Bm25, state).compact(spark)
    // the checkpoint will number the NEXT micro-batch 2 — exactly the
    // compacted batch's id; the input ledger must remap it, not absorb it
    landShard(corpus.where(col("doc_id") > cut2), "s3")
    drain()
    val full = RetrievalOps.bm25TopK(corpus, queries,
      "doc_id", "text", "qid", "text", 10).withColumnRenamed("doc_id", "id")
    assert(sortedRows(I.bm25Search(spark, state, queries, "qid", "text", 10))
      == sortedRows(full),
      "the post-compaction micro-batch must ingest as new data")
  }

  test("automatic compaction policy: compactEvery folds state inside " +
      "the streaming drain itself — search stays union-identical and " +
      "the batch-directory count never grows past the threshold") {
    val I = IncrementalIndexOps
    val base = freshState()
    val (watch, ckpt, state) = (s"$base/in", s"$base/ckpt", s"$base/state")
    val fs = new Path(base).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new Path(watch))
    val corpus = docs.where(pmod(col("doc_id"), lit(97)) =!= 0)
    val queries = docs.where(pmod(col("doc_id"), lit(97)) === 0)
      .select(col("doc_id").as("qid"), col("text"))
    def landShard(df: DataFrame, name: String): Unit = {
      val tmp = s"$base/tmp_$name"
      df.coalesce(1).write.parquet(tmp)
      val part = fs.globStatus(new Path(s"$tmp/part-*"))(0).getPath
      assert(fs.rename(part, new Path(s"$watch/$name.parquet")))
    }
    def drain(): Unit = graft.streaming.Streaming.stateIngest(
      spark, watch, corpus.schema, ckpt,
      StateRoot(IncrementalIndexOps.Bm25, state),
      "doc_id", compactEvery = 2) { (df, k) =>
      IncrementalIndexOps.ingestTextShard(df.sparkSession, df, "doc_id",
        "text", state, k)
    }
    val r = corpus.agg(min(col("doc_id")), max(col("doc_id"))).head
    val (lo, hi) = (r.getLong(0), r.getLong(1))
    val q1 = lo + (hi - lo) / 4
    val q2 = lo + (hi - lo) / 2
    val q3 = lo + 3 * (hi - lo) / 4
    val shards = Seq(
      corpus.where(col("doc_id") <= q1),
      corpus.where(col("doc_id") > q1 && col("doc_id") <= q2),
      corpus.where(col("doc_id") > q2 && col("doc_id") <= q3),
      corpus.where(col("doc_id") > q3))
    shards.zipWithIndex.foreach { case (df, i) =>
      landShard(df, s"s$i")
      drain()
      // the policy runs INSIDE the drain: at most `compactEvery`
      // directories survive any drain (the freshly-landed batch is
      // folded immediately once the threshold is reached)
      assert(batchDirs(state, "postings").size <= 2,
        s"auto-compaction must bound the dir count, got " +
          s"${batchDirs(state, "postings")}")
    }
    val full = RetrievalOps.bm25TopK(corpus, queries,
      "doc_id", "text", "qid", "text", 10).withColumnRenamed("doc_id", "id")
    assert(sortedRows(
      I.bm25Search(spark, state, queries, "qid", "text", 10)) ==
      sortedRows(full),
      "search over auto-compacted streaming state equals the one-shot")
  }

  test("the critical crash window — manifest flipped, markers not yet " +
      "restored, old dirs not yet swept — still reads exactly the " +
      "compacted view (no double-count, no empty view)") {
    val I = IncrementalIndexOps
    val state = freshState()
    val corpus = docs.where(pmod(col("doc_id"), lit(97)) =!= 0)
    val queries = docs.where(pmod(col("doc_id"), lit(97)) === 0)
      .select(col("doc_id").as("qid"), col("text"))
    val mid = {
      val r = corpus.agg(min(col("doc_id")), max(col("doc_id"))).head
      (r.getLong(0) + r.getLong(1)) / 2
    }
    I.ingestTextShard(spark, corpus.where(col("doc_id") <= mid),
      "doc_id", "text", state, 0L)
    I.ingestTextShard(spark, corpus.where(col("doc_id") > mid),
      "doc_id", "text", state, 1L)
    def search() = I.bm25Search(spark, state, queries, "qid", "text", 10)
    val before = sortedRows(search())
    StateRoot(I.Bm25, state).compact(spark)
    // simulate the window: resurrect one OLD batch dir (as if gc never
    // ran) and strip the compacted batch's markers (as if restore never
    // ran) — the manifest alone must still produce the compacted view
    val fs = new Path(state).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    for (t <- Seq("postings", "doclen", "tokstats", "globals")) {
      fs.delete(new Path(s"$state/$t/batch=2/_SUCCESS"), false)
      // a stale old dir WITH a marker — the double-count bait
      fs.mkdirs(new Path(s"$state/$t/batch=0"))
      fs.create(new Path(s"$state/$t/batch=0/_SUCCESS"), true).close()
      spark.read.parquet(s"$state/$t/batch=2")
        .limit(1).write.mode("append").parquet(s"$state/$t/batch=0")
    }
    assert(sortedRows(search()) == before,
      "the manifest view must ignore resurrected old dirs and trust " +
        "the listed compacted batch without markers")
  }
}
