package graft.ops

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.etl.SparkTestSession

/** Physical tombstone reclamation
  * ([[StateRoot.purge]] on a BM25 root): one transformed compaction
  * anti-joins the tombstoned docs out of postings/doclen, recomputes
  * the statistics from the survivors, and retires the deletion root —
  * search results identical before/after, bytes actually gone, and
  * the three crash windows of the cross-root protocol (marker written
  * but flip crashed; flip committed but retirement crashed; marker
  * created but never written) all resolve correctly for readers and
  * are healed by the next writer.
  */
class Bm25PurgeSpec extends AnyFunSuite {

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
    java.nio.file.Files.createTempDirectory("graft_purge").toString

  private def fs = new Path("/").getFileSystem(
    spark.sparkContext.hadoopConfiguration)

  private def sortedRows(df: DataFrame): Seq[String] =
    df.orderBy(df.columns.map(col): _*).collect()
      .map(_.mkString("|")).toSeq

  private def search(state: String): Seq[String] = sortedRows(
    I.bm25Search(spark, state, queries, "qid", "text", 10))

  /** State with two ingested shards and one deletion batch; returns
    * (stateDir, deleted ids df, surviving corpus df).
    */
  private def deletedState(): (String, DataFrame, DataFrame) = {
    val state = fresh()
    val r = corpus.agg(min(col("doc_id")), max(col("doc_id"))).head
    val mid = (r.getLong(0) + r.getLong(1)) / 2
    val d = corpus.where(col("doc_id") <= mid &&
      pmod(col("doc_id"), lit(13)) === 0).select("doc_id")
    I.ingestTextShard(spark, corpus.where(col("doc_id") <= mid),
      "doc_id", "text", state, 0L)
    StateRoot.deleteIn(spark, I.Bm25, d, "doc_id", state, 0L)
    I.ingestTextShard(spark, corpus.where(col("doc_id") > mid),
      "doc_id", "text", state, 1L)
    val surviving = corpus.where(!(col("doc_id") <= mid &&
      pmod(col("doc_id"), lit(13)) === 0))
    (state, d, surviving)
  }

  test("purge: search identical before/after, tombstoned postings " +
      "physically gone, deletion root retired, stats recomputed from " +
      "survivors; later deletions start a clean ledger") {
    val (state, d, surviving) = deletedState()
    val before = search(state)
    StateRoot(I.Bm25, state).purge(spark)
    assert(search(state) == before)
    // bytes actually gone: no tombstoned id anywhere in postings/doclen
    val landed = BatchState.landedBatchIds(spark, state,
      Seq("postings", "doclen", "tokstats", "globals"), None)
    val posts = spark.read.parquet(
      landed.map(k => s"$state/postings/batch=$k"): _*)
    assert(posts.join(d.withColumnRenamed("doc_id", "id"), Seq("id"),
      "left_semi").count() == 0, "tombstoned postings must be purged")
    assert(!fs.exists(new Path(s"$state/_deletes")) ||
      fs.globStatus(new Path(s"$state/_deletes/del_ids/batch=*")) == null ||
      fs.globStatus(new Path(s"$state/_deletes/del_ids/batch=*")).isEmpty,
      "the deletion root's tables must be retired")
    // stats really are the survivors': globals equals a fresh build's
    val g = spark.read.parquet(
      landed.map(k => s"$state/globals/batch=$k"): _*)
      .agg(sum(col("n_docs")), sum(col("totlen"))).head
    val freshState = fresh()
    I.ingestTextShard(spark, surviving, "doc_id", "text", freshState, 0L)
    val gf = spark.read.parquet(s"$freshState/globals/batch=0")
      .agg(sum(col("n_docs")), sum(col("totlen"))).head
    assert(g == gf, s"purged stats $g must equal a fresh build's $gf")
    // a NEW deletion after the purge works on the clean ledger
    val d2 = surviving.limit(3).select("doc_id")
    StateRoot.deleteIn(spark, I.Bm25, d2, "doc_id", state, 0L)
    val afterD2 = search(state)
    val oneShot = RetrievalOps.bm25TopK(
      surviving.join(d2, Seq("doc_id"), "left_anti"), queries,
      "doc_id", "text", "qid", "text", 10).withColumnRenamed("doc_id", "id")
    assert(afterD2 == sortedRows(oneShot))
  }

  test("crash window A — marker written, flip never happened: readers " +
      "keep applying deltas; the next compaction discards the stale " +
      "marker instead of letting its own flip falsely commit the purge") {
    val (state, _, surviving) = deletedState()
    val before = search(state)
    assert(before == sortedRows(RetrievalOps.bm25TopK(surviving, queries,
      "doc_id", "text", "qid", "text", 10).withColumnRenamed("doc_id", "id")))
    // simulate: purge wrote its marker naming the NEXT version, then died
    val v = BatchState.manifestVersion(spark, state)
    val out = fs.create(new Path(s"$state/_deletes/.purged_at"), true)
    out.write((v + 1).toString.getBytes("UTF-8")); out.close()
    assert(search(state) == before,
      "an uncommitted purge marker must not suppress the deltas")
    // a PLAIN compaction now increments the version to exactly v+1 —
    // without healing, the stale marker would 'commit' and resurrect
    // the deleted docs
    StateRoot(I.Bm25, state).compact(spark)
    assert(!fs.exists(new Path(s"$state/_deletes/.purged_at")),
      "compactText must discard the stale marker before flipping")
    assert(search(state) == before,
      "deltas still applied after the plain compaction")
  }

  test("crash window B — flip committed, retirement crashed: readers " +
      "ignore the surviving tombstones (no double-subtraction); the " +
      "next deletion heals and lands cleanly") {
    val (state, _, surviving) = deletedState()
    StateRoot(I.Bm25, state).purge(spark)
    val purged = search(state)
    // resurrect the window: tombstone tables + a marker naming the
    // already-reached version (exactly what a crash between the flip
    // and the retirement leaves behind)
    val freshDel = fresh()
    I.ingestTextShard(spark, corpus, "doc_id", "text", freshDel, 0L)
    StateRoot.deleteIn(spark, I.Bm25,
      corpus.limit(500).select("doc_id"), "doc_id", freshDel, 0L)
    for (t <- Seq("del_ids", "del_tokstats", "del_globals"))
      assert(fs.rename(new Path(s"$freshDel/_deletes/$t"),
        new Path(s"$state/_deletes/$t")))
    val v = BatchState.manifestVersion(spark, state)
    val out = fs.create(new Path(s"$state/_deletes/.purged_at"), true)
    out.write(v.toString.getBytes("UTF-8")); out.close()
    assert(search(state) == purged,
      "committed-purge leftovers must not re-subtract deltas")
    // the next writer retires the leftovers and lands its own deletion
    val d2 = surviving.limit(3).select("doc_id")
    StateRoot.deleteIn(spark, I.Bm25, d2, "doc_id", state, 0L)
    assert(!fs.exists(new Path(s"$state/_deletes/.purged_at")))
    val oneShot = RetrievalOps.bm25TopK(
      surviving.join(d2, Seq("doc_id"), "left_anti"), queries,
      "doc_id", "text", "qid", "text", 10).withColumnRenamed("doc_id", "id")
    assert(search(state) == sortedRows(oneShot))
  }

  test("crash window C — marker created but never written: an empty " +
      "marker reads as uncommitted, searches keep applying the deltas, " +
      "and the next compaction removes it") {
    val (state, _, _) = deletedState()
    val before = search(state)
    val marker = new Path(s"$state/_deletes/.purged_at")
    fs.create(marker, true).close()
    assert(search(state) == before,
      "an empty purge marker must not wedge or change reads")
    StateRoot(I.Bm25, state).compact(spark)
    assert(!fs.exists(marker), "the next writer discards the empty marker")
    assert(search(state) == before)
  }
}
