package graft.ops

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.etl.SparkTestSession

/** Takedown contract of the curation family
  * ([[StateRoot.delete]]): documents are permanently
  * removed from the curated view (stable pack ids — a hole, never a
  * reshuffle), their suppressed duplicates stay suppressed, stats are
  * the survivors' exactly (min/max recomputed, not delta'd), and the
  * composed curate→index layout retracts from the search index too.
  */
class TakedownSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val srcDir = "/root/testdata/sf0.001"
  private val C = IncrementalCurateOps

  private def docs: DataFrame = graft.Tables.documents(spark, srcDir)

  private def fresh(): String =
    java.nio.file.Files.createTempDirectory("graft_takedown").toString

  private def sortedRows(df: DataFrame): Seq[String] =
    df.orderBy(df.columns.map(col): _*).collect()
      .map(_.mkString("|")).toSeq

  test("takedown removes exactly the asked held docs from curated(): " +
      "stable pack ids (= pre-takedown rows minus the holes), corpus " +
      "stats recomputed over survivors, replays/unknown ids no-op") {
    val state = fresh()
    val r = docs.agg(min(col("doc_id")), max(col("doc_id"))).head
    val mid = (r.getLong(0) + r.getLong(1)) / 2
    C.ingestShard(spark, docs.where(col("doc_id") <= mid),
      "doc_id", "text", state, 0L)
    C.ingestShard(spark, docs.where(col("doc_id") > mid),
      "doc_id", "text", state, 1L)
    val before = C.curated(spark, state)
    val beforeRows = sortedRows(before)
    val d = docs.where(pmod(col("doc_id"), lit(11)) === 0)
      .select("doc_id")
    StateRoot.deleteIn(spark, C.Curation, d, "doc_id", state, 0L)
    val after = C.curated(spark, state)
    // exactly the pre-takedown output minus the tombstoned rows: pack
    // ids stable, nothing resurrected, nothing reshuffled
    assert(sortedRows(after) ==
      sortedRows(before.join(d, Seq("doc_id"), "left_anti")))
    assert(after.join(d, Seq("doc_id"), "left_semi").count() == 0)
    assert(sortedRows(after) != beforeRows, "takedown must remove rows")
    // stats are the survivors': equal to a recompute over the docs
    // metadata minus the tombstones (min/max included)
    val stats = C.corpusStats(spark, state)
    assert(stats.agg(sum(col("n_docs"))).head.getLong(0) ==
      spark.read.parquet(s"$state/docs/batch=0", s"$state/docs/batch=1")
        .join(d, Seq("doc_id"), "left_anti").count())
    // replay of the landed tombstone batch + unknown ids: no-ops
    StateRoot.deleteIn(spark, C.Curation, d, "doc_id", state, 0L)
    import spark.implicits._
    StateRoot.deleteIn(spark, C.Curation, Seq(-1L).toDF("doc_id"), "doc_id", state, 1L)
    assert(sortedRows(C.curated(spark, state)) == sortedRows(after))
  }

  test("composed takedown: removed from the curated view AND retracted " +
      "from the searchable index; idempotent re-run") {
    val corpus = docs.where(pmod(col("doc_id"), lit(97)) =!= 0)
    val queries = docs.where(pmod(col("doc_id"), lit(97)) === 0)
      .select(col("doc_id").as("qid"), col("text"))
    val root = fresh()
    val (curateDir, indexDir) = (s"$root/curate", s"$root/index")
    val r = corpus.agg(min(col("doc_id")), max(col("doc_id"))).head
    val mid = (r.getLong(0) + r.getLong(1)) / 2
    def micro(df: DataFrame, ckptId: Long): Long =
      graft.streaming.Streaming.ingestMicroBatchKeyed(df, ckptId,
        curateDir, C.CoreTables, "doc_id", composed = true)((d, k, key) =>
        graft.streaming.Streaming.curateAndIndexBatch(
          d, k, key, curateDir, indexDir, "doc_id", "text",
          C.CurateConfig()))
    micro(corpus.where(col("doc_id") <= mid), 0)
    micro(corpus.where(col("doc_id") > mid), 1)
    // take down some docs that ARE currently kept+indexed
    val kept = C.curated(spark, curateDir).select("doc_id")
    val d = kept.orderBy("doc_id").limit(5)
    graft.streaming.Streaming.composedTakedown(spark, root, d, "doc_id")
    assert(C.curated(spark, curateDir)
      .join(d, Seq("doc_id"), "left_semi").count() == 0)
    val hits = IncrementalIndexOps
      .bm25Search(spark, indexDir, queries, "qid", "text", 10)
      .join(d.withColumnRenamed("doc_id", "id"), Seq("id"), "left_semi")
    assert(hits.count() == 0, "taken-down docs must not be searchable")
    // idempotent re-run (the crash-between-halves recovery)
    graft.streaming.Streaming.composedTakedown(spark, root, d, "doc_id")
    assert(C.curated(spark, curateDir)
      .join(d, Seq("doc_id"), "left_semi").count() == 0)
    // the stream keeps draining on top of the takedown
    micro(corpus.limit(0), 2)
  }
}
