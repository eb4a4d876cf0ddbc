package graft.streaming

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.etl.SparkTestSession
import graft.ops.{BatchState, IncrementalCurateOps, IncrementalIndexOps,
  StateRoot}

/** Streaming deletion twin (round-16 "missing #2"): a continuous
  * takedown/deletion feed applied through
  * [[Streaming.deletionIngest]] must search-equal the batch deletion
  * ops fed the same ids — under replay, crash-mid-delete, and a purge
  * between drains (deletion-root retirement is lifecycle, not state
  * loss).
  */
class DeletionStreamSpec extends AnyFunSuite {

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
    java.nio.file.Files.createTempDirectory("graft_dels").toString

  private def landShard(base: String, watch: String, df: DataFrame,
      name: String): Unit = {
    val tmp = s"$base/tmp_$name"
    df.coalesce(1).write.parquet(tmp)
    val part = fs.globStatus(new Path(s"$tmp/part-*"))(0).getPath
    assert(fs.rename(part, new Path(s"$watch/$name.parquet")))
  }

  test("textDeletionIngest: a two-micro-batch deletion stream " +
      "search-equals the batch deleteTextDocs twin; an engine replay " +
      "changes nothing") {
    val base = fresh()
    val (watch, ckpt, state, twin) =
      (s"$base/in", s"$base/ckpt", s"$base/state", s"$base/twin")
    fs.mkdirs(new Path(watch))
    val I = IncrementalIndexOps
    I.ingestTextShard(spark, corpus, "doc_id", "text", state, 0L)
    I.ingestTextShard(spark, corpus, "doc_id", "text", twin, 0L)
    val dels1 = corpus.where(pmod(col("doc_id"), lit(7)) === 0)
      .select("doc_id")
    val dels2 = corpus.where(pmod(col("doc_id"), lit(11)) === 0)
      .select("doc_id")
    def drain(): Unit = Streaming.deletionIngest(
      spark, watch, dels1.schema, ckpt, StateRoot(I.Bm25, state), "doc_id")
    landShard(base, watch, dels1, "d1")
    drain()
    landShard(base, watch, dels2, "d2")
    drain()
    StateRoot(I.Bm25, twin).delete(spark, dels1, "doc_id")
    StateRoot(I.Bm25, twin).delete(spark, dels2, "doc_id")
    def search(dir: String) =
      sortedRows(I.bm25Search(spark, dir, queries, "qid", "text", 10))
    val streamed = search(state)
    assert(streamed == search(twin),
      "stream-applied deletions must search-equal the batch twin")
    // engine replay of the last micro-batch: the confirmed mapping skips
    assert(fs.delete(new Path(s"$ckpt/commits/1"), false))
    drain()
    assert(search(state) == streamed)
  }

  test("crash mid-delete: the replay overwrites the same tombstone " +
      "batch id and converges (no double-apply, nothing lost)") {
    val I = IncrementalIndexOps
    val base = fresh()
    val state = s"$base/state"
    I.ingestTextShard(spark, corpus, "doc_id", "text", state, 0L)
    val dels = corpus.where(pmod(col("doc_id"), lit(7)) === 0)
      .select("doc_id")
    // micro-batch 0 crashes after landing only PART of the deletion
    // batch (del_ids without the stats deltas — an all-or-nothing
    // invisible half-batch)
    intercept[RuntimeException] {
      Streaming.deletionMicroBatch(dels, 0L, state, I.DelTables) {
        (df, _, eff) =>
          BatchState.withLease(spark, state) {
            BatchState.withLease(spark, s"$state/_deletes") {
              BatchState.land(df.select(col("doc_id").as("id")),
                s"$state/_deletes", "del_ids", eff)
            }
          }
          sys.error("crash mid-delete")
      }
    }
    // replay applies the full op — the half-landed id is invisible to
    // the all-or-nothing listing, so the same id is re-chosen
    val eff = Streaming.deletionMicroBatch(dels, 0L, state,
      I.DelTables) { (df, dir, e) =>
      StateRoot.deleteIn(spark, I.Bm25, df, "doc_id", dir, e)
    }
    assert(eff == 0L, s"expected the crashed id re-chosen, got $eff")
    val twin = s"$base/twin"
    I.ingestTextShard(spark, corpus, "doc_id", "text", twin, 0L)
    StateRoot(I.Bm25, twin).delete(spark, dels, "doc_id")
    def search(dir: String) =
      sortedRows(I.bm25Search(spark, dir, queries, "qid", "text", 10))
    assert(search(state) == search(twin))
    // a second replay of the confirmed batch skips entirely
    assert(Streaming.deletionMicroBatch(dels, 0L, state, I.DelTables) {
      (_, _, _) => sys.error("must not re-run a confirmed batch")
    } == BatchState.ExternalIdAlreadyLanded)
  }

  test("purge between drains retires the deletion root (ledger " +
      "included): the stream continues on a fresh root, and a replay " +
      "of a pre-purge batch is a content no-op") {
    val I = IncrementalIndexOps
    val base = fresh()
    val state = s"$base/state"
    I.ingestTextShard(spark, corpus, "doc_id", "text", state, 0L)
    val dels1 = corpus.where(pmod(col("doc_id"), lit(7)) === 0)
      .select("doc_id")
    val dels2 = corpus.where(pmod(col("doc_id"), lit(11)) === 0)
      .select("doc_id")
    def apply(df: DataFrame, dir: String, e: Long): Unit =
      StateRoot.deleteIn(spark, I.Bm25, df, "doc_id", dir, e)
    assert(Streaming.deletionMicroBatch(dels1, 0L, state,
      I.DelTables)(apply) == 0L)
    StateRoot(I.Bm25, state).purge(spark)
    assert(!BatchState.hasDeletionRoot(spark, state),
      "purge must retire the deletion root")
    // a replay of the PRE-purge micro-batch: its ids are no longer
    // indexed — complete no-op, the root stays pristine
    assert(Streaming.deletionMicroBatch(dels1, 0L, state,
      I.DelTables)(apply) == 0L)
    assert(!BatchState.hasDeletionRoot(spark, state),
      "a purged deletion replayed must not recreate the root")
    // the NEXT micro-batch starts a fresh root
    assert(Streaming.deletionMicroBatch(dels2, 1L, state,
      I.DelTables)(apply) == 0L)
    val twin = s"$base/twin"
    I.ingestTextShard(spark, corpus, "doc_id", "text", twin, 0L)
    StateRoot(I.Bm25, twin).delete(spark, dels1, "doc_id")
    StateRoot(I.Bm25, twin).delete(spark, dels2, "doc_id")
    def search(dir: String) =
      sortedRows(I.bm25Search(spark, dir, queries, "qid", "text", 10))
    assert(search(state) == search(twin))
  }

  test("takedownIngest: a streamed takedown feed equals the batch " +
      "takedown on the curated view") {
    val C = IncrementalCurateOps
    val base = fresh()
    val (watch, ckpt, state, twin) =
      (s"$base/in", s"$base/ckpt", s"$base/state", s"$base/twin")
    fs.mkdirs(new Path(watch))
    C.ingestShard(spark, corpus, "doc_id", "text", state, 0L)
    C.ingestShard(spark, corpus, "doc_id", "text", twin, 0L)
    val kept = C.curated(spark, state).select("doc_id")
    val d1 = kept.orderBy("doc_id").limit(4)
    val d2 = kept.orderBy(col("doc_id").desc).limit(4)
    def drain(): Unit = Streaming.deletionIngest(
      spark, watch, d1.schema, ckpt, StateRoot(C.Curation, state), "doc_id")
    landShard(base, watch, d1, "t1")
    drain()
    landShard(base, watch, d2, "t2")
    drain()
    StateRoot(C.Curation, twin).delete(spark, d1, "doc_id")
    StateRoot(C.Curation, twin).delete(spark, d2, "doc_id")
    assert(sortedRows(C.curated(spark, state)) ==
      sortedRows(C.curated(spark, twin)))
  }
}
