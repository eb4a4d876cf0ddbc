package graft.ops

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.etl.SparkTestSession

/** Incremental curation contract: shard-by-shard processing is
  * indistinguishable from a one-shot [[CorpusOps.curate]] over the
  * union — including under batch replay and a crash-mid-shard restart —
  * and corpus stats folded with mergeAggStates equal a union recompute.
  */
class IncrementalCurateSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val srcDir = "/root/testdata/sf0.001"

  private def docs: DataFrame = graft.Tables.documents(spark, srcDir)

  private def freshState(): String =
    java.nio.file.Files.createTempDirectory("graft_incr_state").toString

  private def sortedRows(df: DataFrame): Seq[String] =
    df.orderBy("doc_id").collect().map(_.mkString("|")).toSeq

  private def splitAt(mid: Long): (DataFrame, DataFrame) =
    (docs.where(col("doc_id") <= mid), docs.where(col("doc_id") > mid))

  private def midId: Long = {
    val r = docs.agg(min(col("doc_id")), max(col("doc_id"))).head
    (r.getLong(0) + r.getLong(1)) / 2
  }

  test("two-shard incremental curation row-equals one-shot curate on the union") {
    val state = freshState()
    val (a, b) = splitAt(midId)
    IncrementalCurateOps.ingestShard(spark, a, "doc_id", "text", state, 0L)
    IncrementalCurateOps.ingestShard(spark, b, "doc_id", "text", state, 1L)
    val incr = IncrementalCurateOps.curated(spark, state)
    val oneShot = CorpusOps.curate(docs, "doc_id", "text")
    assert(incr.columns.sorted.sameElements(oneShot.columns.sorted))
    assert(sortedRows(incr.select(oneShot.columns.map(col): _*)) ==
      sortedRows(oneShot))
  }

  test("three ascending shards still equal the union one-shot " +
      "(cross-shard merges of earlier clusters handled)") {
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
    IncrementalCurateOps.ingestShard(spark,
      docs.where(col("doc_id") > cut2), "doc_id", "text", state, 2L)
    val incr = IncrementalCurateOps.curated(spark, state)
    val oneShot = CorpusOps.curate(docs, "doc_id", "text")
    assert(sortedRows(incr.select(oneShot.columns.map(col): _*)) ==
      sortedRows(oneShot))
  }

  test("replaying a landed batch is a no-op (exactly-once by directory ledger)") {
    val state = freshState()
    val (a, b) = splitAt(midId)
    IncrementalCurateOps.ingestShard(spark, a, "doc_id", "text", state, 0L)
    IncrementalCurateOps.ingestShard(spark, b, "doc_id", "text", state, 1L)
    val before = sortedRows(IncrementalCurateOps.curated(spark, state))
    // replay batch 1 with DIFFERENT content — the gate is the ledger
    // (the landed directory), not the data, same contract as
    // ExactlyOnceSink.ledgered
    IncrementalCurateOps.ingestShard(spark, a.limit(3), "doc_id", "text",
      state, 1L)
    assert(sortedRows(IncrementalCurateOps.curated(spark, state)) == before)
  }

  test("crash mid-shard: restart recomputes the batch and lands the " +
      "same state as an uninterrupted run") {
    val state = freshState()
    val (a, b) = splitAt(midId)
    IncrementalCurateOps.ingestShard(spark, a, "doc_id", "text", state, 0L)
    IncrementalCurateOps.ingestShard(spark, b, "doc_id", "text", state, 1L)
    // simulate the crash: batch 1 died after landing docs+prefix but
    // before edges/stats — strip their _SUCCESS markers and corrupt the
    // edges dir the way a killed task run leaves it
    val fs = new Path(state).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new Path(s"$state/edges/batch=1/_SUCCESS"), false))
    assert(fs.delete(new Path(s"$state/stats/batch=1"), true))
    assert(!StateRoot(IncrementalCurateOps.Curation, state).landed(spark, 1L))
    // curated() must ignore the half-landed batch entirely
    val partial = IncrementalCurateOps.curated(spark, state)
    val batch0Only = {
      val s2 = freshState()
      IncrementalCurateOps.ingestShard(spark, a, "doc_id", "text", s2, 0L)
      IncrementalCurateOps.curated(spark, s2)
    }
    assert(sortedRows(partial) == sortedRows(batch0Only),
      "uncommitted batches must be invisible")
    // restart the shard: recompute + overwrite, then full parity again
    IncrementalCurateOps.ingestShard(spark, b, "doc_id", "text", state, 1L)
    assert(StateRoot(IncrementalCurateOps.Curation, state).landed(spark, 1L))
    val incr = IncrementalCurateOps.curated(spark, state)
    val oneShot = CorpusOps.curate(docs, "doc_id", "text")
    assert(sortedRows(incr.select(oneShot.columns.map(col): _*)) ==
      sortedRows(oneShot))
  }

  test("out-of-order ingest fails loudly instead of silently losing " +
      "cross-batch edges") {
    val state = freshState()
    val (a, b) = splitAt(midId)
    IncrementalCurateOps.ingestShard(spark, a, "doc_id", "text", state, 0L)
    IncrementalCurateOps.ingestShard(spark, b, "doc_id", "text", state, 2L)
    // batch 1 arriving after batch 2 landed: its docs were never seen
    // by batch 2's new/old pass, so edges between them would be missing
    val e = intercept[IllegalArgumentException] {
      IncrementalCurateOps.ingestShard(spark, a.limit(3), "doc_id", "text",
        state, 1L)
    }
    assert(e.getMessage.contains("out-of-order"))
    // replaying an already-LANDED batch is still the idempotent no-op,
    // not an ordering error
    IncrementalCurateOps.ingestShard(spark, b.limit(3), "doc_id", "text",
      state, 2L)
  }

  test("incremental cluster map equals a full CC recompute across 3 " +
      "batches, including a new doc merging two clusters from DIFFERENT " +
      "earlier batches") {
    import spark.implicits._
    // two shingle-disjoint families: A-docs interleave the en-unique
    // stopword "the", B-docs interleave "and" — every 3-shingle contains
    // a family-unique token, so J(A,B)=0; the bridge doc is A's tokens
    // followed by B's, sharing ~half its shingles with each side
    // (>= 0.4, < 0.5 — hence the lowered threshold)
    def weave(prefix: String, stop: String, n: Int): String =
      (1 to n).map(i => s"$prefix$i $stop").mkString(" ")
    val aText = weave("qa", "the", 24)
    val bText = weave("qb", "and", 24)
    val docs = Seq(
      (1L, aText),
      (2L, weave("qa", "the", 23) + " qx the"),
      (3L, bText),
      (4L, weave("qb", "and", 23) + " qy and"),
      (5L, s"$aText $bText"))
    val cfg = IncrementalCurateOps.CurateConfig(jaccardThreshold = 0.4)
    val state = freshState()
    def shard(ids: Long*): org.apache.spark.sql.DataFrame =
      docs.filter(d => ids.contains(d._1)).toDF("doc_id", "text")
    IncrementalCurateOps.ingestShard(spark, shard(1L, 2L), "doc_id", "text",
      state, 0L, cfg)
    IncrementalCurateOps.ingestShard(spark, shard(3L, 4L), "doc_id", "text",
      state, 1L, cfg)
    // the first four docs must survive the lang/quality/exact-dedup
    // gates, or the scenario tests nothing
    assert(spark.read.parquet(s"$state/docs/batch=0", s"$state/docs/batch=1")
      .count() == 4)
    // before the bridge: two separate two-doc clusters from different batches
    def snapshot(batch: Long): Map[Long, Long] =
      spark.read.parquet(s"$state/clusters/batch=$batch")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(snapshot(1L) == Map(2L -> 1L, 4L -> 3L))
    // the bridge doc merges cluster{1,2} (batch 0) with cluster{3,4}
    // (batch 1) — the old-old merge the condensed CC must propagate
    IncrementalCurateOps.ingestShard(spark, shard(5L), "doc_id", "text",
      state, 2L, cfg)
    assert(snapshot(2L) == Map(2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L))
    // and the incremental map equals a from-scratch CC over the full
    // accumulated edge set
    val allDocs = spark.read.parquet(
      (0L to 2L).map(k => s"$state/docs/batch=$k"): _*).select("doc_id")
    val allEdges = spark.read.parquet(
      (0L to 2L).map(k => s"$state/edges/batch=$k"): _*)
    val full = DedupOps.connectedComponents(
        allDocs, "doc_id", allEdges, "doc_a", "doc_b")
      .where(col("cluster") =!= col("doc_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(snapshot(2L) == full)
  }

  test("corpusStats folds per-batch agg states into the union recompute") {
    val state = freshState()
    val (a, b) = splitAt(midId)
    IncrementalCurateOps.ingestShard(spark, a, "doc_id", "text", state, 0L)
    IncrementalCurateOps.ingestShard(spark, b, "doc_id", "text", state, 1L)
    val merged = IncrementalCurateOps.corpusStats(spark, state)
      .orderBy("pred_lang").collect().map(_.mkString("|")).toSeq
    // the direct recompute over the union's stage-1 survivors
    val cfg = IncrementalCurateOps.CurateConfig()
    val scored = docs.select(col("doc_id"), col("text"),
        TextOps.langId(col("text")).as("pred_lang"),
        TextOps.qualityScoreMillionths(col("text")).as("quality_e6"))
      .where(col("pred_lang") === cfg.lang &&
        col("quality_e6") >= cfg.minQualityE6)
    val s1 = scored.join(
      scored.groupBy(TextOps.fingerprint(col("text")).as("fp"))
        .agg(min(col("doc_id")).as("doc_id")).select("doc_id"),
      Seq("doc_id"), "left_semi")
    val direct = s1.groupBy(col("pred_lang")).agg(
        count(lit(1)).as("n_docs"),
        sum(size(TextOps.tokens(col("text"))).cast("long")).as("sum_tok"),
        min(col("quality_e6")).as("min_quality_e6"),
        max(col("quality_e6")).as("max_quality_e6"))
      .orderBy("pred_lang").collect().map(_.mkString("|")).toSeq
    assert(merged == direct)
  }

  test("streaming curationIngest: file-source micro-batches fold into " +
      "the same state as batch ingestShard, and a restart that replays " +
      "the last micro-batch is an idempotent no-op") {
    val base = java.nio.file.Files
      .createTempDirectory("graft_stream_curate").toString
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
      spark, watch, docs.schema, ckpt,
      StateRoot(IncrementalCurateOps.Curation, state), "doc_id") {
      (df, k) => IncrementalCurateOps.ingestShard(df.sparkSession, df,
        "doc_id", "text", state, k)
    }
    val (a, b) = splitAt(midId)
    landShard(a, "s1")
    drain()
    landShard(b, "s2")
    drain()
    assert(StateRoot(IncrementalCurateOps.Curation, state).landed(spark, 0L))
    assert(StateRoot(IncrementalCurateOps.Curation, state).landed(spark, 1L))
    val streamed = sortedRows(IncrementalCurateOps.curated(spark, state))
    val oneShot = sortedRows(CorpusOps.curate(docs, "doc_id", "text"))
    assert(streamed == oneShot)
    // crash between the sink commit and the checkpoint commit: drop the
    // stream's LAST commit marker so a restart replays micro-batch 1 —
    // ingestShard's directory ledger must absorb the replay untouched
    assert(fs.delete(new Path(s"$ckpt/commits/1"), false))
    drain()
    assert(sortedRows(IncrementalCurateOps.curated(spark, state)) == streamed)
    // a LOST checkpoint renumbers micro-batches from 0 against the
    // surviving state — the ledger would silently no-op new data as a
    // "replay"; the ingest must refuse instead
    assert(fs.delete(new Path(ckpt), true))
    landShard(b.limit(3), "s3")
    val e = intercept[Exception] { drain() }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ chain(t.getCause)
    assert(chain(e).exists(_.contains("checkpoint was lost or reset")),
      s"checkpoint-reset guard should fire, got: ${chain(e).mkString(" | ")}")
    // and the guard fired BEFORE any state was touched
    assert(sortedRows(IncrementalCurateOps.curated(spark, state)) == streamed)
  }

  test("a legacy (pre-snapshot) state dir is migrated in place: missing " +
      "cluster snapshots are folded from the landed edges, nothing is " +
      "dropped, and ingestion continues on top") {
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
    // strip the snapshots (and the params fingerprint, and the
    // migration marker) — exactly what a state dir written by the
    // pre-r15 build looks like: that build wrote none of the three
    val fs = new Path(state).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new Path(s"$state/clusters"), true))
    assert(fs.delete(new Path(s"$state/_params"), true))
    fs.delete(new Path(s"$state/_manifest/.migrated"), false)
    // curated() is a read API: it must refuse the legacy shape loudly
    // (not write into it), naming the migration entry point
    val refusal = intercept[IllegalArgumentException] {
      IncrementalCurateOps.curated(spark, state)
    }
    assert(refusal.getMessage.contains("migrateLegacyState"))
    // the explicit (write-credentialed) migration restores the view —
    // the old corpus must NOT vanish
    IncrementalCurateOps.migrateLegacyState(spark, state)
    val migrated = IncrementalCurateOps.curated(spark, state)
    val twoShardFresh = {
      val s2 = freshState()
      IncrementalCurateOps.ingestShard(spark,
        docs.where(col("doc_id") <= cut1), "doc_id", "text", s2, 0L)
      IncrementalCurateOps.ingestShard(spark,
        docs.where(col("doc_id") > cut1 && col("doc_id") <= cut2),
        "doc_id", "text", s2, 1L)
      IncrementalCurateOps.curated(spark, s2)
    }
    assert(sortedRows(migrated) == sortedRows(twoShardFresh))
    // ingestShard ALSO migrates (it is already a state writer): strip
    // the snapshots again and ingest a THIRD shard directly — it must
    // first restore batches 0-1's snapshots, then fold its own edges on
    // top (in-order guard intact, cross-batch edges found)
    assert(fs.delete(new Path(s"$state/clusters"), true))
    fs.delete(new Path(s"$state/_manifest/.migrated"), false)
    IncrementalCurateOps.ingestShard(spark,
      docs.where(col("doc_id") > cut2), "doc_id", "text", state, 2L)
    val incr = IncrementalCurateOps.curated(spark, state)
    val oneShot = CorpusOps.curate(docs, "doc_id", "text")
    assert(sortedRows(incr.select(oneShot.columns.map(col): _*)) ==
      sortedRows(oneShot))
  }

  test("parameter drift across curation batches fails loudly") {
    val state = freshState()
    val (a, b) = splitAt(midId)
    IncrementalCurateOps.ingestShard(spark, a, "doc_id", "text", state, 0L)
    val e = intercept[IllegalArgumentException] {
      IncrementalCurateOps.ingestShard(spark, b, "doc_id", "text", state, 1L,
        IncrementalCurateOps.CurateConfig(jaccardThreshold = 0.9))
    }
    assert(e.getMessage.contains("parameters"))
  }
}
