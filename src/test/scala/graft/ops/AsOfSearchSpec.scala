package graft.ops

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.etl.SparkTestSession

/** AS-OF reads + the DESCRIBE surface: the index at a historical batch
  * cut is row-identical to a search taken at that moment, the honest
  * bounds (folded history, live tombstones) refuse loudly, and
  * [[StateRoot.describe]] reports the operational facts an operator keys
  * compact/purge/expire/cutover decisions on.
  */
class AsOfSearchSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val srcDir = "/root/testdata/sf0.001"

  private def docs: DataFrame = graft.Tables.documents(spark, srcDir)
  private def corpus: DataFrame =
    docs.where(pmod(col("doc_id"), lit(97)) =!= 0)
  private def queries: DataFrame =
    docs.where(pmod(col("doc_id"), lit(97)) === 0)
      .select(col("doc_id").as("qid"), col("text"))

  private def sortedRows(df: DataFrame): Seq[String] =
    df.orderBy(df.columns.map(col): _*).collect()
      .map(_.mkString("|")).toSeq

  private def fresh(): String =
    java.nio.file.Files.createTempDirectory("graft_asof").toString

  private def thirds(df: DataFrame): (Long, Long) = {
    val r = df.agg(min(col("doc_id")), max(col("doc_id"))).head
    val (lo, hi) = (r.getLong(0), r.getLong(1))
    (lo + (hi - lo) / 3, lo + 2 * (hi - lo) / 3)
  }

  test("bm25 as-of batch k equals the search taken when k was newest; " +
      "a cut below the compaction watermark refuses loudly") {
    val I = IncrementalIndexOps
    val (cut1, cut2) = thirds(corpus)
    val state = fresh()
    I.ingestTextShard(spark, corpus.where(col("doc_id") <= cut1),
      "doc_id", "text", state, 0L)
    val at0 = sortedRows(I.bm25Search(spark, state, queries,
      "qid", "text", 10))
    I.ingestTextShard(spark, corpus.where(
      col("doc_id") > cut1 && col("doc_id") <= cut2),
      "doc_id", "text", state, 1L)
    val at1 = sortedRows(I.bm25Search(spark, state, queries,
      "qid", "text", 10))
    I.ingestTextShard(spark, corpus.where(col("doc_id") > cut2),
      "doc_id", "text", state, 2L)
    assert(sortedRows(I.bm25Search(spark, state, queries, "qid",
      "text", 10, asOfBatch = Some(0L))) == at0)
    assert(sortedRows(I.bm25Search(spark, state, queries, "qid",
      "text", 10, asOfBatch = Some(1L))) == at1)
    // newest cut == the plain search
    assert(sortedRows(I.bm25Search(spark, state, queries, "qid",
      "text", 10, asOfBatch = Some(2L))) ==
      sortedRows(I.bm25Search(spark, state, queries, "qid", "text", 10)))
    // compaction folds the history: the old cuts now refuse loudly
    StateRoot(I.Bm25, state).compact(spark)
    val e = intercept[IllegalArgumentException] {
      I.bm25Search(spark, state, queries, "qid", "text", 10,
        asOfBatch = Some(1L))
    }
    assert(e.getMessage.contains("folded"))
  }

  test("as-of over live tombstones refuses (deltas cannot be cut " +
      "consistently); after purge the cut works again") {
    val I = IncrementalIndexOps
    val (cut1, _) = thirds(corpus)
    val state = fresh()
    I.ingestTextShard(spark, corpus.where(col("doc_id") <= cut1),
      "doc_id", "text", state, 0L)
    I.ingestTextShard(spark, corpus.where(col("doc_id") > cut1),
      "doc_id", "text", state, 1L)
    import spark.implicits._
    val victim = corpus.agg(min(col("doc_id"))).head.getLong(0)
    StateRoot(I.Bm25, state).delete(spark, Seq(victim).toDF("doc_id"), "doc_id")
    val e = intercept[IllegalArgumentException] {
      I.bm25Search(spark, state, queries, "qid", "text", 10,
        asOfBatch = Some(0L))
    }
    assert(e.getMessage.contains("purge first"))
    StateRoot(I.Bm25, state).purge(spark)
    // post-purge the whole history is one merged batch; the newest cut
    // serves (and equals the plain search)
    val merged = BatchState.landedBatchIds(
      spark, state, I.Bm25Tables, None).head
    assert(sortedRows(I.bm25Search(spark, state, queries, "qid",
      "text", 10, asOfBatch = Some(merged))) ==
      sortedRows(I.bm25Search(spark, state, queries, "qid", "text", 10)))
  }

  test("ivf as-of: only the cut's cells are candidates, the frozen " +
      "codebook serves every cut") {
    val I = IncrementalIndexOps
    val emb = graft.Tables.embeddings(spark, srcDir)
    val r = emb.agg(min(col("vec_id")), max(col("vec_id"))).head
    val mid = (r.getLong(0) + r.getLong(1)) / 2
    val state = fresh()
    I.ingestVectorShard(spark, emb.where(col("vec_id") <= mid),
      "vec_id", "embedding", state, 0L, nCells = 4, iters = 2)
    val qset = emb.limit(6).select(col("vec_id").as("qid"),
      graft.ops.SimilarityOps.asDouble(col("embedding")).as("qv"))
    val at0 = sortedRows(I.ivfSearch(spark, state, qset, 2, 5))
    I.ingestVectorShard(spark, emb.where(col("vec_id") > mid),
      "vec_id", "embedding", state, 1L, nCells = 4, iters = 2)
    assert(sortedRows(I.ivfSearch(spark, state, qset, 2, 5,
      asOfBatch = Some(0L))) == at0)
  }

  test("semanticDedupView as-of: the cut equals the view taken when " +
      "that batch was newest, and a LATER deletion still applies to " +
      "the historical cut (compliance holds in every view)") {
    val D = IncrementalDedupOps
    val emb = graft.Tables.embeddings(spark, srcDir)
    val r = emb.agg(min(col("vec_id")), max(col("vec_id"))).head
    val mid = (r.getLong(0) + r.getLong(1)) / 2
    val state = fresh()
    D.ingestEmbeddingShard(spark, emb.where(col("vec_id") <= mid),
      "vec_id", "embedding", state, 0L, k = 4, iters = 2,
      threshold = 0.95)
    val at0 = sortedRows(D.semanticDedupView(spark, state, "vec_id"))
    D.ingestEmbeddingShard(spark, emb.where(col("vec_id") > mid),
      "vec_id", "embedding", state, 1L, k = 4, iters = 2,
      threshold = 0.95)
    assert(sortedRows(D.semanticDedupView(spark, state, "vec_id",
      asOfBatch = Some(0L))) == at0)
    // a deletion AFTER the cut still removes the vector from the
    // historical view
    import spark.implicits._
    val victim = emb.where(col("vec_id") <= mid).limit(1).head.getLong(0)
    StateRoot(D.Embeddings, state)
      .delete(spark, Seq(victim).toDF("vec_id"), "vec_id")
    val cut = sortedRows(D.semanticDedupView(spark, state, "vec_id",
      asOfBatch = Some(0L)))
    assert(!cut.exists(_.startsWith(s"$victim|")))
    assert(cut != at0)
  }

  test("describeState reports the operational facts and follows the " +
      "generation pointer") {
    val I = IncrementalIndexOps
    val (cut1, _) = thirds(corpus)
    val state = fresh()
    I.ingestTextShard(spark, corpus.where(col("doc_id") <= cut1),
      "doc_id", "text", state, 0L)
    I.ingestTextShard(spark, corpus.where(col("doc_id") > cut1),
      "doc_id", "text", state, 1L)
    import spark.implicits._
    val victim = corpus.agg(min(col("doc_id"))).head.getLong(0)
    StateRoot(I.Bm25, state).delete(spark, Seq(victim).toDF("doc_id"), "doc_id")
    def info(dir: String): Map[String, String] =
      StateRoot(I.Bm25, dir).describe(spark).collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
    val m = info(state)
    assert(m("landed_batches") == "2" && m("newest_batch") == "1")
    assert(m("deletion_root") == "true" && m("deletion_batches") == "1")
    assert(m("purge_committed") == "false")
    assert(m("retention_floor") == "")
    // (compile-time presence; TTL spec covers it)
    StateRoot(I.Bm25, state).expire _
    // a cutover re-points the description at the new generation
    val gen2 = fresh()
    I.ingestTextShard(spark, corpus, "doc_id", "text", gen2, 0L)
    BatchState.cutoverGeneration(spark, state, gen2)
    val m2 = info(state)
    assert(m2("resolved_dir") == gen2 &&
      m2("generation_pointer") == "true" &&
      m2("landed_batches") == "1" && m2("deletion_root") == "false")
  }

  test("aligned as-of on a tombstoned (unpurged) index: a cut at or " +
      "above every deletion ceiling serves — equal to the twin built " +
      "from the prefix plus the same deletions — and a cut below a " +
      "ceiling refuses") {
    val I = IncrementalIndexOps
    val (cut1, cut2) = thirds(corpus)
    val (state, twin) = (fresh(), fresh())
    val victims = corpus.where(col("doc_id") <= cut2 &&
      pmod(col("doc_id"), lit(13)) === 0).select("doc_id")
    I.ingestTextShard(spark, corpus.where(col("doc_id") <= cut1),
      "doc_id", "text", state, 0L)
    I.ingestTextShard(spark, corpus.where(
      col("doc_id") > cut1 && col("doc_id") <= cut2),
      "doc_id", "text", state, 1L)
    StateRoot.deleteIn(spark, I.Bm25, victims, "doc_id", state, 0L) // ceiling 1
    I.ingestTextShard(spark, corpus.where(col("doc_id") > cut2),
      "doc_id", "text", state, 2L)
    // the twin is exactly the moment the cut names: batches {0,1} plus
    // the deletions whose ceilings fit inside it
    I.ingestTextShard(spark, corpus.where(col("doc_id") <= cut1),
      "doc_id", "text", twin, 0L)
    I.ingestTextShard(spark, corpus.where(
      col("doc_id") > cut1 && col("doc_id") <= cut2),
      "doc_id", "text", twin, 1L)
    StateRoot.deleteIn(spark, I.Bm25, victims, "doc_id", twin, 0L)
    assert(sortedRows(I.bm25Search(spark, state, queries, "qid",
      "text", 10, asOfBatch = Some(1L))) ==
      sortedRows(I.bm25Search(spark, twin, queries, "qid", "text", 10)),
      "the aligned cut must serve the tombstoned prefix exactly")
    val e = intercept[IllegalArgumentException] {
      I.bm25Search(spark, state, queries, "qid", "text", 10,
        asOfBatch = Some(0L))
    }
    assert(e.getMessage.contains("not aligned"),
      s"a cut below the ceiling must refuse, got: ${e.getMessage}")
  }

  test("retained history: with a declared history floor, cuts BELOW " +
      "compaction folds resolve through the pre-fold manifests — " +
      "identical to the searches taken at those moments — and refuse " +
      "once the floor is raised past them (history GC)") {
    val I = IncrementalIndexOps
    val (cut1, cut2) = thirds(corpus)
    val state = fresh()
    StateRoot(I.Bm25, state).retainHistory(spark)
    I.ingestTextShard(spark, corpus.where(col("doc_id") <= cut1),
      "doc_id", "text", state, 0L)
    val at0 = sortedRows(I.bm25Search(spark, state, queries,
      "qid", "text", 10))
    I.ingestTextShard(spark, corpus.where(
      col("doc_id") > cut1 && col("doc_id") <= cut2),
      "doc_id", "text", state, 1L)
    val at1 = sortedRows(I.bm25Search(spark, state, queries,
      "qid", "text", 10))
    // first fold: batches {0,1} -> merged 2
    StateRoot(I.Bm25, state).compact(spark)
    I.ingestTextShard(spark, corpus.where(col("doc_id") > cut2),
      "doc_id", "text", state, 3L)
    val at3 = sortedRows(I.bm25Search(spark, state, queries,
      "qid", "text", 10))
    // second fold: {2,3} -> merged 4 — TWO manifest versions retained
    StateRoot(I.Bm25, state).compact(spark)
    assert(sortedRows(I.bm25Search(spark, state, queries, "qid",
      "text", 10)) == at3, "the live view is untouched by retention")
    // a cut below BOTH folds: resolves through the raw retained dirs
    assert(sortedRows(I.bm25Search(spark, state, queries, "qid",
      "text", 10, asOfBatch = Some(1L))) == at1,
      "cut below every fold must serve from the retained directories")
    assert(sortedRows(I.bm25Search(spark, state, queries, "qid",
      "text", 10, asOfBatch = Some(0L))) == at0)
    // a cut BETWEEN the folds: pre-fold manifest (merged 2) + batch 3
    assert(sortedRows(I.bm25Search(spark, state, queries, "qid",
      "text", 10, asOfBatch = Some(3L))) == at3,
      "cut between folds must resolve through the pre-fold manifest")
    // history GC: raise the floor past everything but the live fold
    StateRoot(I.Bm25, state).retainHistory(spark, floor = 5L)
    StateRoot(I.Bm25, state).compact(spark)
    val e = intercept[IllegalArgumentException] {
      I.bm25Search(spark, state, queries, "qid", "text", 10,
        asOfBatch = Some(3L))
    }
    assert(e.getMessage.contains("GC'd") ||
      e.getMessage.contains("floor"))
    assert(sortedRows(I.bm25Search(spark, state, queries, "qid",
      "text", 10)) == at3, "live view survives the history GC")
  }

  test("purge overrides retained history (compliance beats audit): " +
      "pre-purge cuts refuse, purged batch directories leave the " +
      "disk, the live view serves on") {
    val I = IncrementalIndexOps
    val (cut1, _) = thirds(corpus)
    val state = fresh()
    StateRoot(I.Bm25, state).retainHistory(spark)
    I.ingestTextShard(spark, corpus.where(col("doc_id") <= cut1),
      "doc_id", "text", state, 0L)
    I.ingestTextShard(spark, corpus.where(col("doc_id") > cut1),
      "doc_id", "text", state, 1L)
    import spark.implicits._
    val victim = corpus.agg(min(col("doc_id"))).head.getLong(0)
    StateRoot(I.Bm25, state).delete(spark, Seq(victim).toDF("doc_id"), "doc_id")
    StateRoot(I.Bm25, state).purge(spark)
    val fs = new org.apache.hadoop.fs.Path("/").getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$state/postings/batch=0")),
      "purged content must be physically gone despite the history floor")
    val e = intercept[IllegalArgumentException] {
      I.bm25Search(spark, state, queries, "qid", "text", 10,
        asOfBatch = Some(0L))
    }
    assert(e.getMessage.contains("GC'd") || e.getMessage.contains("floor"))
    assert(I.bm25Search(spark, state, queries, "qid", "text", 10)
      .count() > 0)
  }

  test("retained history on the SemDeDup family: the view at a cut " +
      "below a fold equals the view taken at that moment") {
    val D = IncrementalDedupOps
    val emb = graft.Tables.embeddings(spark, srcDir)
    val half = emb.agg(percentile_approx(col("vec_id"), lit(0.5),
      lit(100))).head.getLong(0)
    val state = fresh()
    StateRoot(D.Embeddings, state).retainHistory(spark)
    D.ingestEmbeddingShard(spark, emb.where(col("vec_id") <= half),
      "vec_id", "embedding", state, 0L, k = 4, iters = 2,
      threshold = 0.95)
    val at0 = sortedRows(D.semanticDedupView(spark, state, "vec_id"))
    D.ingestEmbeddingShard(spark, emb.where(col("vec_id") > half),
      "vec_id", "embedding", state, 1L, k = 4, iters = 2,
      threshold = 0.95)
    val at1 = sortedRows(D.semanticDedupView(spark, state, "vec_id"))
    StateRoot(D.Embeddings, state).compact(spark)
    assert(sortedRows(D.semanticDedupView(spark, state, "vec_id",
      asOfBatch = Some(0L))) == at0,
      "the pre-fold cut must serve from retained directories")
    assert(sortedRows(D.semanticDedupView(spark, state, "vec_id"))
      == at1)
  }
}
