package graft.ops

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.etl.SparkTestSession

/** Incremental image + embedding dedup contract
  * ([[IncrementalDedupOps]]): shard-by-shard ingestion is
  * indistinguishable from the one-shot operator over the union —
  * [[DedupOps.imageNearDupPairs]] for images,
  * [[SimilarityOps.semanticDedupAssigned]] (frozen first-shard
  * codebook) for embeddings — including under batch replay, a
  * crash-mid-shard restart, and out-of-order arrival (which throws).
  */
class IncrementalDedupSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val srcDir = "/root/testdata/sf0.001"

  // m11's fixture: every decade of doc ids shares one synthetic PNG,
  // so within-decade pairs land at Hamming 0 and cross-decade pairs
  // wherever the pixel law puts them
  private def media: DataFrame = {
    import spark.implicits._
    graft.Tables.documents(spark, srcDir)
      .where(pmod(col("doc_id"), lit(3)) === 1)
      .select(col("doc_id")).as[Long]
      .mapPartitions(ids => ids.map { id =>
        (id, ImageIoCodecs.syntheticPng(id - id % 10))
      }).toDF("doc_id", "img")
  }

  private def emb: DataFrame = graft.Tables.embeddings(spark, srcDir)

  private def freshState(): String =
    java.nio.file.Files.createTempDirectory("graft_incr_dedup").toString

  private def sortedRows(df: DataFrame): Seq[String] =
    df.orderBy(df.columns.map(col): _*).collect()
      .map(_.mkString("|")).toSeq

  private def midOf(df: DataFrame, idCol: String): Long = {
    val r = df.agg(min(col(idCol)), max(col(idCol))).head
    (r.getLong(0) + r.getLong(1)) / 2
  }

  // ------------------------------------------------------------- images

  test("two-shard incremental image pairs equal one-shot " +
      "imageNearDupPairs on the union") {
    val state = freshState()
    val mid = midOf(media, "doc_id")
    IncrementalDedupOps.ingestImageShard(spark,
      media.where(col("doc_id") <= mid), "doc_id", "img", state, 0L)
    IncrementalDedupOps.ingestImageShard(spark,
      media.where(col("doc_id") > mid), "doc_id", "img", state, 1L)
    val incr = IncrementalDedupOps.imagePairs(spark, state)
    val oneShot = DedupOps.imageNearDupPairs(media, "doc_id", "img")
    assert(sortedRows(incr) == sortedRows(oneShot))
    assert(incr.count() > 0, "fixture must actually produce pairs")
  }

  test("image: replaying a landed batch is a no-op; a crash-mid-shard " +
      "restart recomputes and lands identical state") {
    val state = freshState()
    val mid = midOf(media, "doc_id")
    val (a, b) =
      (media.where(col("doc_id") <= mid), media.where(col("doc_id") > mid))
    IncrementalDedupOps.ingestImageShard(spark, a, "doc_id", "img", state, 0L)
    IncrementalDedupOps.ingestImageShard(spark, b, "doc_id", "img", state, 1L)
    val before = sortedRows(IncrementalDedupOps.imagePairs(spark, state))
    // replay with DIFFERENT content — the gate is the directory ledger
    IncrementalDedupOps.ingestImageShard(spark, a.limit(2), "doc_id", "img",
      state, 1L)
    assert(sortedRows(IncrementalDedupOps.imagePairs(spark, state)) == before)
    // crash: batch 1 died after sig+bands, before edges
    val fs = new Path(state).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new Path(s"$state/edges/batch=1/_SUCCESS"), false))
    assert(!StateRoot(IncrementalDedupOps.Images, state).landed(spark, 1L))
    IncrementalDedupOps.ingestImageShard(spark, b, "doc_id", "img", state, 1L)
    assert(StateRoot(IncrementalDedupOps.Images, state).landed(spark, 1L))
    assert(sortedRows(IncrementalDedupOps.imagePairs(spark, state)) == before)
  }

  test("image: out-of-order ingest fails loudly") {
    val state = freshState()
    val mid = midOf(media, "doc_id")
    IncrementalDedupOps.ingestImageShard(spark,
      media.where(col("doc_id") <= mid), "doc_id", "img", state, 0L)
    IncrementalDedupOps.ingestImageShard(spark,
      media.where(col("doc_id") > mid), "doc_id", "img", state, 2L)
    val e = intercept[IllegalArgumentException] {
      IncrementalDedupOps.ingestImageShard(spark, media.limit(2),
        "doc_id", "img", state, 1L)
    }
    assert(e.getMessage.contains("out-of-order"))
  }

  test("streaming imageIngest and vectorIndexIngest: file-source " +
      "micro-batches produce the same state as batch ingest") {
    val base = java.nio.file.Files
      .createTempDirectory("graft_stream_media").toString
    val fs = new Path(base).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    def landShard(df: DataFrame, watch: String, name: String): Unit = {
      fs.mkdirs(new Path(watch))
      val tmp = s"$base/tmp_${new Path(watch).getName}_$name"
      df.coalesce(1).write.parquet(tmp)
      val part = fs.globStatus(new Path(s"$tmp/part-*"))(0).getPath
      assert(fs.rename(part, new Path(s"$watch/$name.parquet")))
    }
    // images
    val (iwatch, ickpt, istate) = (s"$base/iin", s"$base/ickpt", s"$base/ist")
    val m = media
    val mid = midOf(m, "doc_id")
    def idrain(): Unit = graft.streaming.Streaming.stateIngest(
      spark, iwatch, m.schema, ickpt,
      StateRoot(IncrementalDedupOps.Images, istate), "doc_id") {
      (df, k) => IncrementalDedupOps.ingestImageShard(df.sparkSession, df,
        "doc_id", "img", istate, k)
    }
    landShard(m.where(col("doc_id") <= mid), iwatch, "s1")
    idrain()
    landShard(m.where(col("doc_id") > mid), iwatch, "s2")
    idrain()
    assert(sortedRows(IncrementalDedupOps.imagePairs(spark, istate)) ==
      sortedRows(DedupOps.imageNearDupPairs(m, "doc_id", "img")))
    // vectors (frozen codebook fit on the stream's FIRST micro-batch)
    val (vwatch, vckpt, vstate) = (s"$base/vin", s"$base/vckpt", s"$base/vst")
    val emid = midOf(emb, "vec_id")
    val fit = emb.where(col("vec_id") <= emid)
    def vdrain(): Unit = graft.streaming.Streaming.stateIngest(
      spark, vwatch, emb.schema, vckpt,
      StateRoot(IncrementalIndexOps.Ivf, vstate), "vec_id") {
      (df, k) => IncrementalIndexOps.ingestVectorShard(df.sparkSession,
        df, "vec_id", "embedding", vstate, k, nCells = 4, iters = 2)
    }
    landShard(fit, vwatch, "s1")
    vdrain()
    landShard(emb.where(col("vec_id") > emid), vwatch, "s2")
    vdrain()
    val qset = emb.where(col("vec_id") < 10)
      .select(col("vec_id").as("qid"),
        SimilarityOps.asDouble(col("embedding")).as("qv"))
    val incr = IncrementalIndexOps.ivfSearch(spark, vstate, qset, 2, 10)
    val (cents, _) =
      SimilarityOps.kmeansFit(fit, "vec_id", "embedding", 4, 2)
    val one = SimilarityOps.ivfTopK(qset,
      emb.select(col("vec_id").as("cid"),
        SimilarityOps.asDouble(col("embedding")).as("cv")), cents, 2, 10)
    assert(sortedRows(incr.select(one.columns.map(col): _*)) ==
      sortedRows(one))
  }

  // --------------------------------------------------------- embeddings

  private val (k, iters, thr) = (4, 2, 0.35)

  private def oneShotFrozen(fitSet: DataFrame): DataFrame = {
    val (cents, _) =
      SimilarityOps.kmeansFit(fitSet, "vec_id", "embedding", k, iters)
    SimilarityOps.semanticDedupAssigned(emb, "vec_id", "embedding",
      cents, thr)
  }

  test("two-shard incremental semantic dedup equals the one-shot " +
      "frozen-codebook run on the union") {
    val state = freshState()
    val mid = midOf(emb, "vec_id")
    val fit = emb.where(col("vec_id") <= mid)
    IncrementalDedupOps.ingestEmbeddingShard(spark, fit,
      "vec_id", "embedding", state, 0L, k, iters, thr)
    IncrementalDedupOps.ingestEmbeddingShard(spark,
      emb.where(col("vec_id") > mid),
      "vec_id", "embedding", state, 1L, k, iters, thr)
    val incr = IncrementalDedupOps.semanticDedupView(spark, state, "vec_id")
    assert(sortedRows(incr) == sortedRows(oneShotFrozen(fit)))
  }

  test("three-shard incremental semantic dedup still equals one-shot " +
      "(cross-shard component merges through the snapshot fold)") {
    val state = freshState()
    val r = emb.agg(min(col("vec_id")), max(col("vec_id"))).head
    val (lo, hi) = (r.getLong(0), r.getLong(1))
    val cut1 = lo + (hi - lo) / 3
    val cut2 = lo + 2 * (hi - lo) / 3
    val fit = emb.where(col("vec_id") <= cut1)
    IncrementalDedupOps.ingestEmbeddingShard(spark, fit,
      "vec_id", "embedding", state, 0L, k, iters, thr)
    IncrementalDedupOps.ingestEmbeddingShard(spark,
      emb.where(col("vec_id") > cut1 && col("vec_id") <= cut2),
      "vec_id", "embedding", state, 1L, k, iters, thr)
    IncrementalDedupOps.ingestEmbeddingShard(spark,
      emb.where(col("vec_id") > cut2),
      "vec_id", "embedding", state, 2L, k, iters, thr)
    val incr = IncrementalDedupOps.semanticDedupView(spark, state, "vec_id")
    assert(sortedRows(incr) == sortedRows(oneShotFrozen(fit)))
  }

  test("image/embedding: parameter drift across batches fails loudly " +
      "instead of silently joining mismatched state") {
    val state = freshState()
    val mid = midOf(media, "doc_id")
    IncrementalDedupOps.ingestImageShard(spark,
      media.where(col("doc_id") <= mid), "doc_id", "img", state, 0L,
      maxDist = 3)
    // maxDist 7 would band with 8-bit blocks against the stored 16-bit
    // index — cross-batch candidates silently keyed on incompatible
    // values; the params fingerprint turns that into a loud error
    val e = intercept[IllegalArgumentException] {
      IncrementalDedupOps.ingestImageShard(spark,
        media.where(col("doc_id") > mid), "doc_id", "img", state, 1L,
        maxDist = 7)
    }
    assert(e.getMessage.contains("parameters"))

    val estate = freshState()
    val emid = midOf(emb, "vec_id")
    IncrementalDedupOps.ingestEmbeddingShard(spark,
      emb.where(col("vec_id") <= emid),
      "vec_id", "embedding", estate, 0L, k, iters, thr)
    val e2 = intercept[IllegalArgumentException] {
      IncrementalDedupOps.ingestEmbeddingShard(spark,
        emb.where(col("vec_id") > emid),
        "vec_id", "embedding", estate, 1L, k, iters, threshold = 0.9)
    }
    assert(e2.getMessage.contains("parameters"))
  }

  test("embedding: a crashed fit batch can never cause a SECOND " +
      "codebook — the next batch reuses the committed one") {
    val state = freshState()
    val mid = midOf(emb, "vec_id")
    val fit = emb.where(col("vec_id") <= mid)
    IncrementalDedupOps.ingestEmbeddingShard(spark, fit,
      "vec_id", "embedding", state, 0L, k, iters, thr)
    // crash: batch 0 committed ONLY its codebook; the scheduler (wrongly
    // but plausibly) moves on to batch 1 instead of replaying 0
    val fs = new Path(state).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    for (t <- Seq("assign", "edges", "clusters"))
      assert(fs.delete(new Path(s"$state/$t/batch=0"), true))
    IncrementalDedupOps.ingestEmbeddingShard(spark,
      emb.where(col("vec_id") > mid),
      "vec_id", "embedding", state, 1L, k, iters, thr)
    // exactly one committed codebook: batch 1 must NOT have refit
    val cents = spark.read.parquet(s"$state/centroids/batch=0")
    assert(cents.count() == k, "batch 0's codebook is the one in force")
    assert(!fs.exists(new Path(s"$state/centroids/batch=1")),
      "no second codebook may ever be fit")
    // batch 0's data replays in-order? no — 1 already landed; loudness
    // is the contract here
    val e = intercept[IllegalArgumentException] {
      IncrementalDedupOps.ingestEmbeddingShard(spark, fit,
        "vec_id", "embedding", state, 0L, k, iters, thr)
    }
    assert(e.getMessage.contains("out-of-order"))
  }

  test("embedding: crash after the codebook landed but before the fit " +
      "batch's tables — the replay reuses the committed codebook and " +
      "converges to the uninterrupted result") {
    val state = freshState()
    val mid = midOf(emb, "vec_id")
    val fit = emb.where(col("vec_id") <= mid)
    IncrementalDedupOps.ingestEmbeddingShard(spark, fit,
      "vec_id", "embedding", state, 0L, k, iters, thr)
    // crash: the fit batch died right after landing centroids — assign/
    // edges/clusters never committed
    val fs = new Path(state).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new Path(s"$state/assign/batch=0"), true))
    assert(fs.delete(new Path(s"$state/edges/batch=0/_SUCCESS"), false))
    assert(!StateRoot(IncrementalDedupOps.Embeddings, state).landed(spark, 0L))
    IncrementalDedupOps.ingestEmbeddingShard(spark, fit,
      "vec_id", "embedding", state, 0L, k, iters, thr)
    IncrementalDedupOps.ingestEmbeddingShard(spark,
      emb.where(col("vec_id") > mid),
      "vec_id", "embedding", state, 1L, k, iters, thr)
    val incr = IncrementalDedupOps.semanticDedupView(spark, state, "vec_id")
    assert(sortedRows(incr) == sortedRows(oneShotFrozen(fit)))
  }

  test("embedding: out-of-order ingest fails loudly") {
    val state = freshState()
    val mid = midOf(emb, "vec_id")
    IncrementalDedupOps.ingestEmbeddingShard(spark,
      emb.where(col("vec_id") <= mid),
      "vec_id", "embedding", state, 0L, k, iters, thr)
    IncrementalDedupOps.ingestEmbeddingShard(spark,
      emb.where(col("vec_id") > mid),
      "vec_id", "embedding", state, 2L, k, iters, thr)
    val e = intercept[IllegalArgumentException] {
      IncrementalDedupOps.ingestEmbeddingShard(spark, emb.limit(4),
        "vec_id", "embedding", state, 1L, k, iters, thr)
    }
    assert(e.getMessage.contains("out-of-order"))
  }
}
