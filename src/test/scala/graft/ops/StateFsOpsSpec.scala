package graft.ops

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.etl.SparkTestSession
import graft.streaming.Streaming

/** Filesystem-operation budget of the incremental-state verbs: each
  * verb runs once on a fresh BM25 or curation root addressed through
  * [[CountingFs]], and its driver-side metadata calls (`exists`,
  * `getFileStatus`, `listStatus`, `globStatus`, `open`, `create`,
  * `rename`, `delete`, `mkdirs`) must stay at or under the pinned
  * counts. A refactor of the lifecycle layer that adds a round-trip
  * fails here with the verb and the operation named.
  */
class StateFsOpsSpec extends AnyFunSuite {

  private lazy val spark = {
    val s = SparkTestSession.spark
    CountingFs.register(s.sparkContext.hadoopConfiguration)
    s
  }
  private val srcDir = "/root/testdata/sf0.001"
  private val I = IncrementalIndexOps
  private val C = IncrementalCurateOps
  private val D = IncrementalDedupOps

  private def docs: DataFrame = graft.Tables.documents(spark, srcDir)
  private lazy val mid: Long = {
    val r = docs.agg(min(col("doc_id")), max(col("doc_id"))).head
    (r.getLong(0) + r.getLong(1)) / 2
  }
  private def shardA: DataFrame = docs.where(col("doc_id") <= mid)
  private def shardB: DataFrame = docs.where(col("doc_id") > mid)
  private def dels: DataFrame =
    docs.where(pmod(col("doc_id"), lit(13)) === 0).select("doc_id")

  private def local(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def localFs = new Path("/").getFileSystem(
    spark.sparkContext.hadoopConfiguration)

  /** Land `df` as one parquet file in the (local) watched directory. */
  private def landFile(watch: String, df: DataFrame): Unit = {
    val tmp = local("graft_fsops_tmp") + "/out"
    df.coalesce(1).write.parquet(tmp)
    val part = localFs.globStatus(new Path(s"$tmp/part-*"))(0).getPath
    localFs.mkdirs(new Path(watch))
    assert(localFs.rename(part, new Path(s"$watch/f0.parquet")))
  }

  /** Pinned upper bounds per verb: the counts the lifecycle layer
    * made before the [[StateRoot]] handle replaced the per-family
    * wrappers. Three curation bounds are one `exists` higher: its
    * delete and compact verbs (and so the compaction inside its
    * stateIngest) now resolve the generation pointer once per call,
    * as every other family's verbs already did. The IVF, image and
    * embedding delete bounds are the counts of the per-family delete
    * ops that [[StateRoot.deleteIn]] replaced.
    */
  private val Bounds: Map[String, Map[String, Long]] = Map(
    "bm25 ingest" -> Map("create" -> 5, "delete" -> 9, "exists" -> 10,
      "getFileStatus" -> 8, "listStatus" -> 8, "mkdirs" -> 5, "rename" -> 4),
    "bm25 delete" -> Map("create" -> 5, "delete" -> 8, "exists" -> 18,
      "getFileStatus" -> 6, "globStatus" -> 11, "listStatus" -> 12,
      "mkdirs" -> 5, "open" -> 2, "rename" -> 3),
    "bm25 compact" -> Map("create" -> 11, "delete" -> 22, "exists" -> 32,
      "getFileStatus" -> 16, "globStatus" -> 17, "listStatus" -> 31,
      "mkdirs" -> 7, "open" -> 6, "rename" -> 12),
    "bm25 purge" -> Map("create" -> 12, "delete" -> 23, "exists" -> 44,
      "getFileStatus" -> 13, "globStatus" -> 18, "listStatus" -> 37,
      "mkdirs" -> 7, "open" -> 8, "rename" -> 10),
    "bm25 expire" -> Map("create" -> 2, "delete" -> 1, "exists" -> 3,
      "listStatus" -> 2, "mkdirs" -> 2),
    "bm25 retire" -> Map("create" -> 1, "delete" -> 8, "exists" -> 3,
      "listStatus" -> 2, "mkdirs" -> 1, "open" -> 1),
    "bm25 stateIngest" -> Map("create" -> 17, "delete" -> 32, "exists" -> 43,
      "getFileStatus" -> 27, "globStatus" -> 23, "listStatus" -> 41,
      "mkdirs" -> 12, "open" -> 7, "rename" -> 17),
    "bm25 deletionIngest" -> Map("create" -> 7, "delete" -> 10,
      "exists" -> 23, "getFileStatus" -> 10, "globStatus" -> 12,
      "listStatus" -> 12, "mkdirs" -> 6, "open" -> 2, "rename" -> 4),
    "ivf delete" -> Map("create" -> 3, "delete" -> 4, "exists" -> 12,
      "getFileStatus" -> 2, "globStatus" -> 4, "listStatus" -> 6,
      "mkdirs" -> 3, "open" -> 1, "rename" -> 1),
    "image delete" -> Map("create" -> 3, "delete" -> 4, "exists" -> 11,
      "getFileStatus" -> 2, "globStatus" -> 5, "listStatus" -> 6,
      "mkdirs" -> 3, "rename" -> 1),
    "embedding delete" -> Map("create" -> 3, "delete" -> 4, "exists" -> 12,
      "getFileStatus" -> 2, "globStatus" -> 6, "listStatus" -> 6,
      "mkdirs" -> 3, "rename" -> 1),
    "curation ingest" -> Map("create" -> 8, "delete" -> 13, "exists" -> 15,
      "getFileStatus" -> 13, "globStatus" -> 24, "listStatus" -> 18,
      "mkdirs" -> 8, "open" -> 1, "rename" -> 6),
    "curation delete" -> Map("create" -> 3, "delete" -> 4, "exists" -> 12,
      "getFileStatus" -> 2, "globStatus" -> 13, "listStatus" -> 7,
      "mkdirs" -> 3, "open" -> 1, "rename" -> 1),
    "curation compact" -> Map("create" -> 13, "delete" -> 27, "exists" -> 42,
      "getFileStatus" -> 23, "globStatus" -> 15, "listStatus" -> 36,
      "mkdirs" -> 8, "open" -> 7, "rename" -> 16),
    "curation stateIngest" -> Map("create" -> 20, "delete" -> 39,
      "exists" -> 72, "getFileStatus" -> 46, "globStatus" -> 50,
      "listStatus" -> 61, "mkdirs" -> 14, "open" -> 14, "rename" -> 24),
    "curation deletionIngest" -> Map("create" -> 5, "delete" -> 6,
      "exists" -> 17, "getFileStatus" -> 5, "globStatus" -> 14,
      "listStatus" -> 8, "mkdirs" -> 4, "open" -> 1, "rename" -> 2))

  private def check(name: String)(body: => Unit): Unit = {
    val seen = CountingFs.during(body)
    info(s"$name: " +
      seen.toSeq.sorted.map { case (op, n) => s"$op=$n" }.mkString(" "))
    val bound = Bounds(name)
    val over = seen.collect {
      case (op, n) if n > bound.getOrElse(op, 0L) =>
        s"$op=$n (bound ${bound.getOrElse(op, 0L)})"
    }
    assert(over.isEmpty, s"$name exceeds its FS-operation budget: " +
      over.toSeq.sorted.mkString(", "))
  }

  // ------------------------------------------------------------- BM25

  private def bm25Root(): String = {
    val root = CountingFs.freshDir("graft_fsops_bm25")
    I.ingestTextShard(spark, shardA, "doc_id", "text", root, 0L)
    root
  }

  test("bm25 ingest") {
    val root = CountingFs.freshDir("graft_fsops_bm25")
    check("bm25 ingest") {
      I.ingestTextShard(spark, shardA, "doc_id", "text", root, 0L)
    }
  }

  test("bm25 delete") {
    val root = bm25Root()
    I.ingestTextShard(spark, shardB, "doc_id", "text", root, 1L)
    check("bm25 delete") {
      StateRoot(I.Bm25, root).delete(spark, dels, "doc_id")
    }
  }

  private def bm25Deleted(): String = {
    val root = bm25Root()
    StateRoot(I.Bm25, root).delete(spark, dels, "doc_id")
    I.ingestTextShard(spark, shardB, "doc_id", "text", root, 1L)
    root
  }

  test("bm25 compact") {
    val root = bm25Deleted()
    check("bm25 compact") { StateRoot(I.Bm25, root).compact(spark) }
  }

  test("bm25 purge") {
    val root = bm25Deleted()
    check("bm25 purge") { StateRoot(I.Bm25, root).purge(spark) }
  }

  test("bm25 expire") {
    val root = bm25Root()
    I.ingestTextShard(spark, shardB, "doc_id", "text", root, 1L)
    check("bm25 expire") { StateRoot(I.Bm25, root).expire(spark, 1L) }
  }

  test("bm25 retire generations after a cutover") {
    val root = bm25Root()
    val gen2 = s"$root/gen2"
    I.ingestTextShard(spark, docs, "doc_id", "text", gen2, 0L)
    BatchState.cutoverGeneration(spark, root, gen2)
    check("bm25 retire") { StateRoot(I.Bm25, root).retireGenerations(spark) }
  }

  test("bm25 stateIngest micro-batch") {
    val root = bm25Root()
    val base = local("graft_fsops_stream")
    landFile(s"$base/in", shardB)
    check("bm25 stateIngest") {
      Streaming.stateIngest(spark, s"$base/in", shardB.schema,
        s"$base/ckpt", StateRoot(I.Bm25, root), "doc_id",
        compactEvery = 2) { (df, k) =>
        I.ingestTextShard(df.sparkSession, df, "doc_id", "text", root, k)
      }
    }
  }

  test("bm25 deletionIngest micro-batch") {
    val root = bm25Root()
    val base = local("graft_fsops_stream")
    landFile(s"$base/in", dels)
    check("bm25 deletionIngest") {
      Streaming.deletionIngest(spark, s"$base/in", dels.schema,
        s"$base/ckpt", StateRoot(I.Bm25, root), "doc_id")
    }
  }

  // --------------------------------------- IVF, images, embeddings

  private def emb: DataFrame = graft.Tables.embeddings(spark, srcDir)
  private lazy val vecMid: Long = {
    val r = emb.agg(min(col("vec_id")), max(col("vec_id"))).head
    (r.getLong(0) + r.getLong(1)) / 2
  }
  private def vecDels: DataFrame =
    emb.where(pmod(col("vec_id"), lit(9)) === 0).select("vec_id")

  test("ivf delete") {
    val root = CountingFs.freshDir("graft_fsops_ivf")
    I.ingestVectorShard(spark, emb.where(col("vec_id") <= vecMid),
      "vec_id", "embedding", root, 0L, nCells = 4, iters = 2)
    I.ingestVectorShard(spark, emb.where(col("vec_id") > vecMid),
      "vec_id", "embedding", root, 1L, nCells = 4, iters = 2)
    check("ivf delete") {
      StateRoot(I.Ivf, root).delete(spark, vecDels, "vec_id")
    }
  }

  /** Synthetic images keyed by document id (groups of ten share one
    * picture, so the shards carry near-dup pairs).
    */
  private def media: DataFrame = {
    import spark.implicits._
    docs.where(pmod(col("doc_id"), lit(3)) === 1)
      .select(col("doc_id")).as[Long]
      .mapPartitions(it => it.map { id =>
        (id, ImageIoCodecs.syntheticPng(id - id % 10))
      }).toDF("doc_id", "img")
  }

  test("image delete") {
    val root = CountingFs.freshDir("graft_fsops_img")
    D.ingestImageShard(spark, media.where(col("doc_id") <= mid),
      "doc_id", "img", root, 0L)
    D.ingestImageShard(spark, media.where(col("doc_id") > mid),
      "doc_id", "img", root, 1L)
    check("image delete") {
      StateRoot(D.Images, root).delete(spark,
        media.where(pmod(col("doc_id"), lit(7)) === 1).select("doc_id"),
        "doc_id")
    }
  }

  test("embedding delete") {
    val root = CountingFs.freshDir("graft_fsops_emb")
    D.ingestEmbeddingShard(spark, emb.where(col("vec_id") <= vecMid),
      "vec_id", "embedding", root, 0L, k = 4, iters = 2, threshold = 0.35)
    D.ingestEmbeddingShard(spark, emb.where(col("vec_id") > vecMid),
      "vec_id", "embedding", root, 1L, k = 4, iters = 2, threshold = 0.35)
    check("embedding delete") {
      StateRoot(D.Embeddings, root).delete(spark, vecDels, "vec_id")
    }
  }

  // -------------------------------------------------------- curation

  private def curationRoot(): String = {
    val root = CountingFs.freshDir("graft_fsops_cur")
    C.ingestShard(spark, shardA, "doc_id", "text", root, 0L)
    root
  }

  test("curation ingest") {
    val root = CountingFs.freshDir("graft_fsops_cur")
    check("curation ingest") {
      C.ingestShard(spark, shardA, "doc_id", "text", root, 0L)
    }
  }

  test("curation delete") {
    val root = curationRoot()
    C.ingestShard(spark, shardB, "doc_id", "text", root, 1L)
    check("curation delete") {
      StateRoot(C.Curation, root).delete(spark, dels, "doc_id")
    }
  }

  test("curation compact") {
    val root = curationRoot()
    StateRoot(C.Curation, root).delete(spark, dels, "doc_id")
    C.ingestShard(spark, shardB, "doc_id", "text", root, 1L)
    check("curation compact") { StateRoot(C.Curation, root).compact(spark) }
  }

  test("curation stateIngest micro-batch") {
    val root = curationRoot()
    val base = local("graft_fsops_stream")
    landFile(s"$base/in", shardB)
    check("curation stateIngest") {
      Streaming.stateIngest(spark, s"$base/in", shardB.schema,
        s"$base/ckpt", StateRoot(C.Curation, root), "doc_id",
        compactEvery = 2) { (df, k) =>
        C.ingestShard(df.sparkSession, df, "doc_id", "text", root, k)
      }
    }
  }

  test("curation deletionIngest micro-batch") {
    val root = curationRoot()
    val base = local("graft_fsops_stream")
    landFile(s"$base/in", dels)
    check("curation deletionIngest") {
      Streaming.deletionIngest(spark, s"$base/in", dels.schema,
        s"$base/ckpt", StateRoot(C.Curation, root), "doc_id")
    }
  }
}
