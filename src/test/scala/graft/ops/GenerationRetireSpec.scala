package graft.ops

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.etl.SparkTestSession

/** Generation RETIREMENT, pointer memoization and root relocatability
  * (round-17 asks #1/#5/#8): after a reindex + cutover,
  * `BatchState.retireGenerations` reclaims every superseded
  * generation's storage — reindex → cutover → retire leaves exactly
  * ONE generation on disk — in the pinned order data-then-pointers, so
  * a crashed retire leaves only dangling pointers that resolution
  * skips and a re-run sweeps. Repeat resolutions are memoized by
  * (root, version file, mtime): zero pointer content re-reads until a
  * flip creates the next version file. Nested generations are stored
  * root-relative, so a wholesale copy of the root keeps resolving.
  */
class GenerationRetireSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val srcDir = "/root/testdata/sf0.001"

  private def fresh(): String =
    java.nio.file.Files.createTempDirectory("graft_ret").toString

  private def fs = new Path("/").getFileSystem(
    spark.sparkContext.hadoopConfiguration)

  private def sortedRows(df: DataFrame): Seq[String] =
    df.orderBy(df.columns.map(col): _*).collect()
      .map(_.mkString("|")).toSeq

  private def emb: DataFrame = graft.Tables.embeddings(spark, srcDir)

  private def children(dir: String): Set[String] = {
    val sts = fs.listStatus(new Path(dir))
    if (sts == null) Set.empty else sts.map(_.getPath.getName).toSet
  }

  test("reindex -> cutover -> retire leaves exactly one generation on " +
      "disk: the root's inline generation-0 state is reclaimed, " +
      "searches through the root are untouched") {
    val I = IncrementalIndexOps
    val root = fresh()
    val gen2 = s"$root/gen2"
    I.ingestVectorShard(spark, emb, "vec_id", "embedding", root, 0L,
      nCells = 4, iters = 2)
    val queries = emb.limit(8)
      .select(col("vec_id").as("qid"),
        SimilarityOps.asDouble(col("embedding")).as("qv"))
    I.reindexVectors(spark, root, gen2, nCells = 4, iters = 2)
    BatchState.cutoverGeneration(spark, root, gen2)
    val before = sortedRows(I.ivfSearch(spark, root, queries, 4, 5))
    assert(fs.exists(new Path(s"$root/cells")),
      "precondition: the superseded inline generation is on disk")
    StateRoot(I.Ivf, root).retireGenerations(spark)
    assert(!fs.exists(new Path(s"$root/cells")) &&
      !fs.exists(new Path(s"$root/centroids")) &&
      !fs.exists(new Path(s"$root/_params")),
      "the superseded inline generation-0 state must be reclaimed")
    assert(fs.exists(new Path(gen2)),
      "the current generation must survive")
    assert(sortedRows(I.ivfSearch(spark, root, queries, 4, 5)) == before,
      "retirement must not change what the root serves")
    // idempotent re-run
    StateRoot(I.Ivf, root).retireGenerations(spark)
    assert(sortedRows(I.ivfSearch(spark, root, queries, 4, 5)) == before)
  }

  test("multi-generation retire: only the newest committed generation " +
      "survives; older version files are removed") {
    val I = IncrementalIndexOps
    val docs = graft.Tables.documents(spark, srcDir)
      .where(pmod(col("doc_id"), lit(97)) =!= 0)
    val queries = graft.Tables.documents(spark, srcDir)
      .where(pmod(col("doc_id"), lit(97)) === 0)
      .select(col("doc_id").as("qid"), col("text")).limit(6)
    val root = fresh()
    val (gen2, gen3) = (s"$root/gen2", s"$root/gen3")
    I.ingestTextShard(spark, docs, "doc_id", "text", gen2, 0L)
    I.ingestTextShard(spark, docs, "doc_id", "text", gen3, 0L)
    BatchState.cutoverGeneration(spark, root, gen2)
    BatchState.cutoverGeneration(spark, root, gen3)
    val before =
      sortedRows(I.bm25Search(spark, root, queries, "qid", "text", 10))
    StateRoot(I.Bm25, root).retireGenerations(spark)
    assert(!fs.exists(new Path(gen2)), "gen2 is superseded — reclaimed")
    assert(fs.exists(new Path(gen3)))
    assert(!fs.exists(new Path(s"$root/_current/v1")),
      "the superseded pointer file must be swept")
    assert(fs.exists(new Path(s"$root/_current/v2")))
    assert(sortedRows(
      I.bm25Search(spark, root, queries, "qid", "text", 10)) == before)
  }

  test("torn retire window (data gone, pointer file left): resolution " +
      "skips the dangling pointer, and a re-run heals by sweeping it") {
    val I = IncrementalIndexOps
    val docs = graft.Tables.documents(spark, srcDir)
      .where(pmod(col("doc_id"), lit(97)) =!= 0)
    val queries = graft.Tables.documents(spark, srcDir)
      .where(pmod(col("doc_id"), lit(97)) === 0)
      .select(col("doc_id").as("qid"), col("text")).limit(6)
    val root = fresh()
    val (gen2, gen3) = (s"$root/gen2", s"$root/gen3")
    I.ingestTextShard(spark, docs, "doc_id", "text", gen2, 0L)
    I.ingestTextShard(spark, docs, "doc_id", "text", gen3, 0L)
    BatchState.cutoverGeneration(spark, root, gen2)
    BatchState.cutoverGeneration(spark, root, gen3)
    // the pinned crash window: phase 1 (superseded DATA) completed,
    // phase 2 (pointer files) did not
    assert(fs.delete(new Path(gen2), true))
    assert(BatchState.resolveGeneration(spark, root) == gen3,
      "a dangling old pointer must not affect resolution")
    assert(I.bm25Search(spark, root, queries, "qid", "text", 10)
      .count() > 0)
    StateRoot(I.Bm25, root).retireGenerations(spark)
    assert(!fs.exists(new Path(s"$root/_current/v1")),
      "the re-run must sweep the dangling pointer file")
    assert(fs.exists(new Path(gen3)))
  }

  test("retire without a committed cutover is a no-op") {
    val I = IncrementalIndexOps
    val docs = graft.Tables.documents(spark, srcDir)
      .where(pmod(col("doc_id"), lit(97)) =!= 0).limit(200)
    val root = fresh()
    I.ingestTextShard(spark, docs, "doc_id", "text", root, 0L)
    val before = children(root)
    StateRoot(I.Bm25, root).retireGenerations(spark)
    assert(children(root) == before,
      "no pointer, nothing superseded — the root must be untouched")
    // a TORN pointer alone (crashed first flip) must also retire nothing
    fs.mkdirs(new Path(s"$root/_current"))
    fs.create(new Path(s"$root/_current/v1"), false).close()
    StateRoot(I.Bm25, root).retireGenerations(spark)
    assert(fs.exists(new Path(s"$root/postings")),
      "a torn-only pointer names no committed generation; the inline " +
        "state still serves and must survive")
  }

  test("resolveGeneration memoizes by (root, version file, mtime): " +
      "repeat resolutions pay zero pointer content reads; a flip " +
      "invalidates") {
    val root = fresh()
    val (gen2, gen3) = (s"$root/gen2", s"$root/gen3")
    fs.mkdirs(new Path(gen2)); fs.mkdirs(new Path(gen3))
    BatchState.cutoverGeneration(spark, root, gen2)
    assert(BatchState.resolveGeneration(spark, root) == gen2)
    val afterFirst = BatchState.generationReads.get()
    (1 to 5).foreach { _ =>
      assert(BatchState.resolveGeneration(spark, root) == gen2)
    }
    assert(BatchState.generationReads.get() == afterFirst,
      "repeat resolutions of an unchanged root must be memoized — " +
        "zero version-file content reads")
    BatchState.cutoverGeneration(spark, root, gen3)
    assert(BatchState.resolveGeneration(spark, root) == gen3,
      "a flip creates the next version file — the memo must miss and " +
        "serve the new generation")
    val afterFlip = BatchState.generationReads.get()
    assert(afterFlip > afterFirst)
    assert(BatchState.resolveGeneration(spark, root) == gen3)
    assert(BatchState.generationReads.get() == afterFlip)
  }

  test("a pointer naming a nonexistent directory (torn partial write) " +
      "is skipped — readers fall through instead of being redirected " +
      "to nowhere") {
    val root = fresh()
    val gen2 = s"$root/gen2"
    fs.mkdirs(new Path(gen2))
    BatchState.cutoverGeneration(spark, root, gen2)
    // a later flip whose content committed torn: names a path that
    // does not exist (the truncated-suffix case)
    val out = fs.create(new Path(s"$root/_current/v2"), false)
    out.write(s"$root/gen".getBytes("UTF-8")); out.close()
    assert(BatchState.resolveGeneration(spark, root) == gen2,
      "a committed-looking pointer to a nonexistent directory must " +
        "fall through to the previous generation")
  }

  test("relocatable root: nested generations are stored root-relative " +
      "— a wholesale copy of the root keeps resolving and serving") {
    val I = IncrementalIndexOps
    val docs = graft.Tables.documents(spark, srcDir)
      .where(pmod(col("doc_id"), lit(97)) =!= 0)
    val queries = graft.Tables.documents(spark, srcDir)
      .where(pmod(col("doc_id"), lit(97)) === 0)
      .select(col("doc_id").as("qid"), col("text")).limit(6)
    val base = fresh()
    val root = s"$base/root"
    val gen2 = s"$root/gen2"
    I.ingestTextShard(spark, docs, "doc_id", "text", gen2, 0L)
    BatchState.cutoverGeneration(spark, root, gen2)
    val before =
      sortedRows(I.bm25Search(spark, root, queries, "qid", "text", 10))
    // the storage migration: copy the whole root to a new address
    val moved = s"$base/moved"
    val conf = spark.sparkContext.hadoopConfiguration
    assert(org.apache.hadoop.fs.FileUtil.copy(
      fs, new Path(root), fs, new Path(moved), false, conf))
    assert(BatchState.resolveGeneration(spark, moved) == s"$moved/gen2",
      "a relative pointer must resolve against the root it lives under")
    assert(sortedRows(
      I.bm25Search(spark, moved, queries, "qid", "text", 10)) == before,
      "the copied root must serve identically at its new address")
  }
}
