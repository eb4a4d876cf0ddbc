package graft.ops

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.etl.SparkTestSession

/** Atomic generation cutover (round-16 "missing #1"): a `reindex*`
  * lands a fresh state directory; `BatchState.cutoverGeneration` flips
  * a `_current` pointer under the reader-addressed ROOT with the same
  * create(overwrite = false) version primitive as the compaction
  * manifest, and every search/delete/ingest entry point resolves
  * through it — so reindex + flip is a complete cutover with no
  * caller-side config push, searches see the old generation until the
  * flip and the new one atomically after, and a crashed (torn) flip
  * leaves the old generation serving.
  */
class GenerationCutoverSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val srcDir = "/root/testdata/sf0.001"

  private def fresh(): String =
    java.nio.file.Files.createTempDirectory("graft_gen").toString

  private def fs = new Path("/").getFileSystem(
    spark.sparkContext.hadoopConfiguration)

  private def sortedRows(df: DataFrame): Seq[String] =
    df.orderBy(df.columns.map(col): _*).collect()
      .map(_.mkString("|")).toSeq

  private def emb: DataFrame = graft.Tables.embeddings(spark, srcDir)

  test("IVF cutover: searches against the ROOT serve the old " +
      "generation until the flip and the reindexed generation " +
      "atomically after (deletions route to the current generation)") {
    val I = IncrementalIndexOps
    val root = fresh()
    val gen2 = s"$root.gen2"
    val half = emb.agg(percentile_approx(col("vec_id"), lit(0.5),
      lit(100))).head.getLong(0)
    I.ingestVectorShard(spark, emb.where(col("vec_id") <= half),
      "vec_id", "embedding", root, 0L, nCells = 4, iters = 2)
    I.ingestVectorShard(spark, emb.where(col("vec_id") > half),
      "vec_id", "embedding", root, 1L, nCells = 4, iters = 2)
    val queries = emb.limit(8)
      .select(col("vec_id").as("qid"),
        SimilarityOps.asDouble(col("embedding")).as("qv"))
    def search(dir: String) =
      sortedRows(I.ivfSearch(spark, dir, queries, nProbe = 4, k = 5))
    val oldResults = search(root)
    // reindex into a fresh generation, then delete one doc from IT so
    // the generations provably differ
    I.reindexVectors(spark, root, gen2, nCells = 4, iters = 2)
    val victim = oldResults.head.split("\\|")(1).toLong
    import spark.implicits._
    StateRoot(I.Ivf, gen2).delete(spark, Seq(victim).toDF("vec_id"), "vec_id")
    // pre-flip: the root still serves the OLD generation, victim and all
    assert(search(root) == oldResults,
      "the root must keep serving the old generation until the flip")
    BatchState.cutoverGeneration(spark, root, gen2)
    assert(BatchState.resolveGeneration(spark, root) == gen2)
    val newResults = search(root)
    assert(newResults == search(gen2),
      "post-flip, the root must serve exactly the new generation")
    assert(!newResults.exists(_.split("\\|")(1).toLong == victim),
      "the new generation's deletion must be visible through the root")
    assert(BatchState.readParams(spark,
      BatchState.resolveGeneration(spark, root))("generation") == "1")
  }

  test("crashed flip (torn pointer version) is ignored: the old " +
      "generation keeps serving, and the retry commits the next " +
      "version") {
    val I = IncrementalIndexOps
    val root = fresh()
    val gen2 = s"$root.gen2"
    I.ingestVectorShard(spark, emb, "vec_id", "embedding", root, 0L,
      nCells = 4, iters = 2)
    I.reindexVectors(spark, root, gen2, nCells = 4, iters = 2)
    // a flip that crashed mid-write: the version file exists but holds
    // no path — readers must skip it
    fs.mkdirs(new Path(s"$root/_current"))
    fs.create(new Path(s"$root/_current/v1"), false).close()
    assert(BatchState.resolveGeneration(spark, root) == root,
      "a torn pointer version must not redirect readers")
    val queries = emb.limit(4)
      .select(col("vec_id").as("qid"),
        SimilarityOps.asDouble(col("embedding")).as("qv"))
    // searches still work against the old generation
    assert(I.ivfSearch(spark, root, queries, 4, 5).count() > 0)
    // the retry lands v2 and commits
    BatchState.cutoverGeneration(spark, root, gen2)
    assert(BatchState.resolveGeneration(spark, root) == gen2)
  }

  test("repeated cutovers stay one-hop: the root always points at the " +
      "NEWEST committed generation") {
    val root = fresh()
    fs.mkdirs(new Path(root))
    // resolution serves only pointers whose directory EXISTS (a torn
    // partial path must not redirect readers to nowhere)
    fs.mkdirs(new Path(s"$root.gen2"))
    fs.mkdirs(new Path(s"$root.gen3"))
    BatchState.cutoverGeneration(spark, root, s"$root.gen2")
    BatchState.cutoverGeneration(spark, root, s"$root.gen3")
    assert(BatchState.resolveGeneration(spark, root) == s"$root.gen3")
    // generations themselves carry no pointer — resolution never chains
    assert(BatchState.resolveGeneration(spark, s"$root.gen3")
      == s"$root.gen3")
  }

  test("BM25 cutover: the root serves the new generation's index and " +
      "routes deletions to it (the old generation stays pristine)") {
    val I = IncrementalIndexOps
    val docs = graft.Tables.documents(spark, srcDir)
    val corpus = docs.where(pmod(col("doc_id"), lit(97)) =!= 0)
    val queries = docs.where(pmod(col("doc_id"), lit(97)) === 0)
      .select(col("doc_id").as("qid"), col("text")).limit(6)
    val root = fresh()
    val gen2 = s"$root.gen2"
    I.ingestTextShard(spark, corpus, "doc_id", "text", root, 0L)
    // the "rebuilt" generation: a half-corpus index (as after an
    // offline rebuild) — provably different from the root's
    val half = corpus.agg(percentile_approx(col("doc_id"), lit(0.5),
      lit(100))).head.getLong(0)
    I.ingestTextShard(spark, corpus.where(col("doc_id") <= half),
      "doc_id", "text", gen2, 0L)
    def search(dir: String) =
      sortedRows(I.bm25Search(spark, dir, queries, "qid", "text", 10))
    val oldResults = search(root)
    BatchState.cutoverGeneration(spark, root, gen2)
    assert(search(root) == search(gen2) && search(root) != oldResults)
    // a takedown addressed at the ROOT must land in the CURRENT
    // generation — a tombstone in the retired one would leave the doc
    // searchable
    val victim = search(gen2).head.split("\\|")(2).toLong
    import spark.implicits._
    StateRoot(I.Bm25, root).delete(spark, Seq(victim).toDF("doc_id"), "doc_id")
    assert(!search(root).exists(_.split("\\|")(2).toLong == victim))
    assert(!BatchState.hasDeletionRoot(spark, root),
      "the deletion must not touch the retired generation's directory")
    assert(BatchState.hasDeletionRoot(spark, gen2))
  }

  test("streaming ingest onto a cutover root follows the pointer for " +
      "its LEDGER too: every micro-batch gets a fresh effective id " +
      "from the current generation (none silently dropped)") {
    val I = IncrementalIndexOps
    val docs = graft.Tables.documents(spark, srcDir)
    val corpus = docs.where(pmod(col("doc_id"), lit(97)) =!= 0)
    val queries = docs.where(pmod(col("doc_id"), lit(97)) === 0)
      .select(col("doc_id").as("qid"), col("text")).limit(6)
    val base = fresh()
    val (root, gen2) = (s"$base/root", s"$base/gen2")
    val r = corpus.agg(min(col("doc_id")), max(col("doc_id"))).head
    val (lo, hi) = (r.getLong(0), r.getLong(1))
    val (cut1, cut2) = (lo + (hi - lo) / 3, lo + 2 * (hi - lo) / 3)
    val (sA, sB, sC) = (
      corpus.where(col("doc_id") <= cut1),
      corpus.where(col("doc_id") > cut1 && col("doc_id") <= cut2),
      corpus.where(col("doc_id") > cut2))
    // gen 1 accumulated two batches; the rebuilt generation holds only
    // shard A as its batch 0 — so the stale generation's newest landed
    // id (1) differs from the current one's (0), which is exactly what
    // made the unresolved-ledger bug drop every drain after the first
    I.ingestTextShard(spark, sA, "doc_id", "text", root, 0L)
    I.ingestTextShard(spark, sB, "doc_id", "text", root, 1L)
    I.ingestTextShard(spark, sA, "doc_id", "text", gen2, 0L)
    BatchState.cutoverGeneration(spark, root, gen2)
    val (watch, ckpt) = (s"$base/in", s"$base/ckpt")
    fs.mkdirs(new Path(watch))
    def landShard(df: org.apache.spark.sql.DataFrame,
        name: String): Unit = {
      val tmp = s"$base/tmp_$name"
      df.coalesce(1).write.parquet(tmp)
      val part = fs.globStatus(new Path(s"$tmp/part-*"))(0).getPath
      assert(fs.rename(part, new Path(s"$watch/$name.parquet")))
    }
    def drain(): Unit = graft.streaming.Streaming.stateIngest(
      spark, watch, corpus.schema, ckpt,
      StateRoot(IncrementalIndexOps.Bm25, root),
      "doc_id") { (df, k) =>
      IncrementalIndexOps.ingestTextShard(df.sparkSession, df, "doc_id",
        "text", root, k)
    }
    landShard(sB, "s1")
    drain()
    landShard(sC, "s2")
    drain()
    val full = graft.ops.RetrievalOps.bm25TopK(corpus, queries,
      "doc_id", "text", "qid", "text", 10).withColumnRenamed("doc_id", "id")
    assert(sortedRows(I.bm25Search(spark, root, queries, "qid", "text",
      10)) == sortedRows(full),
      "both streamed shards must land in the CURRENT generation — a " +
        "ledger computed from the stale generation hands drain 2 an " +
        "already-landed id and drops it")
  }

  test("SemDeDup cutover: semanticDedupView through the root follows " +
      "the flip") {
    val D = IncrementalDedupOps
    val root = fresh()
    val gen2 = s"$root.gen2"
    D.ingestEmbeddingShard(spark, emb, "vec_id", "embedding", root, 0L,
      k = 4, iters = 2, threshold = 0.95)
    D.reindexEmbeddings(spark, root, gen2, k = 4, iters = 2,
      threshold = 0.95)
    import spark.implicits._
    // delete one vector from the NEW generation only
    val victim = emb.limit(1).head.getLong(0)
    StateRoot(D.Embeddings, gen2)
      .delete(spark, Seq(victim).toDF("vec_id"), "vec_id")
    def view(dir: String) =
      sortedRows(D.semanticDedupView(spark, dir, "vec_id"))
    assert(view(root).exists(_.startsWith(s"$victim|")),
      "pre-flip the root serves the old generation (victim present)")
    BatchState.cutoverGeneration(spark, root, gen2)
    assert(view(root) == view(gen2))
    assert(!view(root).exists(_.startsWith(s"$victim|")))
  }
}
