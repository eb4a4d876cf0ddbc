package graft.ops

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.etl.SparkTestSession

/** Deletion contracts of the near-dup state families
  * ([[StateRoot.delete]] on the image and embedding families),
  * completing tombstone support across all four incremental
  * modalities:
  *
  *  - images (pairwise facts → EXACT semantics): pairs after deleting
  *    `d` equal one-shot pairs over the union minus `d`, later ingests
  *    mint no edge against removed content, purge drops the bytes;
  *  - embeddings (component history → TAKEDOWN semantics): deleted
  *    vectors leave the view, components never split (bridge docs stay
  *    grouped — pinned as CHOSEN semantics), a deleted representative
  *    re-elects the smallest survivor, purge rewrites the snapshot so
  *    the purged directory is self-contained.
  */
class DedupTombstoneSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val srcDir = "/root/testdata/sf0.001"
  private val I = IncrementalDedupOps

  private def fresh(): String =
    java.nio.file.Files.createTempDirectory("graft_ddel").toString

  private def fs = new Path("/").getFileSystem(
    spark.sparkContext.hadoopConfiguration)

  private def sortedRows(df: DataFrame): Seq[String] =
    df.orderBy(df.columns.map(col): _*).collect()
      .map(_.mkString("|")).toSeq

  // ------------------------------------------------------------ images

  private def media: DataFrame = {
    import spark.implicits._
    graft.Tables.documents(spark, srcDir)
      .where(pmod(col("doc_id"), lit(3)) === 1)
      .select(col("doc_id")).as[Long]
      .mapPartitions(it => it.map { id =>
        (id, graft.ops.ImageIoCodecs.syntheticPng(id - id % 10))
      }).toDF("doc_id", "img")
  }

  test("image deletion is EXACT: pairs equal the one-shot over the " +
      "survivors; later ingests mint no edge against removed images; " +
      "purge drops band rows and edges physically") {
    val state = fresh()
    val ids = media.select("doc_id")
    val r = ids.agg(min(col("doc_id")), max(col("doc_id"))).head
    val (lo, hi) = (r.getLong(0), r.getLong(1))
    val cut1 = lo + (hi - lo) / 3
    val cut2 = lo + 2 * (hi - lo) / 3
    I.ingestImageShard(spark, media.where(col("doc_id") <= cut1),
      "doc_id", "img", state, 0L)
    I.ingestImageShard(spark,
      media.where(col("doc_id") > cut1 && col("doc_id") <= cut2),
      "doc_id", "img", state, 1L)
    val d = ids.where(col("doc_id") <= cut2 &&
      pmod(col("doc_id"), lit(7)) === 1).select("doc_id")
    assert(d.count() > 0)
    StateRoot.deleteIn(spark, I.Images, d, "doc_id", state, 0L)
    // shard 3 ingests AFTER the deletion: no edge may touch deleted ids
    I.ingestImageShard(spark, media.where(col("doc_id") > cut2),
      "doc_id", "img", state, 2L)
    val survivors = media.join(d, Seq("doc_id"), "left_anti")
    val oneShot = DedupOps.imageNearDupPairs(survivors, "doc_id", "img")
    assert(sortedRows(I.imagePairs(spark, state)) == sortedRows(oneShot),
      "pairwise deletion must be exactly the survivor one-shot")
    // purge: bytes gone, view unchanged, deletion root retired
    val before = sortedRows(I.imagePairs(spark, state))
    StateRoot(I.Images, state).purge(spark)
    assert(sortedRows(I.imagePairs(spark, state)) == before)
    val landed = BatchState.landedBatchIds(spark, state,
      Seq("bands", "edges"), None)
    val bands = spark.read.parquet(
      landed.map(k => s"$state/bands/batch=$k"): _*)
    assert(bands.join(d.withColumnRenamed("doc_id", "id"), Seq("id"),
      "left_semi").count() == 0, "deleted images' bands must be purged")
  }

  // -------------------------------------------------------- embeddings

  private def emb: DataFrame = graft.Tables.embeddings(spark, srcDir)

  test("embedding deletion is TAKEDOWN-shaped: deleted vectors leave " +
      "the view, a deleted representative re-elects the smallest " +
      "survivor, components never split, and purge rewrites the " +
      "snapshot so the purged directory is self-contained") {
    val state = fresh()
    val r = emb.agg(min(col("vec_id")), max(col("vec_id"))).head
    val mid = (r.getLong(0) + r.getLong(1)) / 2
    I.ingestEmbeddingShard(spark, emb.where(col("vec_id") <= mid),
      "vec_id", "embedding", state, 0L, k = 4, iters = 2, threshold = 0.35)
    I.ingestEmbeddingShard(spark, emb.where(col("vec_id") > mid),
      "vec_id", "embedding", state, 1L, k = 4, iters = 2, threshold = 0.35)
    val before = I.semanticDedupView(spark, state, "vec_id")
      .persist()
    try {
      // delete every current REPRESENTATIVE of a non-trivial cluster:
      // forces re-election everywhere it can happen
      val reps = before.where(col("rep") =!= col("vec_id"))
        .select(col("rep").as("vec_id")).distinct()
      assert(reps.count() > 0, "need non-trivial clusters to re-elect")
      StateRoot.deleteIn(spark, I.Embeddings, reps, "vec_id", state, 0L)
      val after = I.semanticDedupView(spark, state, "vec_id")
      assert(after.join(reps, Seq("vec_id"), "left_semi").count() == 0,
        "deleted vectors must leave the view")
      // CHOSEN semantics: groups are preserved minus the deleted
      // members, each re-keyed to its min surviving member — derive the
      // expectation from the pre-deletion view directly
      val expected = before
        .join(reps.withColumnRenamed("vec_id", "gone")
          .select(col("gone").as("vec_id")), Seq("vec_id"), "left_anti")
        .withColumn("newrep",
          min(col("vec_id")).over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("rep"))))
        .select(col("vec_id"), col("cluster"), col("newrep").as("rep"))
      assert(sortedRows(after) == sortedRows(expected),
        "survivors keep their groups, re-keyed to the min survivor")
      // purge: self-contained snapshot — the plain view path (no
      // tombstones) must reproduce the takedown view exactly
      StateRoot(I.Embeddings, state).purge(spark)
      assert(!fs.exists(new Path(s"$state/_deletes/.purged_at")))
      assert(sortedRows(I.semanticDedupView(spark, state, "vec_id")) ==
        sortedRows(expected))
      val landed = BatchState.landedBatchIds(spark, state,
        Seq("assign", "edges", "clusters"), None)
      val assign = spark.read.parquet(
        landed.map(k => s"$state/assign/batch=$k"): _*)
      assert(assign.join(reps.withColumnRenamed("vec_id", "id"),
        Seq("id"), "left_semi").count() == 0,
        "deleted vectors' stored assignments must be purged")
    } finally before.unpersist(blocking = false)
  }
}
