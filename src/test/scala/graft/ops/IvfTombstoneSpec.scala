package graft.ops

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.etl.SparkTestSession

/** Tombstones for the IVF index ([[StateRoot.delete]] /
  * [[StateRoot.purge]]): search after deletions equals
  * a from-scratch index over the survivors UNDER THE SAME frozen
  * codebook (deletion never refits — the cells of surviving vectors are
  * untouched); purge physically removes the cells and retires the
  * tombstone root; reindex re-assigns only survivors.
  */
class IvfTombstoneSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val srcDir = "/root/testdata/sf0.001"
  private val I = IncrementalIndexOps

  private def emb: DataFrame = graft.Tables.embeddings(spark, srcDir)

  private def fresh(): String =
    java.nio.file.Files.createTempDirectory("graft_ivfdel").toString

  private def fs = new Path("/").getFileSystem(
    spark.sparkContext.hadoopConfiguration)

  private def sortedRows(df: DataFrame): Seq[String] =
    df.orderBy(df.columns.map(col): _*).collect()
      .map(_.mkString("|")).toSeq

  private def qset: DataFrame = emb.where(col("vec_id") < 10)
    .select(col("vec_id").as("qid"),
      SimilarityOps.asDouble(col("embedding")).as("qv"))

  private def search(state: String): Seq[String] = sortedRows(
    I.ivfSearch(spark, state, qset, nProbe = 2, k = 10))

  test("delete then search equals the survivors indexed under the SAME " +
      "frozen codebook; replay/unknown ids no-op; purge removes the " +
      "cells physically and the next search is anti-join-free") {
    import spark.implicits._
    val state = fresh()
    val r = emb.agg(min(col("vec_id")), max(col("vec_id"))).head
    val mid = (r.getLong(0) + r.getLong(1)) / 2
    I.ingestVectorShard(spark, emb.where(col("vec_id") <= mid),
      "vec_id", "embedding", state, 0L, nCells = 4, iters = 2)
    I.ingestVectorShard(spark, emb.where(col("vec_id") > mid),
      "vec_id", "embedding", state, 1L, nCells = 4, iters = 2)
    val d = emb.where(pmod(col("vec_id"), lit(9)) === 0 &&
      col("vec_id") >= 10).select("vec_id")
    StateRoot.deleteIn(spark, I.Ivf, d, "vec_id", state, 0L)
    // the twin: same codebook (copied), survivors as one shard
    val twin = fresh()
    BatchState.ensureParams(spark, twin,
      Map("nCells" -> "4", "iters" -> "2"))
    val cents = BatchState.readCodebook(spark, state)
    BatchState.land(cents.zipWithIndex.map { case (cv, ci) => (ci, cv) }
      .toDF("ci", "cv"), twin, "centroids", 0L)
    I.ingestVectorShard(spark,
      emb.join(d, Seq("vec_id"), "left_anti"),
      "vec_id", "embedding", twin, 0L, nCells = 4, iters = 2)
    val after = search(state)
    assert(after == search(twin),
      "tombstoned search must equal the survivor index under the " +
        "frozen codebook")
    // replay + unknown ids: exact no-ops
    StateRoot.deleteIn(spark, I.Ivf, d, "vec_id", state, 0L)
    StateRoot.deleteIn(spark, I.Ivf,
      d.unionAll(Seq(-5L).toDF("vec_id")), "vec_id", state, 1L)
    assert(search(state) == after)
    // purge: cells physically gone, root retired, search unchanged
    StateRoot(I.Ivf, state).purge(spark)
    assert(search(state) == after)
    val landed = BatchState.landedBatchIds(spark, state, Seq("cells"), None)
    val cells = spark.read.parquet(
      landed.map(k => s"$state/cells/batch=$k"): _*)
    assert(cells.join(d.withColumnRenamed("vec_id", "cid"), Seq("cid"),
      "left_semi").count() == 0, "tombstoned cells must be purged")
    assert(fs.globStatus(
        new Path(s"$state/_deletes/del_ids/batch=*")) == null ||
      fs.globStatus(new Path(s"$state/_deletes/del_ids/batch=*")).isEmpty)
  }

  test("reindex over a tombstoned directory re-assigns only survivors " +
      "— the new generation does not resurrect deleted vectors") {
    val state = fresh()
    I.ingestVectorShard(spark, emb, "vec_id", "embedding", state, 0L,
      nCells = 4, iters = 2)
    val d = emb.where(pmod(col("vec_id"), lit(9)) === 0)
      .select("vec_id")
    StateRoot.deleteIn(spark, I.Ivf, d, "vec_id", state, 0L)
    val next = fresh()
    I.reindexVectors(spark, state, next, nCells = 4, iters = 2)
    val cells = spark.read.parquet(s"$next/cells/batch=0")
    assert(cells.join(d.withColumnRenamed("vec_id", "cid"), Seq("cid"),
      "left_semi").count() == 0,
      "the reindexed generation must hold survivors only")
    // full parity: the reindexed generation (refit on survivors) equals
    // a from-scratch one-shot ingest of the survivors
    val oneShot = fresh()
    I.ingestVectorShard(spark, emb.join(d, Seq("vec_id"), "left_anti"),
      "vec_id", "embedding", oneShot, 0L, nCells = 4, iters = 2)
    assert(search(next) == search(oneShot),
      "survivor-only reindex at full fraction equals the from-scratch " +
        "survivor index")
  }
}
