package graft.ops

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.etl.SparkTestSession

/** Planning-time job hygiene for the serving paths (round-16
  * what's-wrong #3 plus what its fix uncovered): a repeated search
  * must launch ZERO driver-side jobs during planning —
  *
  *  - the tombstone EMPTINESS probe ([[BatchState.readTombstones]]) is
  *    memoized per (deletion root, landed deletion set): one job on
  *    the first read, zero on repeats, one fresh probe when a new
  *    deletion batch changes the set;
  *  - the per-(stateDir, table) parquet SCHEMA is memoized
  *    ([[BatchState.readBatches]]): a bare `spark.read.parquet` was
  *    re-inferring footers with one tiny job per table per query (~7
  *    per BM25 search);
  *  - the frozen CODEBOOK is memoized per committed fit directory
  *    ([[BatchState.readCodebook]]): every IVF search was re-paying
  *    the driver collect.
  */
class TombstoneCacheSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val srcDir = "/root/testdata/sf0.001"

  private def docs: DataFrame = graft.Tables.documents(spark, srcDir)
  private def corpus: DataFrame =
    docs.where(pmod(col("doc_id"), lit(97)) =!= 0)

  /** Jobs launched while `body` runs (planning-time jobs — the bodies
    * here only BUILD DataFrames, never execute them).
    */
  private def jobsDuring(body: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      // the listener bus is async: drain it deterministically
      // (LiveListenerBus.waitUntilEmpty is public on the class but the
      // accessor is private[spark] — reflection is the spec-side door)
      val bus = spark.sparkContext.getClass
        .getMethod("listenerBus").invoke(spark.sparkContext)
      bus.getClass.getMethod("waitUntilEmpty", classOf[Long])
        .invoke(bus, Long.box(10000L))
      n.get()
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("IVF: planning a tombstoned search probes emptiness once per " +
      "landed deletion set and re-reads nothing else — first plan " +
      "pays jobs, repeats pay zero, a new deletion re-probes once") {
    val I = IncrementalIndexOps
    val emb = graft.Tables.embeddings(spark, srcDir)
    val state = java.nio.file.Files
      .createTempDirectory("graft_tcache_ivf").toString
    I.ingestVectorShard(spark, emb, "vec_id", "embedding", state, 0L,
      nCells = 4, iters = 2)
    import spark.implicits._
    val ids = emb.orderBy("vec_id").limit(20)
      .select("vec_id").as[Long].collect()
    StateRoot(I.Ivf, state).delete(spark, Seq(ids(0)).toDF("vec_id"), "vec_id")
    val q = emb.limit(4).select(col("vec_id").as("qid"),
      SimilarityOps.asDouble(col("embedding")).as("qv"))
    def planSearch(): Unit = I.ivfSearch(spark, state, q, 2, 5)
    val first = jobsDuring(planSearch())
    assert(first >= 1,
      s"first planning after a deletion should probe (got $first jobs)")
    assert(jobsDuring(planSearch()) == 0,
      "repeat planning must hit the emptiness/schema/codebook memos")
    assert(jobsDuring(planSearch()) == 0)
    // a NEW deletion batch changes the landed set: exactly one fresh
    // probe (schemas and codebook stay memoized)
    StateRoot(I.Ivf, state).delete(spark, Seq(ids(1)).toDF("vec_id"), "vec_id")
    assert(jobsDuring(planSearch()) == 1)
    assert(jobsDuring(planSearch()) == 0)
    // correctness untouched: both victims are gone
    assert(I.ivfSearch(spark, state, q, 2, 5)
      .where(col("cid").isin(ids(0), ids(1))).count() == 0)
  }

  test("codebook memo keys on file identity: deleting a state " +
      "directory and refitting at the same path serves the NEW " +
      "codebook, never the memoized old one") {
    val emb = graft.Tables.embeddings(spark, srcDir)
    val state = java.nio.file.Files
      .createTempDirectory("graft_cbkey").toString
    val (lo, hi) = {
      val r = emb.agg(min(col("vec_id")), max(col("vec_id"))).head
      (r.getLong(0), r.getLong(1))
    }
    val mid = (lo + hi) / 2
    IncrementalIndexOps.ingestVectorShard(spark,
      emb.where(col("vec_id") <= mid), "vec_id", "embedding", state, 0L,
      nCells = 4, iters = 2)
    val cb1 = BatchState.readCodebook(spark, state)
    // the documented refit-retry flow: delete the directory, refit on
    // DIFFERENT vectors at the same path
    val fs = new org.apache.hadoop.fs.Path(state).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(state), true)
    IncrementalIndexOps.ingestVectorShard(spark,
      emb.where(col("vec_id") > mid), "vec_id", "embedding", state, 0L,
      nCells = 4, iters = 2)
    val cb2 = BatchState.readCodebook(spark, state)
    assert(cb1 != cb2,
      "precondition: the refit on different vectors produced a " +
        "different codebook")
    // and the memo now serves the new one stably
    assert(BatchState.readCodebook(spark, state) == cb2)
  }

  test("BM25: repeat search planning launches zero jobs (schemas " +
      "memoized; BM25 reads the tombstone deltas without a probe)") {
    val I = IncrementalIndexOps
    val state = java.nio.file.Files
      .createTempDirectory("graft_tcache_bm").toString
    I.ingestTextShard(spark, corpus, "doc_id", "text", state, 0L)
    import spark.implicits._
    val victim = corpus.agg(min(col("doc_id"))).head.getLong(0)
    StateRoot(I.Bm25, state).delete(spark, Seq(victim).toDF("doc_id"), "doc_id")
    val q = docs.where(pmod(col("doc_id"), lit(97)) === 0)
      .select(col("doc_id").as("qid"), col("text"))
    def planSearch(): Unit =
      I.bm25Search(spark, state, q, "qid", "text", 10)
    planSearch() // first plan infers + memoizes the table schemas
    assert(jobsDuring(planSearch()) == 0,
      "repeat BM25 planning must not re-infer parquet schemas")
  }
}
