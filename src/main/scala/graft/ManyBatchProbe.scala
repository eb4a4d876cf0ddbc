package graft

/** Many-batch state probe: the measured backing for
  * [[graft.ops.BatchState]]'s constant-RPC-listing and small-file
  * compaction claims, which were argued but never timed against a
  * directory holding hundreds of batches. Ingests `n` (default 500)
  * tiny document shards into one incremental BM25 state directory —
  * the years-of-shard-by-shard-ingest shape at miniature data size, so
  * every cost measured is METADATA cost (directory count, file count,
  * open() storms), not data volume — then times, before and after
  * [[graft.ops.BatchState.compactState]]:
  *
  *  - `landedBatchIds` (min of 7): one `globStatus` per table over n
  *    dirs vs over one — the planning-path cost every ingest and every
  *    search pays;
  *  - a full `bm25Search` execution: 4n tiny parquet footer opens vs 4.
  *
  * Usage: `sbt "runMain graft.ManyBatchProbe 500"` — one JSON line per
  * measurement; the recorded run lives in SCALE_PROBE.md.
  */
object ManyBatchProbe {

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(500)
    val spark = GraftSession()
    import spark.implicits._
    val I = graft.ops.IncrementalIndexOps
    val state = java.nio.file.Files
      .createTempDirectory("graft_manybatch").toString

    def timed[T](body: => T): (Double, T) = {
      val t0 = System.nanoTime()
      val r = body
      ((System.nanoTime() - t0) / 1e9, r)
    }

    val (ingestSec, _) = timed {
      var k = 0
      while (k < n) {
        // 3 docs per shard, distinct ids per batch — a legal corpus, so
        // the post-compaction search stays semantically valid
        I.ingestTextShard(spark,
          Seq.tabulate(3)(j => (k * 3L + j,
              s"alpha beta gamma delta batch$k doc$j"))
            .toDF("doc_id", "text"),
          "doc_id", "text", state, k.toLong)
        k += 1
      }
    }
    println(f"""{"probe":"manybatch","n_batches":$n,"ingest_total_s":$ingestSec%.1f,"ingest_per_batch_ms":${ingestSec * 1000 / n}%.0f}""")

    def listMs(): Double = Seq.fill(7)(timed(
      graft.ops.BatchState.landedBatchIds(spark, state,
        Seq("postings", "doclen", "tokstats", "globals"), None))._1)
      .min * 1000
    def searchMs(): Double = Seq.fill(3)(timed(
      I.bm25Search(spark, state,
        Seq((0L, "alpha batch7")).toDF("qid", "text"), "qid", "text", 10)
        .collect())._1).min * 1000

    val preList = listMs()
    val preSearch = searchMs()
    println(f"""{"probe":"manybatch","phase":"pre-compaction","landed_list_ms":$preList%.1f,"search_ms":$preSearch%.0f}""")

    val (compactSec, _) =
      timed(graft.ops.StateRoot(I.Bm25, state).compact(spark))
    val postList = listMs()
    val postSearch = searchMs()
    println(f"""{"probe":"manybatch","phase":"post-compaction","compact_s":$compactSec%.1f,"landed_list_ms":$postList%.1f,"search_ms":$postSearch%.0f}""")
    println(f"""{"probe":"manybatch","list_speedup":${preList / postList}%.1f,"search_speedup":${preSearch / postSearch}%.1f}""")
    spark.stop()
  }
}
