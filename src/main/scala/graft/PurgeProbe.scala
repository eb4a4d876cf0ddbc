package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Volume probes for the two round-16 gaps the per-query battery can't
  * cover (both need the 10× replicated corpus AND a bespoke flow):
  *
  *  - `purge` — the tombstone PURGE rewrite at 10×: the read paths were
  *    probed at volume in round 16 (m15, n14) but the purge itself — a
  *    transformed compaction of the full main tables plus the
  *    commit-marker flip — had only an argued cost. The probe ingests
  *    the replicated corpus, tombstones the `doc_id % 7 = 0` slice,
  *    pins the tombstoned search, times `StateRoot.purge`, and asserts the
  *    post-purge search is row-identical with the deletion root
  *    retired (the constant-RPC fast path restored).
  *
  *  - `composed` — the `st_curate_then_index` production loop at 10×:
  *    two AvailableNow drains over the replicated corpus, each folding
  *    curation state, indexing the kept docs and retracting demotions;
  *    verified by hash-equality against the one-shot
  *    curate-then-index over the same 10× corpus (the same law the
  *    sf0.1 battery row pins, at volume). Per-micro-batch guard IO
  *    (ledger + lease + `_LANDED` writes) is inside the timed drains —
  *    a blowup surfaces here as drain time, not hidden constants.
  *
  * Replication reuses [[VolumeProbe.multiply]] (disjoint id spaces per
  * replica, text untouched), so curation gates/dedup behave as on the
  * base corpus replica-by-replica.
  */
object PurgeProbe {

  private def timed[T](body: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val r = body
    ((System.nanoTime() - t0) / 1e9, r)
  }

  private def num(d: Double): String =
    String.format(java.util.Locale.ROOT, "%.1f", Double.box(d))

  def main(args: Array[String]): Unit = {
    val srcDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val workDir = args.lift(1).getOrElse("/tmp/graft_purge_probe")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val mode = args.lift(3).getOrElse("both")
    val spark = GraftSession()
    println(s"""{"probe":"purge_probe","factor":$factor,"src":"$srcDir","heap_mb":${Runtime.getRuntime.maxMemory() / (1 << 20)},"mode":"$mode"}""")

    // the many-deletion-batch mode probes LEDGER constants, not data
    // volume — it runs on the base corpus and skips the replication
    if (mode == "manydel") {
      val I = graft.ops.IncrementalIndexOps
      val docs0 = spark.read.parquet(s"$srcDir/documents.parquet")
      val corpus0 = docs0.where(pmod(col("doc_id"), lit(97)) =!= 0)
      val queries0 = docs0.where(pmod(col("doc_id"), lit(97)) === 0)
        .select(col("doc_id").as("qid"), col("text"))
      val state = s"$workDir/manydel_state"
      val fs0 = new org.apache.hadoop.fs.Path(state)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs0.delete(new org.apache.hadoop.fs.Path(state), true)
      I.ingestTextShard(spark, corpus0, "doc_id", "text", state, 0L)
      import spark.implicits._
      val ids = corpus0.orderBy("doc_id").limit(1000)
        .select("doc_id").as[Long].collect()
      val n = 200
      val (delSec, _) = timed {
        var i = 0
        while (i < n) {
          val slice = ids.slice(i * 5, i * 5 + 5).toSeq.toDF("doc_id")
          graft.streaming.Streaming.deletionMicroBatch(
            slice, i.toLong, state, I.DelTables) { (df, dir, eff) =>
            graft.ops.StateRoot.deleteIn(spark, I.Bm25, df, "doc_id", dir,
              eff)
          }
          i += 1
        }
      }
      def search() = I.bm25Search(spark, state, queries0,
        "qid", "text", 10).orderBy("qid", "rank").collect().toSeq
      val (searchManySec, before) = timed { search() }
      val root = graft.ops.StateRoot(I.Bm25, state)
      val (compactSec, _) = timed { root.compact(spark) }
      val (searchFoldedSec, afterFold) = timed { search() }
      require(afterFold.map(_.toString) == before.map(_.toString),
        "delete-ledger compaction must not change the search")
      val (purgeSec, _) = timed { root.purge(spark) }
      val (searchPurgedSec, afterPurge) = timed { search() }
      require(afterPurge.map(_.toString) == before.map(_.toString),
        "purge must not change the search")
      println(s"""{"probe":"manydel","n_batches":$n,"delete_total_s":${num(delSec)},"delete_avg_ms":${num(delSec * 1000 / n)},"search_${n}_del_batches_s":${num(searchManySec)},"compact_s":${num(compactSec)},"search_folded_s":${num(searchFoldedSec)},"purge_s":${num(purgeSec)},"search_purged_s":${num(searchPurgedSec)},"equal":true}""")

      spark.stop()
      return
    }

    // the bucketed-delta mode probes the SCAN term of the deletion
    // delta derivation at 10× volume (the base-corpus manydel feed is
    // ledger-overhead-dominated — pruning's win is the postings pass,
    // which only matters once the postings are big): ingest the
    // replicated corpus flat and bucketed, then time a small deletion
    // feed against each. On the bucketed root each delta derivation
    // scans only the deleted ids' buckets (≤5 of 32) of postings and
    // doclen.
    if (mode == "bucketdelta") {
      val I = graft.ops.IncrementalIndexOps
      import spark.implicits._
      val offset = VolumeProbe.keyOffsetFor(spark, srcDir)
      val big = s"$workDir/bktdelta_docs.parquet"
      VolumeProbe.multiply(
          spark.read.parquet(s"$srcDir/documents.parquet"), factor, offset)
        .write.mode("overwrite").parquet(big)
      val docs0 = spark.read.parquet(big)
      val corpus = docs0.where(pmod(col("doc_id"), lit(97)) =!= 0)
      val ids = corpus.orderBy("doc_id").limit(100)
        .select("doc_id").as[Long].collect()
      val n = 10
      // (no bm25Search here: the integer-rational scoring is sized for
      // battery-scale corpora and overflows at a 300× totlen; layout
      // invisibility to SEARCH results is spec-pinned at battery scale
      // — this probe compares the landed deletion DELTAS, which are
      // counts/sums and overflow-free at any factor)
      def run(state: String, bucketed: Boolean): (Double, String) = {
        val fs0 = new org.apache.hadoop.fs.Path(state)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        fs0.delete(new org.apache.hadoop.fs.Path(state), true)
        if (bucketed)
          graft.ops.StateRoot(I.Bm25, state).bucket(spark, nBuckets = 32)
        I.ingestTextShard(spark, corpus, "doc_id", "text", state, 0L)
        val (delSec, _) = timed {
          var i = 0
          while (i < n) {
            graft.ops.StateRoot.deleteIn(spark, I.Bm25,
              ids.slice(i * 5, i * 5 + 5).toSeq.toDF("doc_id"),
              "doc_id", state, i.toLong)
            i += 1
          }
        }
        val deltas = spark.read
          .parquet(s"$state/_deletes/del_tokstats/batch=*")
          .agg(count(lit(1)), sum(col("df"))).head.toString
        (delSec, deltas)
      }
      val (flatDel, flatDeltas) =
        run(s"$workDir/bktdelta_flat", bucketed = false)
      val (bktDel, bktDeltas) =
        run(s"$workDir/bktdelta_bucketed", bucketed = true)
      require(bktDeltas == flatDeltas,
        "the bucketed layout must derive identical deletion deltas")
      println(s"""{"probe":"bucketdelta_${factor}x","n_del_batches":$n,"n_buckets":32,"flat_delete_avg_ms":${num(flatDel * 1000 / n)},"bucketed_delete_avg_ms":${num(bktDel * 1000 / n)},"delete_speedup":${num(flatDel / bktDel)},"equal_deltas":true}""")

      // isolate the SCAN term the full delete buries under its ~8
      // fixed-cost ledger/guard jobs: the delta derivation itself —
      // postings semi-joined by the deleted ids — repeated over each
      // root. This is the term that scales with corpus size at 100 TB;
      // the fixed ledger jobs do not.
      val delIds = ids.take(5).toSeq.toDF("doc_id")
        .select(col("doc_id").as("id"))
      def derive(state: String): Double = Seq.fill(5)(timed {
        // the real delta shape: the per-token df decrement — reads
        // (id, token), not a column-pruned count
        graft.ops.BatchState.readBatchesPrunedBy(spark, state,
          "postings", Seq(0L), delIds, "id").get
          .join(delIds, Seq("id"), "left_semi")
          .groupBy(col("token")).agg((-count(lit(1))).as("df"))
          .collect()
      }._1).min * 1000
      val flatDerive = derive(s"$workDir/bktdelta_flat")
      val bktDerive = derive(s"$workDir/bktdelta_bucketed")
      println(s"""{"probe":"bucketdelta_derivation","factor":$factor,"flat_derive_ms":${num(flatDerive)},"bucketed_derive_ms":${num(bktDerive)},"derive_speedup":${num(flatDerive / bktDerive)}}""")
      spark.stop()
      return
    }

    val offset = VolumeProbe.keyOffsetFor(spark, srcDir)
    val big = s"$workDir/documents.parquet"
    VolumeProbe.multiply(
        spark.read.parquet(s"$srcDir/documents.parquet"), factor, offset)
      .write.mode("overwrite").parquet(big)
    val docs = spark.read.parquet(big)
    val corpus = docs.where(pmod(col("doc_id"), lit(97)) =!= 0)
    // replica-0 queries only: the query set stays base-sized at any
    // factor, which is how a serving path looks at 100 TB
    val queries = docs.where(pmod(col("doc_id"), lit(97)) === 0 &&
        col("doc_id") < offset)
      .select(col("doc_id").as("qid"), col("text"))
    def sortedRows(df: DataFrame): Seq[String] =
      df.orderBy(df.columns.map(col): _*).collect()
        .map(_.mkString("|")).toSeq

    // the AS-OF READ path at volume (round-17 ask #7): x39/c5 price the
    // state REBUILD inside their battery rows; this prices the read
    // verb itself — a cut's prefix filter + re-aggregate over 10×
    // state vs the current search over the same state — and pins the
    // cut equal to a state built from the prefix shards alone.
    if (mode == "asof") {
      val I = graft.ops.IncrementalIndexOps
      val (stateFull, statePrefix) =
        (s"$workDir/asof_full", s"$workDir/asof_prefix")
      val fsA = new org.apache.hadoop.fs.Path(workDir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      Seq(stateFull, statePrefix).foreach(p =>
        fsA.delete(new org.apache.hadoop.fs.Path(p), true))
      val r = corpus.agg(min(col("doc_id")), max(col("doc_id"))).head
      val (lo, hi) = (r.getLong(0), r.getLong(1))
      val (cut1, cut2) = (lo + (hi - lo) / 3, lo + 2 * (hi - lo) / 3)
      val (sA, sB, sC) = (
        corpus.where(col("doc_id") <= cut1),
        corpus.where(col("doc_id") > cut1 && col("doc_id") <= cut2),
        corpus.where(col("doc_id") > cut2))
      val (ingestSec, _) = timed {
        I.ingestTextShard(spark, sA, "doc_id", "text", stateFull, 0L)
        I.ingestTextShard(spark, sB, "doc_id", "text", stateFull, 1L)
        I.ingestTextShard(spark, sC, "doc_id", "text", stateFull, 2L)
      }
      I.ingestTextShard(spark, sA, "doc_id", "text", statePrefix, 0L)
      I.ingestTextShard(spark, sB, "doc_id", "text", statePrefix, 1L)
      val (curSec, _) = timed {
        sortedRows(I.bm25Search(spark, stateFull, queries,
          "qid", "text", 10))
      }
      val (asOfSec, asOfRows) = timed {
        sortedRows(I.bm25Search(spark, stateFull, queries,
          "qid", "text", 10, asOfBatch = Some(1L)))
      }
      val (prefixSec, prefixRows) = timed {
        sortedRows(I.bm25Search(spark, statePrefix, queries,
          "qid", "text", 10))
      }
      require(asOfRows == prefixRows,
        "the as-of cut must equal a state built only from the prefix")
      println(s"""{"probe":"asof_${factor}x","ingest_3shards_s":${num(ingestSec)},"search_current_s":${num(curSec)},"search_asof_s":${num(asOfSec)},"search_prefix_built_s":${num(prefixSec)},"rows":${asOfRows.size},"equal":true}""")
      spark.stop()
      return
    }

    if (mode == "both" || mode == "purge") {
      val I = graft.ops.IncrementalIndexOps
      val state = s"$workDir/bm25_state"
      // a re-run against the default workDir must not measure the
      // PREVIOUS run's compacted state (whose watermark would hide the
      // fresh batch-0 ingest and silently pass every require)
      new org.apache.hadoop.fs.Path(state)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(state), true)
      val (ingestSec, _) = timed {
        I.ingestTextShard(spark, corpus, "doc_id", "text", state, 0L)
      }
      val root = graft.ops.StateRoot(I.Bm25, state)
      val (delSec, _) = timed {
        root.delete(spark, corpus.where(pmod(col("doc_id"), lit(7)) === 0)
          .select("doc_id"), "doc_id")
      }
      val (searchTombSec, before) = timed {
        sortedRows(I.bm25Search(spark, state, queries, "qid", "text", 10))
      }
      val (purgeSec, _) = timed { root.purge(spark) }
      require(!graft.ops.BatchState.hasDeletionRoot(spark, state),
        "purge must retire the deletion root (constant-RPC fast path)")
      val (searchSec, after) = timed {
        sortedRows(I.bm25Search(spark, state, queries, "qid", "text", 10))
      }
      require(after == before,
        "post-purge search must be row-identical to the tombstoned view")
      println(s"""{"probe":"purge_10x","ingest_s":${num(ingestSec)},"delete_s":${num(delSec)},"search_tombstoned_s":${num(searchTombSec)},"purge_s":${num(purgeSec)},"search_purged_s":${num(searchSec)},"rows":${after.size},"equal":true,"del_root_retired":true}""")
    }

    if (mode == "both" || mode == "composed") {
      import org.apache.hadoop.fs.Path
      val base = s"$workDir/composed"
      val (watch, ckpt, state) = (s"$base/in", s"$base/ckpt", s"$base/state")
      val fs = new Path(base).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      fs.delete(new Path(base), true)
      fs.mkdirs(new Path(watch))
      def landShard(df: DataFrame, name: String): Unit = {
        val tmp = s"$base/tmp_$name"
        df.write.parquet(tmp)
        var i = 0
        fs.globStatus(new Path(s"$tmp/part-*")).foreach { st =>
          fs.rename(st.getPath, new Path(s"$watch/${name}_$i.parquet"))
          i += 1
        }
      }
      def drain(): Unit = graft.streaming.Streaming.curateAndIndexIngest(
        spark, watch, corpus.schema, ckpt, state, "doc_id", "text")
      val r = corpus.agg(min(col("doc_id")), max(col("doc_id"))).head
      val mid = (r.getLong(0) + r.getLong(1)) / 2
      landShard(corpus.where(col("doc_id") <= mid), "s1")
      val (drain1Sec, _) = timed { drain() }
      landShard(corpus.where(col("doc_id") > mid), "s2")
      val (drain2Sec, _) = timed { drain() }
      val (searchSec, streamed) = timed {
        sortedRows(graft.ops.IncrementalIndexOps.bm25Search(
          spark, s"$state/index", queries, "qid", "text", 10))
      }
      // one-shot twin over the same 10× corpus — the equality the
      // battery row pins at sf0.1, now at volume
      val (oneShotSec, expected) = timed {
        val kept = graft.ops.CorpusOps.curate(corpus, "doc_id", "text")
          .select("doc_id")
        sortedRows(graft.ops.RetrievalOps.bm25TopK(
          corpus.join(kept, Seq("doc_id"), "left_semi"), queries,
          "doc_id", "text", "qid", "text", 10)
          .withColumnRenamed("doc_id", "id"))
      }
      require(streamed == expected,
        "composed stream at 10x must equal the one-shot curate-then-index")
      println(s"""{"probe":"composed_10x","drain1_s":${num(drain1Sec)},"drain2_s":${num(drain2Sec)},"search_s":${num(searchSec)},"oneshot_s":${num(oneShotSec)},"rows":${streamed.size},"equal":true}""")
    }
    spark.stop()
  }
}
