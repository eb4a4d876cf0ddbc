package graft.sinks

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions.col

/** Partition-aware parquet writer — the batch sink shape that survives
  * 100 TB:
  *
  *  - `partitionBy` on low-cardinality columns gives readers partition
  *    pruning (a filtered read scans only matching directories);
  *  - a pre-write `repartition` on the same columns sends each output
  *    partition to ONE task, avoiding the files = tasks × partitions
  *    small-file explosion;
  *  - `maxRecordsPerFile` bounds individual file size so a skewed
  *    partition splits instead of producing one multi-GB file.
  */
object ParquetSink {

  def writePartitioned(df: DataFrame, path: String,
      partitionCols: Seq[String],
      maxRecordsPerFile: Long = 5000000L,
      mode: SaveMode = SaveMode.Overwrite): Unit = {
    val writer =
      (if (partitionCols.nonEmpty)
         df.repartition(partitionCols.map(c => col(s"`$c`")): _*)
       else df)
        .write
        .mode(mode)
        .option("maxRecordsPerFile", maxRecordsPerFile)
    (if (partitionCols.nonEmpty) writer.partitionBy(partitionCols: _*) else writer)
      .parquet(path)
  }

  /** Bucketed parquet table — the co-located-join path: two tables
    * bucketed on the same key into the same bucket count join with NO
    * exchange on either side (hash(key) % n fixed at write time), the
    * classic pre-shuffle for a fact table that is joined on the same
    * key by many downstream queries. `sortCols` additionally pre-sorts
    * within each bucket file for sort-merge reuse. Registered through
    * the session catalog (`saveAsTable`) because bucket metadata lives
    * there, not in the files.
    */
  def writeBucketed(df: DataFrame, table: String,
      bucketCols: Seq[String], nBuckets: Int,
      sortCols: Seq[String] = Nil,
      mode: SaveMode = SaveMode.Overwrite): Unit = {
    require(bucketCols.nonEmpty, "bucketed write needs at least one bucket column")
    require(nBuckets > 0, "nBuckets must be positive")
    val w = df
      // one file per bucket per partition-write: co-located reads stay
      // narrow even for skewed buckets
      .repartition(nBuckets, bucketCols.map(c => col(s"`$c`")): _*)
      .write.mode(mode).format("parquet")
      .bucketBy(nBuckets, bucketCols.head, bucketCols.tail: _*)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .saveAsTable(table)
  }

  /** Small-file compaction — the table-maintenance pass every
    * continuously-ingested 100 TB dataset needs: streaming/incremental
    * writers accumulate thousands of KB-sized part files whose open/seek
    * overhead eventually dominates scans (and whose footers bloat driver
    * planning). Rewrites the dataset into ~`targetBytes` files,
    * preserving content and the `partitionCols` directory layout, into
    * `path + ".compact_tmp"`, and swaps it in by [[DirSwap]] over
    * (`path`, `.compact_tmp`, `.compact_old`): the source stays intact
    * until the rewrite has fully committed, a failed promote restores
    * it, and on entry [[DirSwap.recover]] rolls a crash between the two
    * renames back to `.compact_old`. (A filesystem with atomic
    * directory rename has no stronger primitive for an in-place swap;
    * readers racing the swap window should read through a catalog or
    * retry.)
    *
    * Sizing uses the LISTING for bytes and the parquet FOOTERS for the
    * row count (a `count()` over parquet is metadata-only — no data
    * pass): flat data `coalesce`s to the byte-derived file count
    * (coalesce, not repartition — compaction should not pay a shuffle
    * to merge files); partitioned data routes through
    * [[writePartitioned]] with `maxRecordsPerFile` derived from the
    * observed bytes/row, so `targetBytes` bounds file size in BOTH
    * layouts. Returns (files before, files after).
    */
  def compact(spark: org.apache.spark.sql.SparkSession, path: String,
      partitionCols: Seq[String] = Nil,
      targetBytes: Long = 128L << 20): (Long, Long) = {
    require(targetBytes > 0, "targetBytes must be positive")
    val swap = DirSwap(spark.sparkContext.hadoopConfiguration, path,
      ".compact_tmp", ".compact_old")
    val (fs, tmp) = (swap.fs, swap.staged.toString)
    require(swap.recover(), s"compact: no dataset at $path")
    def dataFiles(): Seq[org.apache.hadoop.fs.FileStatus] = {
      val it = fs.listFiles(swap.live, true)
      val buf = scala.collection.mutable.ArrayBuffer.empty[org.apache.hadoop.fs.FileStatus]
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.startsWith("part-")) buf += f
      }
      buf.toSeq
    }
    val before = dataFiles()
    val totalBytes = before.map(_.getLen).sum
    val nFiles = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes).toInt
    val df = spark.read.parquet(path)
    // staged is dropped here: Append skips Overwrite's existence probe
    fs.delete(swap.staged, true)
    if (partitionCols.nonEmpty) {
      // footer-only count -> average row width -> records per file that
      // approximates targetBytes within each partition directory
      val totalRows = df.count()
      val recordsPerFile =
        if (totalRows == 0L || totalBytes == 0L) 5000000L
        else math.max(1L, targetBytes / math.max(1L, totalBytes / totalRows))
      writePartitioned(df, tmp, partitionCols, recordsPerFile, SaveMode.Append)
    } else
      df.coalesce(nFiles).write.mode(SaveMode.Append).parquet(tmp)
    swap.publish(liveExists = true)
    (before.size.toLong, dataFiles().size.toLong)
  }
}
