package graft.sinks

import java.nio.file.Files

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.SparkTestSession

class ParquetSinkSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.spark

  test("partitioned write: one file per partition value, prunable on read") {
    val out = Files.createTempDirectory("psink").toString
    val orders = graft.Tables.orders(spark, "/root/testdata/sf0.001")
    ParquetSink.writePartitioned(orders, out, Seq("o_orderstatus"))

    val dirs = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("o_orderstatus=")).map(_.getName).sorted
    assert(dirs.nonEmpty, "no partition directories written")
    // pre-write repartition on the partition column ⇒ single file per dir
    dirs.foreach { d =>
      val files = new java.io.File(s"$out/$d").listFiles()
        .count(_.getName.endsWith(".parquet"))
      assert(files == 1, s"$d has $files files (small-file explosion)")
    }

    val back = spark.read.parquet(out)
    assert(back.count() == orders.count())
    // partition pruning visible in the scan
    val p = back.filter(col("o_orderstatus") === "F")
      .queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [isnotnull(o_orderstatus"),
      s"no partition pruning:\n$p")
  }

  test("co-bucketed tables join with zero exchanges") {
    val dir = "/root/testdata/sf0.001"
    // a crashed previous run can leave the managed location behind with
    // no catalog entry — clear both
    Seq("b_orders", "b_lineitem").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(s"spark-warehouse/$t")
      if (loc.exists()) {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
        }
        rm(loc)
      }
    }
    ParquetSink.writeBucketed(
      graft.Tables.orders(spark, dir), "b_orders", Seq("o_orderkey"), 4,
      sortCols = Seq("o_orderkey"))
    ParquetSink.writeBucketed(
      graft.Tables.lineitem(spark, dir)
        .select("l_orderkey", "l_quantity"),
      "b_lineitem", Seq("l_orderkey"), 4, sortCols = Seq("l_orderkey"))
    // force the sort-merge path (broadcast would mask bucketing)
    val joined = spark.table("b_orders").hint("merge")
      .join(spark.table("b_lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      .withColumn("q", col("l_quantity") + 1)
    val p = joined.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"),
      s"co-bucketed join still shuffles:\n$p")
    assert(p.contains("Bucketed: true"), s"bucketed read not used:\n$p")
    assert(joined.count() ==
      graft.Tables.lineitem(spark, dir).count())
  }

  test("compact: many small files collapse to the byte-derived count, " +
      "content byte-identical, crash-safe staging dirs cleaned up") {
    val out = Files.createTempDirectory("pcompact").toString + "/t"
    val orders = graft.Tables.orders(spark, "/root/testdata/sf0.01")
    // simulate a streaming writer's debris: 20 tiny files
    orders.repartition(20).write.parquet(out)
    val before = orders.collect().map(_.toString).sorted
    val (nBefore, nAfter) = ParquetSink.compact(spark, out,
      targetBytes = 1L << 30) // far above total size -> exactly one file
    assert(nBefore == 20L, s"fixture wrote $nBefore files")
    assert(nAfter == 1L, s"compaction left $nAfter files")
    val after = spark.read.parquet(out).collect().map(_.toString).sorted
    assert(after.sameElements(before), "compaction changed the data")
    val parent = new java.io.File(out).getParentFile.listFiles().map(_.getName)
    assert(!parent.exists(_.contains("compact_")),
      s"staging dirs left behind: ${parent.toSeq}")
  }

  test("compact preserves the partition directory layout and its pruning") {
    val out = Files.createTempDirectory("pcompactp").toString + "/t"
    val orders = graft.Tables.orders(spark, "/root/testdata/sf0.001")
    // partitioned, but fragmented within each partition dir
    orders.repartition(8).write.partitionBy("o_orderstatus").parquet(out)
    val (nBefore, nAfter) = ParquetSink.compact(spark, out,
      partitionCols = Seq("o_orderstatus"))
    assert(nAfter < nBefore, s"no compaction: $nBefore -> $nAfter")
    val dirs = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("o_orderstatus=")).map(_.getName)
    assert(dirs.nonEmpty, "partition layout lost")
    dirs.foreach { d =>
      val files = new java.io.File(s"$out/$d").listFiles()
        .count(_.getName.endsWith(".parquet"))
      assert(files == 1, s"$d still has $files files")
    }
    assert(spark.read.parquet(out).count() == orders.count())
  }

  test("compact after a crash between its two renames restores the " +
      "staged original, then compacts it") {
    val out = Files.createTempDirectory("pcompactc").toString + "/t"
    val orders = graft.Tables.orders(spark, "/root/testdata/sf0.001")
    orders.repartition(6).write.partitionBy("o_orderstatus").parquet(out)
    def layout(dir: String): Seq[String] = {
      val root = new java.io.File(dir).toPath
      val walk = Files.walk(root)
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.filter(_.getFileName.toString.startsWith("part-"))
          .map(p => root.relativize(p).toString).toSeq.sorted
      } finally walk.close()
    }
    val files = layout(out)
    val before = orders.collect().map(_.toString).sorted
    // the crash state: `path` staged aside, a half-written rewrite left
    Files.move(new java.io.File(out).toPath, new java.io.File(out + ".compact_old").toPath)
    orders.limit(1).write.parquet(out + ".compact_tmp")
    val (nBefore, nAfter) = ParquetSink.compact(spark, out,
      partitionCols = Seq("o_orderstatus"))
    assert(nBefore == files.size.toLong, s"compacted $nBefore files, not the staged ${files.size}")
    assert(nAfter < nBefore, s"no compaction: $nBefore -> $nAfter")
    assert(layout(out).map(_.takeWhile(_ != '/')).distinct ==
      files.map(_.takeWhile(_ != '/')).distinct, "partition layout not restored")
    val back = spark.read.parquet(out).select(orders.columns.map(col): _*)
    assert(back.collect().map(_.toString).sorted.sameElements(before), "content changed")
    val parent = new java.io.File(out).getParentFile.listFiles().map(_.getName)
    assert(!parent.exists(_.contains("compact_")), s"staging dirs left behind: ${parent.toSeq}")
  }

  test("z-order layout: files cover rectangles, so a second-dimension " +
      "filter overlaps FEWER files than under a linear sort") {
    import graft.relational.RelationalOps.{mortonBucket, mortonKey}
    val li = graft.Tables.lineitem(spark, "/root/testdata/sf0.01")
      .select(col("l_partkey"), col("l_suppkey"), col("l_quantity"))
    val (pkMax, skMax) = {
      val r = li.agg(org.apache.spark.sql.functions.max("l_partkey"),
        org.apache.spark.sql.functions.max("l_suppkey")).head
      (r.getLong(0).toDouble, r.getLong(1).toDouble)
    }
    val keyed = li.withColumn("zk", mortonKey(
      mortonBucket(col("l_partkey"), 0.0, pkMax + 1),
      mortonBucket(col("l_suppkey"), 0.0, skMax + 1)))
    def write(sortCol: String): String = {
      val out = Files.createTempDirectory(s"zorder_$sortCol").toString + "/t"
      keyed.orderBy(col(sortCol)).coalesce(1)
        .write.option("maxRecordsPerFile", 4000).parquet(out)
      out
    }
    // per-file min/max on the SECOND dimension (l_suppkey) — the stats
    // a scan planner prunes with; a file "overlaps" the slab filter if
    // its range intersects it
    def overlapping(dir: String, lo: Long, hi: Long): (Int, Int) = {
      val files = new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.toString).sorted
      val over = files.count { f =>
        val r = spark.read.parquet(f)
          .agg(org.apache.spark.sql.functions.min("l_suppkey"),
            org.apache.spark.sql.functions.max("l_suppkey")).head
        r.getLong(0) <= hi && r.getLong(1) >= lo
      }
      (over, files.length)
    }
    val slab = (0L, (skMax / 8).toLong) // a 1/8 slab of suppkey space
    val (zOver, zFiles) = overlapping(write("zk"), slab._1, slab._2)
    val (lOver, lFiles) = overlapping(write("l_partkey"), slab._1, slab._2)
    assert(zFiles >= 8 && lFiles >= 8, s"need several files, got $zFiles/$lFiles")
    // linear partkey sort leaves suppkey unclustered: every file spans
    // the full suppkey range and overlaps; z-order must prune some
    assert(lOver == lFiles, s"fixture surprise: linear sort pruned $lOver/$lFiles")
    assert(zOver < lOver,
      s"z-order pruned nothing: $zOver/$zFiles vs linear $lOver/$lFiles")
  }
}
