package graft

import org.apache.spark.scheduler._

/** Scratch per-JOB profiler (dev harness, not part of the driver
  * contract): runs named battery queries once warm + once measured with
  * a listener that records every Spark job's wall time, task count and
  * shuffle bytes — the breakdown that says whether a slow query spends
  * its seconds in executor work (which job) or in driver gaps
  * (planning/codegen/FS RPC between jobs). Usage:
  *   runMain graft.ProfileJobs c2_incremental_curation
  */
object ProfileJobs {

  private final class Rec(val jobId: Int, val desc: String,
      val submitted: Long) {
    var completed: Long = 0L
    var nTasks: Int = 0
    var shufRead: Long = 0L
    var shufWrite: Long = 0L
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession()

    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Rec]()
    // Integer (not Int): a missing key must come back null, not a
    // silently-unboxed 0 that would attribute the stage to job 0
    val stageToJob =
      new java.util.concurrent.ConcurrentHashMap[Integer, Integer]()
    @volatile var collecting = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (collecting) {
          val desc = Option(e.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .getOrElse("")
          jobs.put(e.jobId, new Rec(e.jobId, desc, e.time))
          e.stageIds.foreach(s => stageToJob.put(Int.box(s), Int.box(e.jobId)))
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val r = jobs.get(e.jobId)
        if (r != null) r.completed = e.time
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val jid = stageToJob.get(e.stageInfo.stageId)
        val r = if (jid != null) jobs.get(jid) else null
        if (r != null) {
          r.nTasks += e.stageInfo.numTasks
          r.shufRead += e.stageInfo.taskMetrics.shuffleReadMetrics.totalBytesRead
          r.shufWrite += e.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)

    // in-process stack sampler: every 50 ms, record the top interesting
    // frame of each running "Executor task launch worker" thread (plus
    // the driver main thread), aggregated per query — tells us WHAT the
    // hot jobs compute without external attach (blocked in the sandbox)
    val samples = new java.util.concurrent.ConcurrentHashMap[String,
      java.util.concurrent.atomic.AtomicLong]()
    @volatile var sampling = false
    val sampler = new Thread(() => {
      while (true) {
        if (sampling) {
          val all = Thread.getAllStackTraces
          all.forEach { (t, st) =>
            if (t.getName.startsWith("Executor task launch worker") &&
                st.nonEmpty) {
              val frames = st.iterator.map(_.toString).take(24).toSeq
              val interesting = frames.find(f =>
                f.startsWith("graft.") ||
                f.contains("catalyst.expressions") ||
                f.contains("columnar") || f.contains("parquet") ||
                f.contains("codegen") || f.contains("unsafe") ||
                f.contains("collection.unsafe") ||
                f.contains("shuffle") || f.contains("aggregate"))
                .getOrElse(frames.head)
              samples.computeIfAbsent(interesting.take(130),
                _ => new java.util.concurrent.atomic.AtomicLong())
                .incrementAndGet()
            }
          }
        }
        Thread.sleep(50)
      }
    })
    sampler.setDaemon(true)
    sampler.start()

    args.foreach { name =>
      val fn = SparkEntry.queries(name)
      def once(): Double = {
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      once() // warm: JIT + codegen out of the measured pass
      spark.catalog.clearCache()
      jobs.clear(); stageToJob.clear()
      samples.clear()
      collecting = true; sampling = true
      val wall = once()
      collecting = false; sampling = false
      spark.catalog.clearCache()
      import scala.jdk.CollectionConverters._
      val recs = jobs.values.asScala.toSeq.sortBy(_.submitted)
      val jobSum = recs.map(r => math.max(0L, r.completed - r.submitted))
        .sum / 1e3
      println(f"[jobs] ===== $name: wall $wall%.2f s, ${recs.size} jobs, " +
        f"sum(job) $jobSum%.2f s, driver-gap ${wall - jobSum}%.2f s =====")
      recs.foreach { r =>
        val dur = math.max(0L, r.completed - r.submitted) / 1e3
        println(f"[jobs] job=${r.jobId}%4d ${dur}%7.3f s tasks=${r.nTasks}%4d " +
          f"shufR=${r.shufRead}%9d shufW=${r.shufWrite}%9d  ${r.desc.take(90)}")
      }
      import scala.jdk.CollectionConverters._
      println(s"[stacks] top sampled executor frames for $name:")
      samples.asScala.toSeq.sortBy(-_._2.get).take(20).foreach {
        case (f, n) => println(f"[stacks] ${n.get}%6d  $f")
      }
    }
    spark.stop()
  }
}
