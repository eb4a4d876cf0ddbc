package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** One call into a layer: name, interval, and the span that caused it. */
final case class Span(id: Int, name: String, parent: Option[Int],
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

object Span {

  /** Duration minus the part of the span's interval covered by its
    * direct children (overlapping children count once).
    */
  def selfNs(span: Span, children: Seq[Span]): Long = {
    val clipped = children
      .map(c => (math.max(c.startNs, span.startNs), math.min(c.endNs, span.endNs)))
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var covered = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curEnd) {
        if (curEnd > curStart) covered += curEnd - curStart
        curStart = s
        curEnd = e
      } else curEnd = math.max(curEnd, e)
    }
    if (curEnd > curStart) covered += curEnd - curStart
    (span.endNs - span.startNs) - covered
  }
}

/** Task metrics summed over everything one span's Spark jobs ran. */
final class Usage {
  var jobs = 0
  var tasks = 0
  var taskMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L

  def add(o: Usage): Unit = {
    jobs += o.jobs; tasks += o.tasks; taskMs += o.taskMs; gcMs += o.gcMs
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
  }

  def sub(o: Usage): Unit = {
    jobs -= o.jobs; tasks -= o.tasks; taskMs -= o.taskMs; gcMs -= o.gcMs
    shuffleWriteBytes -= o.shuffleWriteBytes; spillBytes -= o.spillBytes
  }
}

/** Attributes task → stage → job → job group, one group per span. Spill is
  * the bytes spilled to disk.
  */
final class GroupListener extends SparkListener {
  private val byGroup = mutable.Map.empty[String, Usage]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .foreach { g =>
        byGroup.getOrElseUpdate(g, new Usage).jobs += 1
        e.stageIds.foreach(s => if (!stageGroup.contains(s)) stageGroup(s) = g)
      }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (g <- stageGroup.get(e.stageId); m <- Option(e.taskMetrics)) {
      val u = byGroup.getOrElseUpdate(g, new Usage)
      u.tasks += 1
      u.taskMs += m.executorRunTime
      u.gcMs += m.jvmGCTime
      u.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      u.spillBytes += m.diskBytesSpilled
      stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
    }
  }

  def usage(group: String): Usage = synchronized {
    val u = new Usage
    byGroup.get(group).foreach(u.add)
    u
  }

  /** Task run times of the last stage a group ran (its result stage). */
  def lastStageTaskMs(group: String): Seq[Long] = synchronized {
    stageGroup.collect { case (s, g) if g == group && stageTaskMs.contains(s) => s }
      .maxOption.map(s => stageTaskMs(s).toSeq).getOrElse(Nil)
  }

  def clear(): Unit = synchronized {
    byGroup.clear(); stageGroup.clear(); stageTaskMs.clear()
  }
}

/** Spans around the calls into each layer, each under its own Spark job
  * group. Spans stay in memory; [[record]] renders them when the run ends.
  */
final class Tracer(spark: SparkSession, val listener: GroupListener) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[(Int, String)]
  private var nextId = 0

  def span[T](name: String)(body: => T): T = {
    val sc = spark.sparkContext
    val id = nextId
    nextId += 1
    val parent = stack.headOption.map(_._1)
    stack = (id, name) :: stack
    sc.setJobGroup(id.toString, name)
    val start = System.nanoTime()
    try body
    finally {
      val end = System.nanoTime()
      stack = stack.tail
      stack.headOption match {
        case Some((pid, pname)) => sc.setJobGroup(pid.toString, pname)
        case None => sc.clearJobGroup()
      }
      done += Span(id, name, parent, start, end)
    }
  }

  def spans: Seq[Span] = done.toSeq

  def named(name: String): Seq[Span] = done.filter(_.name == name).toSeq

  def children(s: Span): Seq[Span] = done.filter(_.parent.contains(s.id)).toSeq

  def descendants(s: Span): Seq[Span] = {
    val kids = children(s)
    kids ++ kids.flatMap(descendants)
  }

  def selfSeconds(s: Span): Double = Span.selfNs(s, children(s)) / 1e9

  /** Usage of a span and everything below it. */
  def usage(s: Span): Usage = {
    org.apache.spark.perfbench.BusDrain.drain(spark.sparkContext)
    val u = listener.usage(s.id.toString)
    descendants(s).foreach(d => u.add(listener.usage(d.id.toString)))
    u
  }

  def record: Seq[Map[String, Any]] = {
    org.apache.spark.perfbench.BusDrain.drain(spark.sparkContext)
    done.sortBy(_.startNs).map { s =>
      val u = listener.usage(s.id.toString)
      Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "start_s" -> (s.startNs - done.map(_.startNs).min) / 1e9,
        "wall_s" -> s.seconds, "self_s" -> selfSeconds(s),
        "jobs" -> u.jobs, "tasks" -> u.tasks, "task_s" -> u.taskMs / 1e3,
        "gc_s" -> u.gcMs / 1e3, "shuffle_write_mb" -> u.shuffleWriteBytes / 1e6,
        "spill_mb" -> u.spillBytes / 1e6)
    }.toSeq
  }
}
