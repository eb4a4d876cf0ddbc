package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.Cli
import graft.etl.{LoadStage, Pipeline, Transform}
import graft.sinks.{IdCache, JdbcUpsertSink}

/** One timed stretch of a run: `cold` (the first in the process), `warm`
  * (what `wall_s` is the median of), `traced` or `other`, with the
  * resources it published or upserted.
  */
final case class Sample(kind: String, wallS: Double, resources: Long)

/** One run: its timed samples and what the correctness gate found wrong
  * (empty when it passed).
  */
final case class RunResult(samples: Seq[Sample], problems: Seq[String],
    digest: Option[String] = None)

object Session {

  /** The session `graft.Cli.main` builds, with `local[cores]`, shuffle
    * partitions equal to the cores, and scratch space inside `work`.
    */
  def create(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

object Fs {
  def delete(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  /** (parquet files, bytes) under a directory. */
  def parquetFiles(spark: SparkSession, path: String): (Long, Long) = {
    val p = new org.apache.hadoop.fs.Path(path)
    val it = p.getFileSystem(spark.sparkContext.hadoopConfiguration).listFiles(p, true)
    var (n, bytes) = (0L, 0L)
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) { n += 1; bytes += f.getLen }
    }
    (n, bytes)
  }
}

/** Layers shared by both traced workloads: the extract crawl, the
  * transform chain, pipeline planning and one noop write per builder.
  */
abstract class Workload(spark: SparkSession, dirs: Inputs.Dirs,
    studies: Seq[String], val expected: Map[String, Long]) {

  /** Builders whose document-assembly plus JSON-emit share is split out. */
  val EmitBuilders = Seq("specimen", "drs_document_reference", "histopathology", "disease")

  def run(i: Int): RunResult

  /** One traced pass: its result and every per-layer metric by name. */
  def traced(i: Int, tracer: Tracer): (RunResult, Map[String, Double])

  protected def indexd: DataFrame = spark.read.parquet(dirs.indexd)

  /** Every timed run starts from the same state: nothing cached, and a
    * collected heap, so one run's garbage is not collected on the next
    * run's clock.
    */
  protected def quiesce(): Unit = {
    spark.catalog.clearCache()
    System.gc()
  }

  protected def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Extract, transform, plan and build under spans, each layer called on
    * its own; the crawl's output is persisted so later layers time only
    * themselves. Returns the transform result and what releases the crawl.
    */
  protected def tracedPrefix(tracer: Tracer, m: mutable.Map[String, Double])
      : (Transform.Result, () => Unit) = {
    val endpoints = tracer.span("extract") {
      val e = Cli.extract(spark, dirs.endpoints, studies)
        .map { case (k, df) => k -> df.persist(StorageLevel.MEMORY_AND_DISK) }
      m("extract.rows_out") = e.values.map(_.count()).sum.toDouble
      e
    }
    val result = tracer.span("transform") { Transform(endpoints) }
    val built = tracer.span("pipeline") {
      val b = Pipeline.buildAll(result, Some(indexd), Inputs.CenterNames)
      b.foreach(_._2.queryExecution.executedPlan)
      b
    }
    tracer.span("documents") {
      built.foreach { case (name, df) =>
        val obs = Observation()
        tracer.span(s"documents.$name") {
          df.observe(obs, count(lit(1)).as("rows"),
              coalesce(sum(octet_length(col("resource_json"))), lit(0L)).as("bytes"))
            .write.format("noop").mode("overwrite").save()
        }
        val r = obs.get
        m(s"documents.$name.rows") = r("rows").asInstanceOf[Long].toDouble
        m(s"documents.$name.bytes") = r("bytes").asInstanceOf[Long].toDouble
        if (EmitBuilders.contains(name)) tracer.span(s"documents.$name.keys") {
          df.select("key", "resource_type").write.format("noop").mode("overwrite").save()
        }
      }
    }
    (result, () => endpoints.values.foreach(_.unpersist()))
  }

  /** Every per-layer metric, from the spans of one traced pass. Layers a
    * workload does not call report 0.
    */
  protected def layers(tracer: Tracer, root: Span, cores: Int, rowsIn: Long,
      m: mutable.Map[String, Double]): Map[String, Double] = {
    val mb = 1e6
    def spans(name: String) = tracer.spans.filter(s => s.name == name)
    def wall(name: String) = spans(name).map(_.seconds).sum
    def use(name: String): Usage = {
      val u = new Usage
      spans(name).foreach(s => u.add(tracer.usage(s)))
      u
    }
    def prefixed(p: String) = tracer.spans.filter(_.name.startsWith(p))
    val out = mutable.LinkedHashMap.empty[String, Double]
    val ex = use("extract")
    out("extract.wall_s") = wall("extract")
    out("extract.task_s") = ex.taskMs / 1e3
    out("extract.rows_in") = rowsIn.toDouble
    out("extract.rows_out") = m.getOrElse("extract.rows_out", 0.0)
    out("extract.keep_ratio") = out("extract.rows_out") / math.max(1L, rowsIn)
    out("extract.jobs") = ex.jobs.toDouble
    out("transform.plan_s") = wall("transform")
    out("pipeline.plan_s") = wall("pipeline")
    val builders = Inputs.EnabledBy.keys.toSeq.sorted
    builders.foreach { b =>
      out(s"documents.$b.wall_s") = wall(s"documents.$b")
      out(s"documents.$b.task_s") = use(s"documents.$b").taskMs / 1e3
    }
    EmitBuilders.foreach { b =>
      out(s"documents.$b.emit_s") = wall(s"documents.$b") - wall(s"documents.$b.keys")
    }
    out("documents.rows_out") = builders.map(b => m.getOrElse(s"documents.$b.rows", 0.0)).sum
    out("documents.json_mb") = builders.map(b => m.getOrElse(s"documents.$b.bytes", 0.0)).sum / mb
    out("documents.shuffle_write_mb") =
      builders.map(b => use(s"documents.$b").shuffleWriteBytes).sum / mb
    val sink = use("sink.parquet")
    out("sink.parquet.wall_s") = wall("sink.parquet")
    out("sink.parquet.task_s") = sink.taskMs / 1e3
    out("sink.parquet.shuffle_write_mb") = sink.shuffleWriteBytes / mb
    out("sink.parquet.spill_mb") = sink.spillBytes / mb
    val writeTasks = spans("sink.parquet").flatMap(s =>
      tracer.listener.lastStageTaskMs(s.id.toString)).map(_.toDouble)
    out("sink.parquet.task_skew") =
      if (writeTasks.isEmpty) 0.0 else writeTasks.max / math.max(1.0, Stats.median(writeTasks))
    out("sink.parquet.files") = m.getOrElse("sink.parquet.files", 0.0)
    out("sink.parquet.bytes_mb") = m.getOrElse("sink.parquet.bytes", 0.0) / mb
    Seq(1, 2).foreach { p =>
      val resolve = prefixed(s"idcache.pass$p.")
      val keys = m.getOrElse(s"idcache.pass$p.keys", 0.0)
      val fetched = m.getOrElse(s"idcache.pass$p.fetch_keys", 0.0)
      out(s"idcache.pass$p.resolve_s") = resolve.map(_.seconds).sum
      out(s"idcache.pass$p.hit_ratio") = if (keys > 0) 1.0 - fetched / keys else 0.0
      out(s"idcache.pass$p.fetch_keys") = fetched
      out(s"idcache.pass$p.jobs") = resolve.map(s => tracer.usage(s).jobs).sum.toDouble
      val upsert = prefixed(s"jdbc.pass$p.").map(_.seconds).sum
      val rows = m.getOrElse(s"jdbc.pass$p.rows", 0.0)
      out(s"jdbc.pass$p.upsert_s") = upsert
      out(s"jdbc.pass$p.rows") = rows
      out(s"jdbc.pass$p.rows_per_s") = if (upsert > 0) rows / upsert else 0.0
    }
    // the gate's own reads between load passes are not the program's work
    val gate = prefixed("gate.")
    val all = tracer.usage(root)
    gate.foreach(g => all.sub(tracer.usage(g)))
    val total = root.seconds - gate.map(_.seconds).sum
    out("spark.jobs") = all.jobs.toDouble
    out("spark.tasks") = all.tasks.toDouble
    out("spark.task_s") = all.taskMs / 1e3
    out("spark.cpu_util") = all.taskMs / 1e3 / (total * cores)
    out("spark.gc_s") = all.gcMs / 1e3
    out("spark.shuffle_write_mb") = all.shuffleWriteBytes / mb
    out("spark.spill_mb") = all.spillBytes / mb
    out("traced.total_s") = total
    out.toMap
  }
}

/** `graft.Cli.run` into parquet, gated on per-builder counts and, where
  * pinned, the output digest.
  */
final class EtlWorkload(spark: SparkSession, dirs: Inputs.Dirs, studies: Seq[String],
    expected: Map[String, Long], pinned: Option[String], work: String, cores: Int,
    rowsIn: Long)
    extends Workload(spark, dirs, studies, expected) {

  private def check(out: String): (Long, String, Seq[String]) =
    Gate.checkEtl(spark.read.parquet(out), expected, pinned)

  def run(i: Int): RunResult = {
    val out = s"$work/runs/etl-$i"
    quiesce()
    val (_, wall) = seconds {
      Cli.run(spark, dirs.endpoints, out, studies, Some(indexd), Inputs.CenterNames)
    }
    val (n, digest, problems) = check(out)
    Fs.delete(spark, out)
    RunResult(Seq(Sample(if (i == 0) "cold" else "warm", wall, n)), problems, Some(digest))
  }

  def traced(i: Int, tracer: Tracer): (RunResult, Map[String, Double]) = {
    val out = s"$work/runs/etl-traced-$i"
    quiesce()
    val m = mutable.Map.empty[String, Double]
    tracer.span("etl") {
      val (result, release) = tracedPrefix(tracer, m)
      val union = tracer.span("union") {
        val u = Pipeline.buildAllUnion(result, Some(indexd), Inputs.CenterNames)
          .persist(StorageLevel.MEMORY_AND_DISK)
        u.count()
        u
      }
      tracer.span("sink.parquet") { Cli.writeObserved(union, out) }
      union.unpersist()
      release()
    }
    val root = tracer.named("etl").last
    val (files, bytes) = Fs.parquetFiles(spark, out)
    m("sink.parquet.files") = files.toDouble
    m("sink.parquet.bytes") = bytes.toDouble
    val (n, digest, problems) = check(out)
    Fs.delete(spark, out)
    (RunResult(Seq(Sample("traced", root.seconds, n)), problems, Some(digest)),
      layers(tracer, root, cores, rowsIn, m))
  }
}

/** `LoadStage.run` with an [[IdCache]] and a [[JdbcUpsertSink]] into a fresh
  * in-memory Derby database, twice: a cold pass, then a re-run.
  */
final class LoadWorkload(spark: SparkSession, dirs: Inputs.Dirs, studies: Seq[String],
    expected: Map[String, Long], salt: Long, work: String, cores: Int, rowsIn: Long)
    extends Workload(spark, dirs, studies, expected) {

  private var dbSerial = 0

  /** Whether the fetch stub knows a key: a salted half of all keys. */
  def known(key: Column): Column = pmod(xxhash64(key, lit(salt)), lit(2L)) === 0

  /** The target service's bulk id lookup, in process and deterministic. */
  def fetch(cls: String, miss: DataFrame): DataFrame =
    miss.where(known(col("key"))).select(col("key"),
      concat(lit("srv-"), md5(concat_ws("/", lit(cls), col("key")))).as("resolved_id"))

  private def table(cls: String) = s"fhir_$cls"

  /** A fresh database with one table per entity class: keys repeat
    * across classes, and Derby's CLOB fails batched MERGE, hence VARCHAR.
    */
  def createDb(): String = {
    dbSerial += 1
    val url = s"jdbc:derby:memory:perfbench$dbSerial"
    val conn = java.sql.DriverManager.getConnection(url + ";create=true")
    try {
      val st = conn.createStatement()
      expected.keys.foreach { cls =>
        st.executeUpdate(s"""CREATE TABLE ${table(cls)} ("key" VARCHAR(512) NOT NULL PRIMARY KEY, """ +
          """"resource_type" VARCHAR(64), "resource_json" VARCHAR(32672))""")
      }
      st.close()
    } finally conn.close()
    url
  }

  def dropDb(url: String): Unit =
    try java.sql.DriverManager.getConnection(url + ";drop=true").close()
    catch { case e: java.sql.SQLException if e.getSQLState == "08006" => () }

  private def config(url: String, cls: String) = JdbcUpsertSink.Config(
    url = url, table = table(cls), dialect = JdbcUpsertSink.AnsiMergeDialect)

  /** Per class: rows, digest, and rows whose key the stub knows. */
  private def snapshot(url: String): Map[String, (Long, String, Long)] = {
    val all = expected.keys.toSeq.sorted
      .map(cls => spark.read.jdbc(url, table(cls), new java.util.Properties())
        .withColumn("cls", lit(cls)))
      .reduce(_ unionByName _)
    val digests = Gate.digestBy(all, "cls")
    val knownRows = all.where(known(col("key"))).groupBy("cls").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    digests.map { case (cls, d) => cls -> (d.rows, d.toString, knownRows.getOrElse(cls, 0L)) }
  }

  /** One load pass; returns the non-null `resolved_id` rows per class. */
  private def pass(url: String, cache: IdCache): Map[String, Long] = {
    val observed = mutable.Map.empty[String, Observation]
    val result = Transform(Cli.extract(spark, dirs.endpoints, studies))
    LoadStage.run(result,
      submit = (cls, docs) => {
        val obs = Observation()
        observed(cls) = obs
        JdbcUpsertSink.upsert(docs.observe(obs, count(col("resolved_id")).as("n")),
          config(url, cls))
      },
      cache = Some(cache), fetch = fetch, indexd = Some(indexd),
      centerNames = Inputs.CenterNames)
    observed.map { case (cls, o) => cls -> o.get("n").asInstanceOf[Long] }.toMap
  }

  /** Gate: pass 1 holds one row per distinct key of each class, resolved
    * ids match the stub's known keys, and pass 2 changes nothing.
    */
  private def check(first: Map[String, (Long, String, Long)], second: Map[String, (Long, String, Long)],
      resolved: Seq[Map[String, Long]]): Seq[String] = {
    val counts = Gate.compareCounts("table", first.map { case (c, v) => c -> v._1 }, expected)
    val rerun = first.keys.toSeq.sorted.flatMap { c =>
      if (first(c)._1 == second(c)._1 && first(c)._2 == second(c)._2) None
      else Some(s"re-run changed table $c: ${first(c)} -> ${second(c)}")
    }
    val ids = resolved.zip(Seq(first, second)).zipWithIndex.flatMap { case ((r, snap), p) =>
      Gate.compareCounts(s"pass ${p + 1} resolved ids of", r, snap.map { case (c, v) => c -> v._3 })
    }
    counts ++ rerun ++ ids
  }

  def run(i: Int): RunResult = {
    val url = createDb()
    val cache = new IdCache(spark, s"$work/runs/idcache-$i")
    try {
      quiesce()
      val (r1, w1) = seconds(pass(url, cache))
      val s1 = snapshot(url)
      val (r2, w2) = seconds(pass(url, cache))
      val s2 = snapshot(url)
      // the cold pass of the first run is the process's cold run; every
      // re-run pass is a warm run
      RunResult(Seq(
          Sample(if (i == 0) "cold" else "other", w1, s1.values.map(_._1).sum),
          Sample("warm", w2, s2.values.map(_._1).sum)),
        check(s1, s2, Seq(r1, r2)))
    } finally {
      dropDb(url)
      Fs.delete(spark, s"$work/runs/idcache-$i")
    }
  }

  def traced(i: Int, tracer: Tracer): (RunResult, Map[String, Double]) = {
    val url = createDb()
    val cache = new IdCache(spark, s"$work/runs/idcache-traced-$i")
    val m = mutable.Map.empty[String, Double]
    quiesce()
    try {
      val snaps = mutable.ArrayBuffer.empty[Map[String, (Long, String, Long)]]
      val resolved = mutable.ArrayBuffer.empty[Map[String, Long]]
      var passS = 0.0
      tracer.span("load") {
        val (result, release) = tracedPrefix(tracer, m)
        Seq(1, 2).foreach { p =>
          val t0 = System.nanoTime()
          val observed = mutable.Map.empty[String, Observation]
          var fetched = 0L
          // LoadStage.run's loop, one span per call into the id cache and the sink
          Pipeline.buildAll(result, Some(indexd), Inputs.CenterNames).foreach { case (cls, docs) =>
            val r = tracer.span(s"idcache.pass$p.$cls") {
              cache.resolve(cls, docs, miss => { fetched += miss.count(); fetch(cls, miss) })
            }
            val obs = Observation()
            observed(cls) = obs
            tracer.span(s"jdbc.pass$p.$cls") {
              JdbcUpsertSink.upsert(r.observe(obs, count(col("resolved_id")).as("n")),
                config(url, cls))
            }
          }
          passS += (System.nanoTime() - t0) / 1e9
          resolved += observed.map { case (c, o) => c -> o.get("n").asInstanceOf[Long] }.toMap
          val snap = tracer.span(s"gate.pass$p") { snapshot(url) }
          snaps += snap
          m(s"idcache.pass$p.keys") = expected.values.sum.toDouble
          m(s"idcache.pass$p.fetch_keys") = fetched.toDouble
          m(s"jdbc.pass$p.rows") = snap.values.map(_._1).sum.toDouble
        }
        release()
      }
      val root = tracer.named("load").last
      val upserted = snaps.map(_.values.map(_._1).sum).sum
      (RunResult(Seq(Sample("traced", passS, upserted)),
          check(snaps(0), snaps(1), resolved.toSeq)),
        layers(tracer, root, cores, rowsIn, m))
    } finally {
      dropDb(url)
      Fs.delete(spark, s"$work/runs/idcache-traced-$i")
    }
  }
}
