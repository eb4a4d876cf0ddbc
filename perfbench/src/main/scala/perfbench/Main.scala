package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

/** The benchmark process: set up inputs, run one workload for a number of
  * seconds (or trace it), gate every run, print one result line.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --inputs <generated inputs> --work <scratch dir> --record <full record path>
  *   [--cores <n>]
  * perfbench.Main --generate <inputs dir> --work <scratch dir> [--cores <n>]
  * }}}
  */
object Main {

  /** Scale factor of the generated inputs, for every workload. */
  val Scale = 0.005

  /** Endpoints the load workload reads (seven entity classes); every class
    * costs the load a dozen Spark jobs per pass, so the class count sets
    * the run time.
    */
  val LoadEndpoints: Seq[String] =
    Seq("studies", "participants", "families", "family-relationships", "diagnoses")

  /** Set-up is repeated this many times and its median reported. */
  val SetupReps = 3

  /** Warm samples a measurement takes at least, and runs at most. */
  val MinWarm = 1
  val MaxRuns = 50

  /** No run starts once the process is this old (the run limit is 180 s). */
  val DeadlineS = 140.0

  /** Digest ([[Gate.digest]]) of the (key, resource_type, resource_json)
    * rows `graft.Cli.run` publishes for all studies at [[Scale]];
    * `PinnedDigestSpec` checks it against `kf_full_pipeline`.
    */
  val PinnedDigest = "104698:60381313486789137849765:60411694003578038272406"

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      inputs: String, work: String, record: String, cores: Int)

  private def options(args: Array[String]): Map[String, String] =
    args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap

  def parse(args: Array[String]): Opts = {
    val kv = options(args)
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("inputs"), need("work"), need("record"),
      kv.get("cores").map(_.toInt).getOrElse(4))
  }



  /** End-to-end metrics, by name and unit. */
  val EndToEnd = Seq("wall_s" -> "s", "cold_wall_s" -> "s",
    "resources_per_s" -> "1/s", "setup_s" -> "s")

  /** What one workload runs on. */
  final case class Spec(kind: String, studies: Seq[String], endpoints: Seq[String])

  def spec(o: Opts): Spec = {
    o.workload match {
      case "etl_all_studies" => Spec("etl", Inputs.Studies, graft.Cli.EndpointNames)
      case "load_cold_rerun" =>
        Spec("load", Seq(Inputs.Studies(Math.floorMod(o.seed, 5L).toInt)), LoadEndpoints)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
  }

  /** `--generate <dir> --work <dir>`: write every workload's inputs once. */
  def generate(args: Array[String]): Unit = {
    val kv = options(args)
    val spark = Session.create(kv.get("cores").map(_.toInt).getOrElse(4), kv("work"))
    Inputs.generate(spark, Scale, kv("generate"))
    spark.stop()
  }

  def main(args: Array[String]): Unit = {
    if (args.contains("--generate")) return generate(args)
    val o = parse(args)
    val sp = spec(o)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    def age = (System.currentTimeMillis() - jvmStart) / 1e3

    val spark = Session.create(o.cores, o.work)
    val sessionS = age
    val listener = new GroupListener
    spark.sparkContext.addSparkListener(listener)
    val meta = Inputs.meta(o.inputs)
    val expected = meta.expected(if (sp.studies.size == 1) sp.studies.head else "all")
      .filter { case (b, _) => sp.endpoints.contains(Inputs.EnabledBy(b)) }
    val rowsIn = sp.endpoints.map(meta.endpointRows).sum
    val setupS = (0 until SetupReps).map { rep =>
      val t0 = System.nanoTime()
      val dirs = Inputs.materialize(spark, o.inputs, s"${o.work}/inputs-$rep", sp.endpoints)
      if (sp.kind == "load") {
        val l = new LoadWorkload(spark, dirs, sp.studies, expected, o.seed, o.work, o.cores, 0L)
        l.dropDb(l.createDb())
      }
      val s = (System.nanoTime() - t0) / 1e9
      if (rep > 0) Fs.delete(spark, s"${o.work}/inputs-${rep - 1}")
      (s, dirs)
    }
    val dirs = setupS.last._2
    val setup = sessionS + Stats.median(setupS.map(_._1))
    val workload: Workload = sp.kind match {
      case "etl" => new EtlWorkload(spark, dirs, sp.studies, expected,
        Some(PinnedDigest),
        o.work, o.cores, rowsIn)
      case _ => new LoadWorkload(spark, dirs, sp.studies, expected, o.seed, o.work,
        o.cores, rowsIn)
    }

    val results = scala.collection.mutable.ArrayBuffer.empty[Either[String, RunResult]]
    def attempt(body: => RunResult): Unit = {
      val r = try Right(body) catch { case NonFatal(e) => Left(e.toString) }
      results += r
      r.fold(e => System.err.println(s"[perfbench] run failed: $e"),
        rr => if (rr.problems.nonEmpty)
          System.err.println(s"[perfbench] gate failed: ${rr.problems.mkString("; ")}"))
    }
    def samples = results.toSeq.flatMap(_.toOption).flatMap(_.samples)
    def longestRun = results.toSeq.flatMap(_.toOption).map(_.samples.map(_.wallS).sum)
      .maxOption.getOrElse(0.0)
    val measureStart = System.nanoTime()
    def measured = (System.nanoTime() - measureStart) / 1e9
    val record = scala.collection.mutable.LinkedHashMap[String, Any](
      "workload" -> o.workload, "seed" -> o.seed, "seconds" -> o.seconds, "trace" -> o.trace,
      "cores" -> o.cores, "heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "scale_factor" -> Scale, "studies" -> sp.studies, "endpoints" -> sp.endpoints,
      "expected_resources" -> expected,
      "setup" -> Map("session_s" -> sessionS, "input_s" -> Stats.timing(setupS.map(_._1))))
    val lines: Seq[(String, Double, String)] = if (!o.trace) {
      attempt(workload.run(0))
      var i = 1
      while ((measured < o.seconds || samples.count(_.kind == "warm") < MinWarm) &&
          i <= MaxRuns && age + 1.5 * longestRun < DeadlineS) {
        attempt(workload.run(i))
        i += 1
      }
      val warm = samples.filter(_.kind == "warm")
      val wall = if (warm.nonEmpty) Stats.median(warm.map(_.wallS)) else 0.0
      val rate = if (warm.nonEmpty) Stats.median(warm.map(w => w.resources / w.wallS)) else 0.0
      val cold = samples.find(_.kind == "cold").map(_.wallS).getOrElse(0.0)
      record("runs") = results.map(_.fold(e => Map("error" -> e),
        r => Map("samples" -> r.samples.map(x => Map("kind" -> x.kind, "wall_s" -> x.wallS,
          "resources" -> x.resources)), "digest" -> r.digest, "problems" -> r.problems)))
      record("wall_s") = if (warm.nonEmpty) Stats.timing(warm.map(_.wallS)) else Map.empty
      record("cold_wall_s") = cold
      Seq(("wall_s", wall, "s"), ("cold_wall_s", cold, "s"),
        ("resources_per_s", rate, "1/s"), ("setup_s", setup, "s"))
    } else {
      // one untraced warm-up run keeps JIT and codegen out of the layers
      attempt(workload.run(0))
      val passes = scala.collection.mutable.ArrayBuffer.empty[Map[String, Double]]
      var tracer: Tracer = null
      var i = 1
      do {
        listener.clear()
        tracer = new Tracer(spark, listener)
        val r = try Right(workload.traced(i, tracer)) catch { case NonFatal(e) => Left(e.toString) }
        r.fold(e => System.err.println(s"[perfbench] traced run failed: $e"), x => passes += x._2)
        results += r.map(_._1)
        record(s"spans_$i") = tracer.record
        i += 1
      } while (measured < o.seconds && age + 2.5 * longestRun < DeadlineS)
      val names = passes.headOption.map(_.keys.toSeq.sorted).getOrElse(Nil)
      val layers = names.map(n => (n, Stats.median(passes.map(_(n)).toSeq), unitOf(n)))
      record("layers") = layers.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap
      largestLayer(tracer, sp.kind).foreach { case (name, share) =>
        record("largest_layer") = Map("layer" -> name, "share_of_traced_total" -> share)
        System.err.println(
          f"[perfbench] largest layer of ${o.workload}: $name ($share%.3f of the traced total)")
      }
      layers
    }
    val failed = results.count(r => r.isLeft || r.exists(_.problems.nonEmpty))
    val line = Stats.resultLine(results.size, failed, lines)
    record("result") = line
    Files.createDirectories(Paths.get(o.record).toAbsolutePath.getParent)
    Files.write(Paths.get(o.record), Json.encode(record).getBytes(StandardCharsets.UTF_8))
    spark.stop()
    println(line)
    if (failed > 0) sys.exit(1)
  }

  def unitOf(metric: String): String = {
    val leaf = metric.split('.').last
    if (leaf.endsWith("_per_s")) "1/s"
    else if (leaf.endsWith("_s")) "s"
    else if (leaf.endsWith("_mb")) "MB"
    else if (Set("keep_ratio", "hit_ratio", "cpu_util", "task_skew")(leaf)) "ratio"
    else "count"
  }

  /** The program layers the traced runs call. */
  val LayerNames = Set("extract", "transform", "pipeline", "documents", "sink", "idcache", "jdbc")

  /** The layer with the most self time in the last traced pass: self time
    * of every span, summed by the first component of its name. Harness
    * steps (materializing the union for the sink, the gate) do not count.
    */
  def largestLayer(tracer: Tracer, root: String): Option[(String, Double)] =
    tracer.named(root).lastOption.map { r =>
      val inPass = tracer.descendants(r).filter(s => LayerNames(s.name.split('.').head))
      val byLayer = inPass.groupBy(_.name.split('.').head)
        .map { case (l, ss) => l -> ss.map(tracer.selfSeconds).sum }
      val (name, s) = byLayer.maxBy(_._2)
      (name, s / r.seconds)
    }
}
