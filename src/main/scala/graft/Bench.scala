package graft

/** Benchmark main: runs every battery query on SPARK_GRAFT_SF_DIR,
  * writes the full record to `bench_last_<sf>_c<cpus>.json` and ends
  * stdout with one compact JSON summary line. Results are forced through
  * the `noop` sink so the full plan executes (a bare `count()` lets
  * Catalyst prune most of the work for map-only queries).
  * `SPARK_GRAFT_BENCH_ONLY=a,b,c` times only the named queries, min-of-N
  * in one session, and writes no default record.
  */
object Bench {

  /** Query-family key: the leading letters of the first name segment
    * ("d10_edit…" → "d", "kf_full…" → "kf", "a18b_…" → "a").
    */
  private def family(name: String): String = {
    val head = name.split("_").head
    val letters = head.takeWhile(!_.isDigit)
    if (letters.isEmpty) head else letters
  }

  /** SPARK_GRAFT_BENCH_FORK=1: run every query family in its OWN fresh
    * JVM (a child Bench with SPARK_GRAFT_BENCH_ONLY set), then merge
    * the children's records into one line of the normal shape. One
    * shared JVM accumulates JIT/GC/codegen-cache state across ~180
    * queries, so late families inherit whatever the early ones left
    * behind; forking makes every family's measurement start from the
    * same cold-ish JVM at the cost of one Spark session startup per
    * family. Use it to CALIBRATE the shared-JVM record, not replace it
    * (the shared record is the cheaper per-round signal once the fork
    * mode has shown how much cross-family state moves it).
    */
  private def runForked(): Unit = {
    import scala.jdk.CollectionConverters._
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val families = SparkEntry.queries.keys.toSeq
      .filter(n => only.forall(_.contains(n)))
      .groupBy(family).toSeq.sortBy(_._1)
    val javaBin = new java.io.File(
      new java.io.File(sys.props("java.home"), "bin"), "java").getAbsolutePath
    // the parent's own JVM args (sbt's add-opens + heap) are valid for
    // the children verbatim
    val jvmArgs = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getInputArguments.asScala.toSeq
    val cp = sys.props("java.class.path")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val merged = scala.collection.mutable.LinkedHashMap
      .empty[String, com.fasterxml.jackson.databind.JsonNode]
    val spreads = scala.collection.mutable.LinkedHashMap
      .empty[String, com.fasterxml.jackson.databind.JsonNode]
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    var total = 0.0
    var totalNorm = 0.0
    for ((fam, names) <- families) {
      val out = java.nio.file.Files.createTempFile(s"bench_fork_$fam", ".json")
      val cmd = (Seq(javaBin) ++ jvmArgs ++ Seq("-cp", cp, "graft.Bench")).asJava
      val pb = new ProcessBuilder(cmd)
      pb.environment().remove("SPARK_GRAFT_BENCH_FORK")
      pb.environment().put("SPARK_GRAFT_BENCH_ONLY", names.sorted.mkString(","))
      pb.environment().put("SPARK_GRAFT_BENCH_OUT", out.toString)
      pb.redirectOutput(ProcessBuilder.Redirect.INHERIT)
      pb.redirectError(ProcessBuilder.Redirect.INHERIT)
      val exit = pb.start().waitFor()
      if (exit != 0 || !java.nio.file.Files.exists(out) ||
          java.nio.file.Files.size(out) == 0) {
        errors(s"family:$fam") = s"fork exited $exit"
      } else {
        val rec = mapper.readTree(java.nio.file.Files.readString(out))
        rec.get("queries").properties().asScala
          .foreach(e => merged(e.getKey) = e.getValue)
        rec.get("spreads").properties().asScala
          .foreach(e => spreads(e.getKey) = e.getValue)
        rec.get("errors").properties().asScala
          .foreach(e => errors(e.getKey) = e.getValue.asText())
        total += rec.get("total_s").asDouble()
        totalNorm += rec.get("total_normalized_s").asDouble()
      }
    }
    // serialize with Jackson, not string concatenation: error text (a
    // fork's exception message) can contain quotes/backslashes, and a
    // record that needs a manual repair before it parses is no record
    val root = mapper.createObjectNode()
    root.put("metric", "total")
    root.put("value", total)
    root.put("unit", "sec")
    root.put("mode", "forked")
    root.put("forked_families", families.size)
    val qNode = root.putObject("queries")
    merged.foreach { case (k, v) => qNode.set[com.fasterxml.jackson.databind.JsonNode](k, v) }
    val sNode = root.putObject("spreads")
    spreads.foreach { case (k, v) => sNode.set[com.fasterxml.jackson.databind.JsonNode](k, v) }
    val eNode = root.putObject("errors")
    errors.foreach { case (k, v) => eNode.put(k, v) }
    root.put("sf", sfDir)
    root.put("total_s", math.rint(total * 10000) / 10000)
    root.put("total_normalized_s", math.rint(totalNorm * 10000) / 10000)
    root.put("n_errors", errors.size)
    val line = mapper.writeValueAsString(root)
    println("BENCH_RESULT " + line)
    val written = writeRecord(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_FORKED_OUT", "bench_forked_last.json"), line)
    println(summaryLine(total, totalNorm, errors.size, sfDir,
      GraftSession.envCpus(), System.currentTimeMillis(), written))
  }

  /** The default full-record file of a sweep: named by the data
    * directory and the core count (`bench_last_sf0.1_c32.json`), so a
    * sweep at another sf or core count never replaces this one's
    * baseline.
    */
  private[graft] def defaultRecord(sfDir: String, cpus: Int): String =
    s"bench_last_${java.nio.file.Paths.get(sfDir).getFileName}_c$cpus.json"

  /** Persist a full record: stdout of a long run can be truncated (round
    * 6 lost its per-query minima that way). Returns the absolute path,
    * or None after saying on stderr why the write failed.
    */
  private def writeRecord(path: String, record: String): Option[String] = {
    val p = java.nio.file.Paths.get(path).toAbsolutePath
    try {
      java.nio.file.Files.write(p, (record + "\n").getBytes("UTF-8"))
      Some(p.toString)
    } catch {
      case e: Exception =>
        System.err.println(s"[bench] could not write record $p: $e")
        None
    }
  }

  /** The last stdout line: the headline of the full record and the path
    * it was written to (`null` when it was written nowhere). Fixed
    * fields only, so it stays far below 1.5 KB for readers that parse
    * only the tail of stdout.
    */
  private[graft] def summaryLine(total: Double, totalNorm: Double,
      nErrors: Int, sf: String, cpus: Int, sweepTs: Long,
      record: Option[String]): String = {
    def r4(d: Double): Double = math.rint(d * 10000) / 10000
    val o = new com.fasterxml.jackson.databind.ObjectMapper().createObjectNode()
    o.put("metric", "total")
    o.put("value", r4(total))
    o.put("unit", "sec")
    o.put("total_s", r4(total))
    o.put("total_normalized_s", r4(totalNorm))
    o.put("n_errors", nErrors)
    o.put("sf", sf)
    o.put("cpus", cpus)
    o.put("sweep_ts", sweepTs)
    record.fold(o.putNull("record"))(o.put("record", _))
    o.toString
  }

  /** Run one family in a fresh child JVM (the [[runForked]] machinery
    * for a single family) and return its record, or an error string.
    * Used by the DEFAULT sweep for the kf family: its >5 s queries have
    * inherited 1.5-2× of longitudinal noise from whatever JIT/GC/cache
    * state ~190 earlier queries left in the shared JVM (three rounds of
    * BENCH_NOTES adjudications attribute every kf "regression" to
    * contention, never plan cost) — a per-family cold JVM removes that
    * noise at the cost of one Spark startup. Disable with
    * SPARK_GRAFT_BENCH_FORK_FAMILIES="" (or pick other families).
    */
  private def forkFamily(names: Seq[String], baseline: String):
      Either[String, com.fasterxml.jackson.databind.JsonNode] = {
    import scala.jdk.CollectionConverters._
    val out = java.nio.file.Files.createTempFile("bench_fork_fam", ".json")
    val javaBin = new java.io.File(
      new java.io.File(sys.props("java.home"), "bin"), "java").getAbsolutePath
    val jvmArgs = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getInputArguments.asScala.toSeq
    val cmd = (Seq(javaBin) ++ jvmArgs ++
      Seq("-cp", sys.props("java.class.path"), "graft.Bench")).asJava
    val pb = new ProcessBuilder(cmd)
    pb.environment().remove("SPARK_GRAFT_BENCH_FORK")
    pb.environment().put("SPARK_GRAFT_BENCH_FORK_FAMILIES", "")
    pb.environment().put("SPARK_GRAFT_BENCH_ONLY", names.sorted.mkString(","))
    pb.environment().put("SPARK_GRAFT_BENCH_OUT", out.toString)
    pb.environment().put("SPARK_GRAFT_BENCH_BASELINE", baseline)
    pb.redirectOutput(ProcessBuilder.Redirect.INHERIT)
    pb.redirectError(ProcessBuilder.Redirect.INHERIT)
    val exit = pb.start().waitFor()
    if (exit != 0 || !java.nio.file.Files.exists(out) ||
        java.nio.file.Files.size(out) == 0) Left(s"fork exited $exit")
    else Right(new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(java.nio.file.Files.readString(out)))
  }

  def main(args: Array[String]): Unit = {
    if (sys.env.get("SPARK_GRAFT_BENCH_FORK").contains("1")) { runForked(); return }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.envCpus()
    val partial = sys.env.get("SPARK_GRAFT_BENCH_ONLY").isDefined
    val out = sys.env.get("SPARK_GRAFT_BENCH_OUT")
    val baselinePath = sys.env.get("SPARK_GRAFT_BENCH_BASELINE").orElse(out)
      .getOrElse(defaultRecord(sfDir, cpus))
    // Previous-round per-query minima, read BEFORE this run overwrites
    // the record file — the baseline for the self-adjudication pass
    // below. Only trusted when the baseline ran at the SAME sf and cpus.
    val baselineMins: Map[String, Double] = try {
      val path = java.nio.file.Paths.get(baselinePath)
      if (!java.nio.file.Files.exists(path)) Map.empty
      else {
        import scala.jdk.CollectionConverters._
        val node = new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(java.nio.file.Files.readString(path))
        if (Option(node.get("sf")).map(_.asText()).contains(sfDir) &&
            Option(node.get("cpus")).map(_.asText()).forall(_ == cpus.toString))
          Option(node.get("queries")).map(_.properties().asScala
            .map(e => e.getKey -> e.getValue.asDouble()).toMap)
            .getOrElse(Map.empty)
        else Map.empty
      }
    } catch { case _: Exception => Map.empty }
    // Forked-by-default families (ask of three straight rounds of kf_*
    // longitudinal noise): measured in their OWN cold JVM before this
    // one builds its session, merged into the single record below.
    // Skipped automatically when SPARK_GRAFT_BENCH_ONLY restricts the
    // sweep (adjudication re-measures must share the suspect's JVM).
    val forkFams = sys.env.getOrElse("SPARK_GRAFT_BENCH_FORK_FAMILIES", "kf")
      .split(",").map(_.trim).filter(_.nonEmpty).toSet
    val forkNames =
      if (partial) Seq.empty[String]
      else SparkEntry.queries.keys.toSeq.filter(n => forkFams(family(n)))
    val forkRec0: Either[String, com.fasterxml.jackson.databind.JsonNode] =
      if (forkNames.isEmpty) Left("disabled")
      else forkFamily(forkNames, baselinePath)
    // Adjudicate the merged fork entries against the SAME baseline the
    // in-process sweep uses: the child self-adjudicates only within its
    // own window, so a child that ran in a contended window ships every
    // reading inflated together and flags nothing (round 16 shipped
    // kf_drs_slice at 1.8× its clean value that way). Any fork entry
    // >1.5× its previous-round min is re-forked ONCE (a fresh child, a
    // fresh window); the record keeps the better value per query, and
    // names still slow after the re-fork are flagged `fork_suspect` —
    // those are the real-regression candidates.
    val (forkRec, forkRemeasured, forkSuspectNames) = forkRec0 match {
      case Right(rec) if baselineMins.nonEmpty =>
        import scala.jdk.CollectionConverters._
        val qNode = rec.get("queries")
          .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
        val qmap = qNode.properties().asScala
          .map(e => e.getKey -> e.getValue.asDouble()).toMap
        val sus = qmap.filter { case (n, v) =>
          baselineMins.get(n).exists(b => v > b * 1.5) }
        if (sus.isEmpty) (forkRec0, Map.empty[String, Double], Seq.empty[String])
        else forkFamily(sus.keys.toSeq, baselinePath) match {
          case Right(rec2) =>
            val q2 = Option(rec2.get("queries")).map(_.properties().asScala
              .map(e => e.getKey -> e.getValue.asDouble()).toMap)
              .getOrElse(Map.empty[String, Double])
            val better = sus.flatMap { case (n, v) =>
              q2.get(n).filter(_ < v).map(n -> _) }
            // the raw total shrinks by the raw improvement (the re-fork
            // proved the original reading was window noise, not plan
            // cost); the NORMALIZED total scales proportionally — it
            // was divided by the child's shuffle ratio, so subtracting
            // raw seconds from it would over-correct exactly when the
            // child ran contended (ratio > 1), the case the re-fork
            // targets
            val delta = better.map { case (n, v2) => sus(n) - v2 }.sum
            better.foreach { case (n, v2) => qNode.put(n, v2) }
            val o = rec.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
            val oldTotal = rec.get("total_s").asDouble()
            val oldNorm = rec.get("total_normalized_s").asDouble()
            val newTotal = math.max(0.0, oldTotal - delta)
            o.put("total_s", newTotal)
            o.put("total_normalized_s",
              if (oldTotal <= 0) oldNorm else oldNorm * newTotal / oldTotal)
            val still = sus.keys.toSeq.sorted.filter(n =>
              q2.get(n).getOrElse(sus(n)) > baselineMins(n) * 1.5)
            (Right(rec), better, still)
          case Left(err) =>
            System.err.println(s"[bench] fork re-measure failed ($err); " +
              "flagging all fork suspects")
            (forkRec0, Map.empty[String, Double], sus.keys.toSeq.sorted)
        }
      case _ => (forkRec0, Map.empty[String, Double], Seq.empty[String])
    }
    val spark = GraftSession(cpus)
    // JVM/codegen warmup on the smallest SF so steady-state numbers are
    // measured, not first-query classloading.
    try SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }
    // best-of-N (default 3): single cold runs swing ±5× from JIT/GC noise
    // in one shared JVM; the min of N runs is a stable per-query signal
    // and the spread ((max-min)/min) says whether the min is trustworthy.
    // Caches are cleared BETWEEN query families (kept within the repeats
    // so intentional persists still help) so one query's leftover cached
    // blocks don't turn into another query's GC pressure.
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt.max(1)
    // One untimed run per query before the timed repeats: each query's
    // generated code is JIT-compiled on its own first execution (the
    // global warmup above only covers the pipeline's plans), and that
    // compile can dominate a ~1s minimum — round-7/8 showed spreads of
    // 1.3-1.4 on the big JSON-builder slices purely from first-run
    // codegen. The warm run moves that one-time cost out of the timed
    // window so `spreads` measures machine contention, which is what the
    // record's consumers use it for. Disable with SPARK_GRAFT_BENCH_WARM=0
    // to measure cold-start behavior instead.
    val warm = sys.env.getOrElse("SPARK_GRAFT_BENCH_WARM", "1") != "0"
    // A query that throws must NOT post a timing: round 8's regenerated
    // testdata broke 12 events queries and each "ran" in 0.1-0.9s — the
    // time of an analysis exception, indistinguishable from a fast query
    // in the record. Failures go to an `errors` map in the JSON line and
    // are excluded from `queries`/`spreads`/`total`. Only the MEASURED
    // runs record failures — the warm pass is purely advisory, so a
    // transient warm-run hiccup can't silently drop a query whose timed
    // runs all succeed.
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]

    // Fixed-work contention canary: the driver's record has run ~2.1-2.2×
    // the clean record two rounds straight purely from machine state,
    // which makes cross-round per-query deltas unreadable. These two
    // measurements do a CONSTANT amount of work — a single-core integer
    // busy-loop (CPU/steal pressure) and a fixed 32-partition shuffle
    // micro-job (scheduler + shuffle-IO pressure) — so record consumers
    // can normalize machine state out: query_time / (calib / calib_ref)
    // compares rounds on equal footing. Taken before AND after the sweep
    // (min of 3 each) to catch contention that arrives mid-run.
    def cpuCalib(): Double = {
      val t0 = System.nanoTime()
      var x = 0x9E3779B97F4A7C15L
      var i = 0
      while (i < 200000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
      if (x == 42L) System.err.println("unreachable") // defeat DCE
      (System.nanoTime() - t0) / 1e9
    }
    def shuffleCalib(): Double = {
      import org.apache.spark.sql.functions.{col, count, lit, pmod}
      val t0 = System.nanoTime()
      spark.range(0, 4000000L, 1, 32)
        .groupBy(pmod(col("id"), lit(1024L))).agg(count(lit(1)))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    val cpuPre = Seq.fill(3)(cpuCalib()).min
    val shufPre = { shuffleCalib(); Seq.fill(3)(shuffleCalib()).min }

    // SPARK_GRAFT_BENCH_ONLY=a,b,c restricts the sweep — the
    // adjudication knob: re-measure a handful of suspect queries
    // min-of-N back-to-back without paying for the whole battery
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .filterNot { case (name, _) =>
        forkNames.nonEmpty && forkRec.isRight && forkNames.contains(name) }
    val results = selected.map { case (name, fn) =>
      def once(recordFailure: Boolean): Double = {
        val t0 = System.nanoTime()
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case e: Throwable =>
          if (recordFailure) failures.getOrElseUpdate(name, e.getClass.getName)
          System.err.println(s"[bench] $name failed${if (recordFailure) "" else " (warm run, advisory)"}: ${e.getClass.getName}: ${String.valueOf(e.getMessage).take(200)}")
        }
        (System.nanoTime() - t0) / 1e9
      }
      if (warm) once(recordFailure = false)
      val times = Seq.fill(runs)(once(recordFailure = true))
      spark.catalog.clearCache()
      name -> times
    }.filter { case (name, _) => !failures.contains(name) }

    val cpuPost = Seq.fill(3)(cpuCalib()).min
    val shufPost = Seq.fill(3)(shuffleCalib()).min

    // Self-adjudicating re-measure: any query whose sweep min exceeds
    // its previous-round min (same sf) by >1.5× is re-run back-to-back
    // min-of-N after the sweep, and the record keeps the better value.
    // Two rounds straight the headline showed phantom 2–2.6×
    // "regressions" that a later quiet-machine re-run dissolved — a
    // record that needs a manual rerun to be readable is a defect of
    // the record. Genuine regressions survive (the re-run repeats the
    // slow min); contention artifacts don't. Bounded to the 15 worst
    // ratios so a systemically-contended sweep doesn't double itself;
    // a fresh shuffle canary around the re-run window is recorded so
    // the adjudication itself is auditable.
    val suspects = results
      .flatMap { case (n, ts) =>
        baselineMins.get(n).filter(b => ts.min > b * 1.5)
          .map(b => (n, ts.min / b)) }
      .sortBy(-_._2).take(15).map(_._1)
    val shufRerun = if (suspects.isEmpty) -1.0
      else Seq.fill(3)(shuffleCalib()).min
    val remeasured: Map[String, Double] = suspects.flatMap { name =>
      val fn = SparkEntry.queries(name)
      // a failed re-run must NOT post its time-to-failure as a timing —
      // it would replace the genuine sweep minimum with a phantom
      // speedup (the exact corruption the sweep loop's failure handling
      // exists to prevent); the sweep min simply stands
      def once(): Option[Double] = {
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          Some((System.nanoTime() - t0) / 1e9)
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name re-measure failed " +
            s"(sweep min stands): ${e.getClass.getName}")
          None
        }
      }
      // no warm pass: the sweep already JIT-compiled this query's code
      val ts = Seq.fill(runs)(once()).flatten
      spark.catalog.clearCache()
      if (ts.isEmpty) None else Some(name -> ts.min)
    }.toMap
    def adjMin(name: String, ts: Seq[Double]): Double =
      math.min(ts.min, remeasured.getOrElse(name, Double.MaxValue))

    // Locale.ROOT: a comma-decimal default locale (e.g. de_DE) would
    // otherwise emit `0,1234` and break the JSON line.
    def num(d: Double): String =
      String.format(java.util.Locale.ROOT, "%.4f", Double.box(d))
    // entries from the forked family's child record, merged verbatim
    // into the same maps (the child already self-adjudicated)
    def forkEntries(field: String): Seq[(String, String)] =
      forkRec.toSeq.flatMap { rec =>
        import scala.jdk.CollectionConverters._
        Option(rec.get(field)).toSeq.flatMap(_.properties().asScala
          .map(e => e.getKey -> e.getValue.toString).toSeq)
      }
    def obj(field: String, f: (String, Seq[Double]) => Double): String =
      (results.map { case (k, ts) => k -> num(f(k, ts)) } ++
        forkEntries(field)).sortBy(_._1)
        .map { case (k, v) => "\"" + k + "\":" + v }
        .mkString("{", ",", "}")
    val qs = obj("queries", adjMin)
    // relative spread: how far the worst run strayed from the best —
    // >1.0 means the round was contended and per-query deltas vs the
    // previous round are noise, not regressions
    val spreads = obj("spreads",
      (_, ts) => (ts.max - ts.min) / math.max(ts.min, 1e-9))
    val adjudication = {
      val rem = remeasured.toSeq.sortBy(_._1)
        .map { case (k, v) => "\"" + k + "\":" + num(v) }
        .mkString("{", ",", "}")
      val forkRem = forkRemeasured.toSeq.sortBy(_._1)
        .map { case (k, v) => "\"" + k + "\":" + num(v) }
        .mkString("{", ",", "}")
      val forkSus = forkSuspectNames
        .map("\"" + _ + "\"").mkString("[", ",", "]")
      s"""{"baseline_queries":${baselineMins.size},"suspects":${suspects.size},"shuffle_rerun":${num(shufRerun)},"remeasured":$rem,"fork_remeasured":$forkRem,"fork_suspect":$forkSus}"""
    }
    val forkTotal = forkRec.toOption
      .flatMap(r => Option(r.get("total_s"))).map(_.asDouble()).getOrElse(0.0)
    val forkTotalNorm = forkRec.toOption
      .flatMap(r => Option(r.get("total_normalized_s"))).map(_.asDouble())
      .getOrElse(0.0)
    val total = results.map { case (k, ts) => adjMin(k, ts) }.sum + forkTotal
    val forkErrs: Seq[(String, String)] = (forkRec match {
      case Left("disabled") => Seq.empty
      case Left(err) => Seq("fork:" + forkFams.mkString("+") -> err)
      case Right(rec) =>
        import scala.jdk.CollectionConverters._
        Option(rec.get("errors")).toSeq.flatMap(_.properties().asScala
          .map(e => e.getKey -> e.getValue.asText()).toSeq)
    })
    val errs = (failures.toSeq ++ forkErrs)
      .map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }
      .mkString("{", ",", "}")
    val calib =
      s"""{"cpu_pre":${num(cpuPre)},"cpu_post":${num(cpuPost)},"shuffle_pre":${num(shufPre)},"shuffle_post":${num(shufPost)}}"""
    // Auto-normalized total: raw totals have run >2x apart across rounds
    // purely from machine state (round 10/11 adjudications), so the
    // record now carries `total_normalized_s` = total / shuffle_ratio,
    // where shuffle_ratio = min(pre, post shuffle canary) / the clean-
    // machine reference (round-11 adjudication, BENCH_NOTES.md), clamped
    // to >= 1 — a machine FASTER than reference never flatters the
    // number, and a contended one is corrected by the constant-work
    // canary. min(pre, post) under-corrects contention that arrives
    // mid-sweep; `spreads` still flags that case for manual reads.
    val cpuRef = 0.41
    val shuffleRef = 0.174
    val cpuRatio = math.max(1.0, math.min(cpuPre, cpuPost) / cpuRef)
    val shuffleRatio = math.max(1.0, math.min(shufPre, shufPost) / shuffleRef)
    // the forked family normalizes by its OWN child canaries (its JVM,
    // its machine window), the in-process sweep by this one's
    val totalNorm = (total - forkTotal) / shuffleRatio + forkTotalNorm
    val norm =
      s"""{"cpu_ref":${num(cpuRef)},"shuffle_ref":${num(shuffleRef)},"cpu_ratio":${num(cpuRatio)},"shuffle_ratio":${num(shuffleRatio)},"forked_families":"${if (forkNames.nonEmpty && forkRec.isRight) forkFams.toSeq.sorted.mkString(",") else ""}"}"""
    val sweepTs = System.currentTimeMillis()
    val nErrors = failures.size + forkErrs.size
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"spreads":$spreads,"errors":$errs,"calibration":$calib,"normalization":$norm,"adjudication":$adjudication,"runs":$runs,"sf":"$sfDir","cpus":$cpus,"sweep_ts":$sweepTs,"total_s":${num(total)},"total_normalized_s":${num(totalNorm)},"n_errors":$nErrors}"""
    // Readers of captured stdout may keep only its last ~2 KB: the full
    // record (~8 KB) rides a sentinel-prefixed line (recoverable by
    // prefix grep anywhere in the capture) and the file below; the LAST
    // stdout line is the compact summary (build.sbt suppresses sbt's
    // trailing "[success]" line for exactly this).
    println("BENCH_RESULT " + line)
    // A partial SPARK_GRAFT_BENCH_ONLY sweep writes no default record:
    // only a full sweep may become the next run's baseline. It still
    // writes where SPARK_GRAFT_BENCH_OUT points (a forked child's
    // hand-back to its parent).
    val written = out.orElse(Option.when(!partial)(defaultRecord(sfDir, cpus)))
      .flatMap(writeRecord(_, line))
    println(summaryLine(total, totalNorm, nErrors, sfDir, cpus, sweepTs, written))
    spark.stop()
  }
}
