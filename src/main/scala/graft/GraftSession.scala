package graft

import org.apache.spark.sql.SparkSession

/** The one session configuration every entry point builds through:
  * `graft.Cli`, `graft.Bench`, `graft.Verify`, the dev probes and the
  * test suites' shared session.
  *
  *   - master: `SPARK_MASTER` (a deployment setting), else `local[cpus]`;
  *   - shuffle partitions = `cpus`, UTC session time zone,
  *     [[GraftExtensions]] registered, UI off, log level WARN;
  *   - `codegen.cache.maxEntries=2000`: kf_full_pipeline alone emits
  *     >100 distinct whole-stage-codegen units (16 builders × several
  *     stages), so the default 100-entry driver-wide cache thrashes and
  *     every repeat run recompiles the same classes;
  *   - `bypassMergeThreshold=1`: always use the sort shuffle writer. The
  *     bypass writer opens one temp file per reduce partition per map
  *     task, about 1k file creates per tiny state-family shuffle; the
  *     sort writer emits one (data, index) pair per task, which is also
  *     the code path production shuffles (>200 partitions) take;
  *   - `canChangeCachedPlanOutputPartitioning=true`: AQE may re-plan the
  *     partitioning of persisted frames, so a cached KB-sized ingest
  *     intermediate does not freeze `cpus` empty partitions into every
  *     downstream stage.
  *
  * AQE is left at its default (on). Raising `autoBroadcastJoinThreshold`
  * to 64MB was measured 2× slower on the ETL chain (driver serialization
  * and a per-join hash build of 600k-row links); keep the 10MB default.
  */
object GraftSession {

  def apply(cpus: Int = envCpus()): SparkSession = {
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"))
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** `SPARK_GRAFT_CPUS`, else every available processor. */
  def envCpus(): Int = parseCpus(sys.env.get("SPARK_GRAFT_CPUS"))

  private[graft] def parseCpus(raw: Option[String]): Int = raw match {
    case None => Runtime.getRuntime.availableProcessors()
    case Some(v) => v.trim.toIntOption.filter(_ > 0).getOrElse(
      throw new IllegalArgumentException(
        s"SPARK_GRAFT_CPUS must be a positive integer, got '$v'"))
  }
}
