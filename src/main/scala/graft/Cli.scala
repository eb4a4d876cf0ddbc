package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.etl.{Pipeline, Transform}
import graft.relational.RelationalOps
import graft.sinks.{DirSwap, ParquetSink}

/** The `kidsfirst fhir-etl SD_X SD_Y …` equivalent (SURVEY §7.1.8,
  * mirroring app/cli.py:17-29): select the requested studies, prune
  * every endpoint to their descendants with the S3 semi-join crawl,
  * run the transform + all 16 entity builders, and write the FHIR
  * resources as parquet partitioned by resource type.
  *
  * Usage: graft.Cli <endpointsDir> <outDir> SD_X [SD_Y …]
  * `endpointsDir` holds one `<endpoint>.parquet` per extracted
  * Dataservice endpoint (absent files = absent endpoints, the
  * presence-driven contract).
  */
object Cli {

  val EndpointNames: Seq[String] = Seq(
    "studies", "investigators", "participants", "families",
    "family-relationships", "diagnoses", "phenotypes", "outcomes",
    "biospecimen-diagnoses", "biospecimens", "biospecimen-genomic-files",
    "genomic-files", "sequencing-experiment-genomic-files",
    "sequencing-experiments")

  /** Load present endpoints and prune each to the chosen studies'
    * descendant closure — per-level `left_semi` joins over the FK DAG
    * (the distributed form of find_descendants_by_kfids, SURVEY S3).
    * Semi-joins never widen rows, so this is pure pruning ahead of the
    * transform's outer-join chain.
    */
  def extract(spark: SparkSession, dir: String, studyIds: Seq[String]): Map[String, DataFrame] = {
    def read(name: String): Option[DataFrame] = {
      // Hadoop FS check, not java.io.File — endpoints may live on
      // hdfs:// or s3a:// in the deployment this targets
      val p = new org.apache.hadoop.fs.Path(s"$dir/$name.parquet")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) Some(spark.read.parquet(p.toString)) else None
    }
    val all = EndpointNames.flatMap(n => read(n).map(n -> _)).toMap
    val studies = all.get("studies")
      .map(_.filter(col("kf_id").isin(studyIds.map(x => x: Any): _*)))
      .getOrElse(throw new IllegalArgumentException(s"no studies.parquet in $dir"))
    // Fail fast when a requested study id matches nothing (ingest.py:71,98
    // "{kf_study_id} not found" / "Found {found} study(ies) but expected
    // {expected}") — a typo'd SD_x must not silently produce an empty
    // pipeline. One action over a study-count-sized frame; negligible.
    val found = studies.select("kf_id").distinct()
      .collect().map(_.getString(0)).toSet
    val missing = studyIds.filterNot(found)
    if (missing.nonEmpty) throw new IllegalArgumentException(
      s"${missing.mkString(", ")} not found: " +
        s"found ${found.size} study(ies) but expected ${studyIds.size}")

    // child endpoint → (child FK column, parent endpoint, parent column)
    val fkDag: Seq[(String, String, String, String)] = Seq(
      ("investigators", "kf_id", "studies", "investigator_id"),
      ("participants", "study_id", "studies", "kf_id"),
      ("families", "kf_id", "participants", "family_id"),
      ("diagnoses", "participant_id", "participants", "kf_id"),
      ("phenotypes", "participant_id", "participants", "kf_id"),
      ("outcomes", "participant_id", "participants", "kf_id"),
      ("biospecimens", "participant_id", "participants", "kf_id"),
      ("biospecimen-diagnoses", "diagnosis_id", "diagnoses", "kf_id"),
      ("biospecimen-genomic-files", "biospecimen_id", "biospecimens", "kf_id"),
      ("genomic-files", "kf_id", "biospecimen-genomic-files", "genomic_file_id"),
      ("sequencing-experiment-genomic-files", "genomic_file_id", "genomic-files", "kf_id"),
      ("sequencing-experiments", "kf_id", "sequencing-experiment-genomic-files",
        "sequencing_experiment_id"))

    val pruned = fkDag.foldLeft(all.updated("studies", studies)) {
      case (acc, (child, fk, parent, parentCol)) =>
        (acc.get(child), acc.get(parent)) match {
          case (Some(c), Some(p)) =>
            acc.updated(child, RelationalOps.descendantCrawl(
              p.select(col(parentCol).as(s"__p")), Seq((c, col(fk) === col("__p")))))
          case _ => acc
        }
    }
    // family-relationships belong to the study if EITHER member does; an
    // OR-condition semi-join would degrade to nested-loop, so semi-join
    // per side and union-dedup by the relationship's own key
    (pruned.get("family-relationships"), pruned.get("participants")) match {
      case (Some(fr), Some(p)) =>
        val keys = p.select(col("kf_id").as("__p"))
        val either = RelationalOps.descendantCrawl(
            keys, Seq((fr, col("participant1_id") === col("__p"))))
          .union(RelationalOps.descendantCrawl(
            keys, Seq((fr, col("participant2_id") === col("__p")))))
          .dropDuplicates("kf_id")
        pruned.updated("family-relationships", either)
      case _ => pruned
    }
  }

  /** A3's count assertions collected IN-FLIGHT by the `Observation`
    * API: the metrics ride the write action itself, where a `.count()`
    * before the write would re-run the whole 16-builder cascade a
    * second time (the pipeline deliberately persists nothing — see
    * Pipeline's do-not-redo notes). The write goes to `outDir.staging`
    * and is promoted to `outDir` only after the metrics validate, by
    * [[DirSwap]] over (`outDir`, `.staging`, `.old`) — a failed load
    * never publishes a dataset a presence-of-output consumer could
    * mistake for success. A stale `.staging` is dropped first, so a
    * copy whose validation never finished is never adopted. After a
    * crash between the swap's renames, the next valid load publishes
    * over the copy stranded at `.old`, and a failed one restores it by
    * [[DirSwap.recover]]. Fails fast on an empty load or a null natural
    * key; returns the metrics.
    */
  def writeObserved(resources: DataFrame, outDir: String): Map[String, Long] = {
    import org.apache.spark.sql.functions.{count, lit, sum, when}
    val obs = org.apache.spark.sql.Observation()
    val observed = resources.observe(obs,
      count(lit(1)).as("n_resources"),
      sum(when(col("key").isNull, 1L).otherwise(0L)).as("null_keys"))
    val swap = DirSwap(resources.sparkSession.sparkContext.hadoopConfiguration,
      outDir, ".staging", ".old")
    swap.fs.delete(swap.staged, true)
    val metrics =
      try {
        // staged was just dropped: Append skips Overwrite's existence probe
        ParquetSink.writePartitioned(observed, swap.staged.toString,
          Seq("resource_type"), mode = org.apache.spark.sql.SaveMode.Append)
        // a provably-empty plan folds the CollectMetrics node away and the
        // observation row comes back empty — read defensively, so that case
        // lands in the zero-resources failure below instead of a lookup error
        val m = obs.get
        def metric(name: String): Long = m.get(name) match {
          case Some(x: Long) => x
          case _ => 0L
        }
        val metrics = Map(
          "n_resources" -> metric("n_resources"),
          "null_keys" -> metric("null_keys"))
        require(metrics("n_resources") > 0, "load produced zero resources")
        require(metrics("null_keys") == 0,
          s"${metrics("null_keys")} resources with a null natural key")
        metrics
      } catch {
        // the staged copy is invalid; leave outDir as before any crash
        case e: Throwable =>
          swap.fs.delete(swap.staged, true)
          scala.util.Try(swap.recover()).failed.foreach(e.addSuppressed)
          throw e
      }
    swap.publish()
    metrics
  }

  def run(spark: SparkSession, endpointsDir: String, outDir: String,
      studyIds: Seq[String],
      indexd: Option[DataFrame] = None,
      centerNames: Map[String, String] = Map.empty): Unit = {
    val endpoints = extract(spark, endpointsDir, studyIds)
    val result = Transform(endpoints)
    val resources = Pipeline.buildAllUnion(result, indexd, centerNames)
    writeObserved(resources, outDir)
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: graft.Cli <endpointsDir> <outDir> SD_X [SD_Y ...]")
    val Array(endpointsDir, outDir, studyIds @ _*) = args
    val spark = GraftSession()
    run(spark, endpointsDir, outDir, studyIds)
    spark.stop()
  }
}
