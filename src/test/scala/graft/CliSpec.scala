package graft

import java.nio.file.Files

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.SparkTestSession

/** End-to-end CLI: two studies on disk, one requested — output must
  * contain only the requested study's descendants, partitioned by
  * resource type.
  */
class CliSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("cli extracts one study's closure and writes type-partitioned resources") {
    val in = Files.createTempDirectory("cli-in").toString
    val out = Files.createTempDirectory("cli-out").toString + "/resources"

    Seq(
      ("SD_1", "phs1.v1.p1", "One", "O", "SO", "v1", null, "dbGaP", "CANCER",
        "KF", "Pending", "True", null),
      ("SD_2", "phs2.v1.p1", "Two", "T", "ST", "v1", null, "dbGaP", "CANCER",
        "KF", "Pending", "True", null))
      .toDF("kf_id", "external_id", "name", "short_name", "short_code", "version",
        "attribution", "data_access_authority", "domain", "program",
        "release_status", "visible", "investigator_id")
      .write.parquet(s"$in/studies.parquet")

    Seq(
      ("PT_1", "p1", "SD_1", "FM_1", "True", "True", "Cancer", "Female",
        "Unknown", "White", "Homo sapiens", "True"),
      ("PT_2", "p2", "SD_2", "FM_2", "True", "True", "Cancer", "Male",
        "Unknown", "Asian", "Homo sapiens", "True"))
      .toDF("kf_id", "external_id", "study_id", "family_id", "is_proband",
        "affected_status", "diagnosis_category", "gender", "ethnicity", "race",
        "species", "visible")
      .write.parquet(s"$in/participants.parquet")

    Seq(
      ("DG_1", "d1", "PT_1", "Dx1", "Cancer", null, "10", null, null, null, null, null, "True"),
      ("DG_2", "d2", "PT_2", "Dx2", "Cancer", null, "20", null, null, null, null, null, "True"))
      .toDF("kf_id", "external_id", "participant_id", "source_text_diagnosis",
        "diagnosis_category", "source_text_tumor_location", "age_at_event_days",
        "mondo_id_diagnosis", "icd_id_diagnosis", "ncit_id_diagnosis",
        "uberon_id_tumor_location", "spatial_descriptor", "visible")
      .write.parquet(s"$in/diagnoses.parquet")

    // FR_1: in-study member only on the participant2 side (must be kept);
    // FR_2: both members out of study (must be dropped)
    Seq(
      ("FR_1", "fr1", "PT_9", "PT_1", "Mother", "True"),
      ("FR_2", "fr2", "PT_2", "PT_8", "Father", "True"))
      .toDF("kf_id", "external_id", "participant1_id", "participant2_id",
        "participant1_to_participant2_relation", "visible")
      .write.parquet(s"$in/family-relationships.parquet")

    Cli.run(spark, in, out, Seq("SD_1"))

    val back = spark.read.parquet(out)
    val keys = back.select("key").as[String].collect().toSet
    assert(keys.contains("SD_1") && keys.contains("PT_1") && keys.contains("DG_1"))
    assert(!keys.contains("SD_2") && !keys.contains("PT_2") && !keys.contains("DG_2"),
      s"other study's rows leaked: $keys")
    assert(keys.contains("FR_1"), "relationship with in-study participant2 must be kept")
    assert(!keys.contains("FR_2"), "relationship with no in-study member must be dropped")
    // partitioned by resource type on disk
    val dirs = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("resource_type=")).map(_.getName).toSet
    assert(dirs == Set("resource_type=ResearchStudy", "resource_type=Patient",
      "resource_type=Observation", "resource_type=ResearchSubject",
      "resource_type=Condition"), dirs.toString)
  }

  test("extract fails fast on a study id that matches nothing (ingest.py:71)") {
    val in = Files.createTempDirectory("cli-in-missing").toString
    Seq(("SD_1", "phs1.v1.p1", "One", "O", "SO", "v1", null, "dbGaP", "CANCER",
        "KF", "Pending", "True", null))
      .toDF("kf_id", "external_id", "name", "short_name", "short_code", "version",
        "attribution", "data_access_authority", "domain", "program",
        "release_status", "visible", "investigator_id")
      .write.parquet(s"$in/studies.parquet")
    val e = intercept[IllegalArgumentException] {
      Cli.extract(spark, in, Seq("SD_1", "SD_TYPO"))
    }
    assert(e.getMessage.contains("SD_TYPO"), e.getMessage)
    // the happy path on the same fixture still extracts
    assert(Cli.extract(spark, in, Seq("SD_1"))("studies").count() == 1)
  }

  test("writeObserved: metrics ride the write action (Observation API), " +
      "empty and null-key loads fail fast") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("obsw").toString + "/t"
    val ok = Seq(
      ("K1", "Patient", "{}"), ("K2", "Patient", "{}"), ("K3", "Group", "{}"))
      .toDF("key", "resource_type", "resource_json")
    val m = Cli.writeObserved(ok, out)
    assert(m == Map("n_resources" -> 3L, "null_keys" -> 0L))
    assert(spark.read.parquet(out).count() == 3)

    val empty = ok.where(org.apache.spark.sql.functions.lit(false))
    val e1 = intercept[IllegalArgumentException] {
      Cli.writeObserved(empty, out + "2")
    }
    assert(e1.getMessage.contains("zero resources"))

    val nullKey = Seq((null: String, "Patient", "{}"), ("K9", "Group", "{}"))
      .toDF("key", "resource_type", "resource_json")
    val e2 = intercept[IllegalArgumentException] {
      Cli.writeObserved(nullKey, out + "3")
    }
    assert(e2.getMessage.contains("null natural key"))
  }

  test("writeObserved after a crash between its two renames restores the " +
      "previous output, even when the next load fails validation") {
    import java.nio.file.{Files => JFiles, Paths}
    val out = JFiles.createTempDirectory("obsw-crash").toString + "/t"
    def rows(keys: String*) = keys.map((_, "Patient", "{}"))
      .toDF("key", "resource_type", "resource_json")
    def keys() = spark.read.parquet(out).select("key").as[String].collect().toSet
    Cli.writeObserved(rows("K1", "K2", "K3"), out)
    // the crash state: the previous output moved aside, a staged copy left
    JFiles.move(Paths.get(out), Paths.get(out + ".old"))
    rows("X1").write.parquet(out + ".staging")
    val e = intercept[IllegalArgumentException] {
      Cli.writeObserved(rows("K9").where(org.apache.spark.sql.functions.lit(false)), out)
    }
    assert(e.getMessage.contains("zero resources"))
    assert(keys() == Set("K1", "K2", "K3"), "previous output not restored")
    Cli.writeObserved(rows("K4", "K5"), out)
    assert(keys() == Set("K4", "K5"))
    assert(!JFiles.exists(Paths.get(out + ".old")) &&
      !JFiles.exists(Paths.get(out + ".staging")), "swap leftovers not dropped")
  }
}
