package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.etl.SparkTestSession

/** The one session configuration: its settings, the `SPARK_GRAFT_CPUS`
  * parser, and a source gate that keeps it the only session builder.
  */
class GraftSessionSpec extends AnyFunSuite {

  test("the shared session carries GraftSession's settings") {
    val spark = SparkTestSession.spark
    val conf = spark.sparkContext.getConf
    assert(spark.sparkContext.master == sys.env.getOrElse("SPARK_MASTER", "local[4]"))
    Seq(
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.extensions" -> "graft.GraftExtensions",
      "spark.ui.enabled" -> "false",
      "spark.sql.codegen.cache.maxEntries" -> "2000",
      "spark.shuffle.sort.bypassMergeThreshold" -> "1",
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true"
    ).foreach { case (k, v) => assert(conf.get(k) == v, k) }
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    // the extensions are live: a graft function resolves in plain SQL
    assert(spark.sql("SELECT langid_text('hello world')").collect().length == 1)
  }

  test("SPARK_GRAFT_CPUS parses as a positive Int and names a bad value") {
    assert(GraftSession.parseCpus(Some(" 8 ")) == 8)
    assert(GraftSession.parseCpus(None) == Runtime.getRuntime.availableProcessors())
    for (bad <- Seq("auto", "8,8", "0", "-2", "")) {
      val e = intercept[IllegalArgumentException](GraftSession.parseCpus(Some(bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS") &&
        e.getMessage.contains(s"'$bad'"), e.getMessage)
    }
  }

  test("GraftSession.scala is the only SparkSession builder in src/main") {
    val root = java.nio.file.Paths.get(sys.props("user.dir"), "src", "main")
    assert(java.nio.file.Files.isDirectory(root), s"no source tree at $root")
    import scala.jdk.CollectionConverters._
    val walk = java.nio.file.Files.walk(root)
    val builders =
      try walk.iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .filter(f => new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
          .contains("SparkSession.builder"))
        .map(_.getFileName.toString).toList
      finally walk.close()
    assert(builders == List("GraftSession.scala"))
  }
}
