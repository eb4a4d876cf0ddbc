package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The gate's pinned values, checked against the battery's own complete
  * pipeline (`kf_full_pipeline`) over the same generated tables.
  */
class PinnedDigestSpec extends AnyFunSuite {

  private lazy val spark = TestSession.spark

  test("kf_full_pipeline matches the pinned digest and the oracle's counts") {
    val root = java.nio.file.Files.createTempDirectory("perfbench-pin").toString
    val dirs = Inputs.dirs(root)
    Inputs.tpch(spark, Main.Scale).foreach { case (name, df) =>
      df.write.parquet(s"${dirs.tpch}/$name.parquet")
    }
    val full = graft.SparkEntry.queries("kf_full_pipeline")(spark, dirs.tpch)
    val byBuilder = Gate.digestBy(full, "builder")
    assert(byBuilder.map { case (b, d) => b -> d.rows } ==
      Inputs.expectedCounts(spark, dirs, Inputs.Studies))
    assert(byBuilder.values.reduce(_ + _).toString == Main.PinnedDigest)
  }
}
