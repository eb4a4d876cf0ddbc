package perfbench

import org.apache.spark.sql.SparkSession

/** One session for every suite (the test JVM is forked once). */
object TestSession {
  lazy val spark: SparkSession = Session.create(2,
    java.nio.file.Files.createTempDirectory("perfbench-test").toString)
}
