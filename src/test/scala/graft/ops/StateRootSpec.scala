package graft.ops

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.etl.SparkTestSession

/** The incremental-state lifecycle has one definition per verb:
  * [[StateRoot]]. The source gates keep per-family lifecycle wrappers
  * and per-family streaming ingest twins from growing back; the verb
  * checks pin that a family never gains a verb it does not declare.
  */
class StateRootSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private val mainDir = Paths.get(sys.props("user.dir"), "src", "main",
    "scala", "graft")

  private def source(p: Path): String =
    new String(Files.readAllBytes(p), "UTF-8")

  test("no per-family lifecycle def in the Incremental*Ops modules") {
    val opsDir = mainDir.resolve("ops")
    import scala.jdk.CollectionConverters._
    val listing = Files.list(opsDir)
    val modules =
      try listing.iterator().asScala
        .filter(_.getFileName.toString.matches("Incremental\\w*\\.scala"))
        .toList
      finally listing.close()
    assert(modules.size == 3, s"expected the three family modules: $modules")
    val lifecycle =
      """def (compact|purge|describe|expire|bucket|retain|retire)\w*""".r
    val found = modules.flatMap { m =>
      lifecycle.findAllIn(source(m)).map(d => s"${m.getFileName}: $d")
    }
    assert(found.isEmpty, "lifecycle verbs belong on StateRoot: " +
      found.mkString(", "))
  }

  test("Streaming has no per-family ingest twin") {
    val ingests = """def (\w*Ingest\w*)""".r
      .findAllMatchIn(source(mainDir.resolve("streaming/Streaming.scala")))
      .map(_.group(1)).toSet
    assert(ingests ==
      Set("stateIngest", "deletionIngest", "curateAndIndexIngest"))
  }

  private def undeclared(family: StateFamily)(
      verb: StateRoot => Unit): UnsupportedOperationException = {
    val root = StateRoot(family,
      Files.createTempDirectory("graft_stateroot").toString)
    val e = intercept[UnsupportedOperationException](verb(root))
    assert(e.getMessage.contains(family.name), e.getMessage)
    e
  }

  test("a verb the family does not declare throws, naming the family") {
    val e1 = undeclared(IncrementalDedupOps.Images)(_.expire(spark, 1L))
    assert(e1.getMessage.contains("image") &&
      e1.getMessage.contains("expire"), e1.getMessage)
    val e2 = undeclared(IncrementalCurateOps.Curation)(_.purge(spark))
    assert(e2.getMessage.contains("curation") &&
      e2.getMessage.contains("purge"), e2.getMessage)
    val e3 = undeclared(IncrementalDedupOps.Embeddings)(_.bucket(spark, 8))
    assert(e3.getMessage.contains("embedding") &&
      e3.getMessage.contains("bucket"), e3.getMessage)
  }

  test("the families declare exactly the verbs they had as wrappers") {
    import StateFamily._
    val I = IncrementalIndexOps
    val D = IncrementalDedupOps
    val all = Set[Verb](Describe, Expire, RetainHistory, RetireGenerations)
    assert(I.Bm25.verbs == all && I.Ivf.verbs == all)
    assert(D.Images.verbs.isEmpty)
    assert(D.Embeddings.verbs == Set(RetainHistory, RetireGenerations))
    assert(IncrementalCurateOps.Curation.verbs == Set(RetainHistory))
    assert(Seq(I.Bm25, I.Ivf, D.Images, D.Embeddings)
      .forall(_.purgeFold.isDefined))
    assert(IncrementalCurateOps.Curation.purgeFold.isEmpty)
    assert(Seq(I.Bm25, I.Ivf, D.Images).forall(_.bucketColumns.nonEmpty))
    assert(Seq(D.Embeddings, IncrementalCurateOps.Curation)
      .forall(_.bucketColumns.isEmpty))
  }
}
