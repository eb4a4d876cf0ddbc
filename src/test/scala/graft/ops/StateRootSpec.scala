package graft.ops

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.etl.SparkTestSession

/** The incremental-state lifecycle has one definition per verb:
  * [[StateRoot]]. The source gates keep per-family lifecycle wrappers,
  * per-family delete ops and per-family streaming ingest twins from
  * growing back; the verb checks pin that a family never gains a verb
  * it does not declare; the layout pin keeps every family's tombstone
  * tables readable by earlier state directories.
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

  test("the tombstone-landing protocol is written once, in StateRoot") {
    import scala.jdk.CollectionConverters._
    val walk = Files.walk(mainDir)
    val sources =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    val perFamily = """def (delete\w*|takedown)\b""".r
    val familyOps = sources
      .filter(_.getFileName.toString.matches("Incremental\\w*\\.scala"))
      .flatMap(m => perFamily.findAllIn(source(m))
        .map(d => s"${m.getFileName}: $d"))
    assert(familyOps.isEmpty, "deletion belongs on StateRoot: " +
      familyOps.mkString(", "))
    // the lease call's argument list, up to the body's opening brace
    val lease = """withLease\(([^{]*)\{""".r
    val deletionRoot = """deletionRoot|delRoot|delDir|_deletes""".r
    val owners = Set("StateRoot.scala", "BatchState.scala")
    val leases = sources.filterNot(p => owners(p.getFileName.toString))
      .flatMap(p => lease.findAllMatchIn(source(p))
        .filter(m => deletionRoot.findFirstIn(m.group(1)).isDefined)
        .map(m => s"${p.getFileName}: withLease(${m.group(1).trim}"))
    assert(leases.isEmpty, "only StateRoot and BatchState take the " +
      "deletion root's lease: " + leases.mkString(", "))
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

  // ---------------------------------------------- tombstone layout pin

  private val srcDir = "/root/testdata/sf0.001"

  private def docs = graft.Tables.documents(spark, srcDir)
  private def emb = graft.Tables.embeddings(spark, srcDir)

  private def fresh(): String =
    Files.createTempDirectory("graft_stateroot").toString

  /** `simpleString` of one deletion table's stored schema. */
  private def delSchema(state: String, table: String): String =
    spark.read.parquet(s"$state/_deletes/$table/batch=0").schema
      .simpleString

  private def delTableNames(state: String): Set[String] = {
    import scala.jdk.CollectionConverters._
    val listing = Files.list(Paths.get(state, "_deletes"))
    try listing.iterator().asScala.map(_.getFileName.toString)
      .filterNot(_.startsWith("_")).filterNot(_.startsWith(".")).toSet
    finally listing.close()
  }

  test("one delete per family lands the same tombstone layout") {
    import org.apache.spark.sql.functions._
    val I = IncrementalIndexOps
    val D = IncrementalDedupOps
    val C = IncrementalCurateOps
    val docDels = docs.where(pmod(col("doc_id"), lit(13)) === 0)
      .select("doc_id")
    val vecDels = emb.where(pmod(col("vec_id"), lit(9)) === 0)
      .select("vec_id")

    val bm25 = fresh()
    I.ingestTextShard(spark, docs, "doc_id", "text", bm25, 0L)
    StateRoot(I.Bm25, bm25).delete(spark, docDels, "doc_id")
    assert(delTableNames(bm25) == Set("del_ids", "del_tokstats",
      "del_globals"))
    assert(delSchema(bm25, "del_ids") == "struct<id:bigint>")
    assert(delSchema(bm25, "del_tokstats") == "struct<token:string,df:bigint>")
    assert(delSchema(bm25, "del_globals") ==
      "struct<n_docs:bigint,totlen:bigint,ceiling:bigint>")

    val ivf = fresh()
    I.ingestVectorShard(spark, emb, "vec_id", "embedding", ivf, 0L,
      nCells = 4, iters = 2)
    StateRoot(I.Ivf, ivf).delete(spark, vecDels, "vec_id")
    assert(delTableNames(ivf) == Set("del_ids"))
    assert(delSchema(ivf, "del_ids") == "struct<id:bigint>")

    import spark.implicits._
    val media = docs.where(pmod(col("doc_id"), lit(3)) === 1)
      .select(col("doc_id")).as[Long]
      .mapPartitions(it => it.map { id =>
        (id, ImageIoCodecs.syntheticPng(id - id % 10))
      }).toDF("doc_id", "img")
    val img = fresh()
    D.ingestImageShard(spark, media, "doc_id", "img", img, 0L)
    StateRoot(D.Images, img).delete(spark,
      media.where(pmod(col("doc_id"), lit(7)) === 1).select("doc_id"),
      "doc_id")
    assert(delTableNames(img) == Set("del_ids"))
    assert(delSchema(img, "del_ids") == "struct<id:bigint>")

    val embState = fresh()
    D.ingestEmbeddingShard(spark, emb, "vec_id", "embedding", embState, 0L,
      k = 4, iters = 2, threshold = 0.35)
    StateRoot(D.Embeddings, embState).delete(spark, vecDels, "vec_id")
    assert(delTableNames(embState) == Set("del_ids"))
    assert(delSchema(embState, "del_ids") == "struct<id:bigint>")

    val cur = fresh()
    C.ingestShard(spark, docs, "doc_id", "text", cur, 0L)
    StateRoot(C.Curation, cur).delete(spark, docDels, "doc_id")
    assert(delTableNames(cur) == Set("del_ids"))
    assert(delSchema(cur, "del_ids") == "struct<doc_id:bigint>")
  }
}
