package graft.sinks

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.SparkTestSession
import graft.ops.CountingFs

/** Filesystem-operation budget of the directory-swap writers and the
  * id-cache reads: `Cli.writeObserved`, `IdCache.read`/`resolve`/
  * `compact` and `ParquetSink.compact` each run once on tiny data
  * addressed through [[CountingFs]], and their driver-side metadata
  * calls must stay at or under the pinned counts. `writeObserved` is
  * on the `etl_all_studies` timed path and `read`/`resolve` are on
  * `load_cold_rerun`'s, so a round-trip added to the swap fails here
  * with the call and the operation named.
  */
class SwapFsOpsSpec extends AnyFunSuite {

  private lazy val spark = {
    val s = SparkTestSession.spark
    CountingFs.register(s.sparkContext.hadoopConfiguration)
    s
  }

  /** Pinned upper bounds: the counts each call made before
    * [[DirSwap]] replaced the three hand-written swaps.
    */
  private val Bounds: Map[String, Map[String, Long]] = Map(
    "writeObserved" -> Map("create" -> 1, "delete" -> 6, "exists" -> 2,
      "getFileStatus" -> 3, "listStatus" -> 2, "mkdirs" -> 1, "rename" -> 3),
    "writeObserved republish" -> Map("create" -> 1, "delete" -> 6,
      "exists" -> 2, "getFileStatus" -> 3, "listStatus" -> 2, "mkdirs" -> 1,
      "rename" -> 4),
    "IdCache.read present" -> Map("exists" -> 4, "getFileStatus" -> 1,
      "listStatus" -> 1),
    "IdCache.read missing" -> Map("exists" -> 5),
    "IdCache.resolve cold" -> Map("create" -> 1, "delete" -> 2, "exists" -> 9,
      "getFileStatus" -> 7, "listStatus" -> 5, "mkdirs" -> 1, "rename" -> 3),
    "IdCache.resolve warm" -> Map("exists" -> 4, "getFileStatus" -> 1,
      "listStatus" -> 1),
    "IdCache.compact" -> Map("create" -> 1, "delete" -> 3, "exists" -> 9,
      "getFileStatus" -> 3, "listStatus" -> 3, "mkdirs" -> 1, "rename" -> 3),
    "ParquetSink.compact" -> Map("create" -> 1, "delete" -> 5, "exists" -> 4,
      "getFileStatus" -> 3, "listStatus" -> 5, "mkdirs" -> 1, "open" -> 1,
      "rename" -> 3))

  private def check(name: String)(body: => Unit): Unit = {
    val seen = CountingFs.during(body)
    info(s"$name: " +
      seen.toSeq.sorted.map { case (op, n) => s"$op=$n" }.mkString(" "))
    val bound = Bounds(name)
    val over = seen.collect {
      case (op, n) if n > bound.getOrElse(op, 0L) =>
        s"$op=$n (bound ${bound.getOrElse(op, 0L)})"
    }
    assert(over.isEmpty, s"$name exceeds its FS-operation budget: " +
      over.toSeq.sorted.mkString(", "))
  }

  private def pairs(kv: (String, String)*): DataFrame = {
    import spark.implicits._
    kv.toDF("key", "resolved_id")
  }

  private def docs(keys: String*): DataFrame = {
    import spark.implicits._
    keys.map((_, "{}")).toDF("key", "resource_json")
  }

  /** A fetch that knows every key (resolved id = "id-" + key). */
  private val fetchAll: DataFrame => DataFrame = miss => {
    import spark.implicits._
    miss.collect().map(r => (r.getString(0), "id-" + r.getString(0))).toSeq
      .toDF("key", "resolved_id")
  }

  test("writeObserved on three rows") {
    import spark.implicits._
    val ok = Seq(("K1", "Patient", "{}"), ("K2", "Patient", "{}"),
      ("K3", "Group", "{}")).toDF("key", "resource_type", "resource_json")
    val out = CountingFs.freshDir("graft_fsops_cli") + "/out"
    check("writeObserved") { graft.Cli.writeObserved(ok, out) }
  }

  test("writeObserved over a published output") {
    import spark.implicits._
    val ok = Seq(("K1", "Patient", "{}"), ("K2", "Patient", "{}"),
      ("K3", "Group", "{}")).toDF("key", "resource_type", "resource_json")
    val out = CountingFs.freshDir("graft_fsops_cli") + "/out"
    graft.Cli.writeObserved(ok, out)
    check("writeObserved republish") { graft.Cli.writeObserved(ok, out) }
  }

  test("IdCache.read on a present and on a missing store") {
    val cache = new IdCache(spark, CountingFs.freshDir("graft_fsops_idc"))
    cache.append("patient", pairs("A" -> "id-a", "B" -> "id-b"))
    check("IdCache.read present") { cache.read("patient") }
    check("IdCache.read missing") { cache.read("specimen") }
  }

  test("IdCache.resolve cold and warm") {
    val cache = new IdCache(spark, CountingFs.freshDir("graft_fsops_idc"))
    check("IdCache.resolve cold") {
      cache.resolve("patient", docs("A", "B", "C"), fetchAll)
    }
    check("IdCache.resolve warm") {
      cache.resolve("patient", docs("A", "B", "C"), fetchAll)
    }
  }

  test("IdCache.compact") {
    val cache = new IdCache(spark, CountingFs.freshDir("graft_fsops_idc"))
    cache.append("patient", pairs("A" -> "id-a", "B" -> "id-b"))
    cache.append("patient", pairs("B" -> "id-b", "C" -> "id-c"))
    check("IdCache.compact") { cache.compact("patient") }
  }

  test("ParquetSink.compact on a small flat dataset") {
    import spark.implicits._
    val path = CountingFs.freshDir("graft_fsops_psink") + "/t"
    (1 to 40).map(i => (i.toLong, s"v$i")).toDF("id", "v")
      .repartition(4).write.parquet(path)
    check("ParquetSink.compact") { ParquetSink.compact(spark, path) }
  }
}
