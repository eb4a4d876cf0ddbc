package graft.sinks

import java.lang.reflect.{InvocationHandler, Method, Proxy}
import java.sql.{Connection, PreparedStatement}

import org.scalatest.funsuite.AnyFunSuite

import graft.etl.SparkTestSession

/** Records every JDBC call through reflective proxies so the
  * foreachPartition upsert path is testable without a live database.
  * Static (object-level) state: executors share the JVM in local mode.
  */
object RecordingJdbc {
  val events = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  def connection(): Connection = {
    val psHandler = new InvocationHandler {
      private val current = new Array[String](3)
      override def invoke(p: Any, m: Method, args: Array[AnyRef]): AnyRef =
        m.getName match {
          case "setString" =>
            current(args(0).asInstanceOf[Integer] - 1) = args(1).asInstanceOf[String]
            null
          case "addBatch" => events.add(s"row:${current.mkString("|")}"); null
          case "executeBatch" => events.add("executeBatch"); Array.empty[Int]
          case _ => null
        }
    }
    val ps = Proxy.newProxyInstance(getClass.getClassLoader,
      Array(classOf[PreparedStatement]), psHandler).asInstanceOf[PreparedStatement]
    val connHandler = new InvocationHandler {
      override def invoke(p: Any, m: Method, args: Array[AnyRef]): AnyRef =
        m.getName match {
          case "prepareStatement" => ps
          case "commit" => events.add("commit"); null
          case "setAutoCommit" => events.add(s"autocommit:${args(0)}"); null
          case _ => null
        }
    }
    Proxy.newProxyInstance(getClass.getClassLoader,
      Array(classOf[Connection]), connHandler).asInstanceOf[Connection]
  }
}

class JdbcUpsertSinkSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.spark

  test("upsert batches, commits per flush, and dedups conflict keys") {
    import spark.implicits._
    val input = Seq(
      ("K1", "Patient", "{\"a\":1}"),
      ("K2", "Patient", "{\"a\":2}"),
      ("K2", "Patient", "{\"a\":2-dup}"), // same conflict key: must collapse
      ("K3", "Specimen", "{\"a\":3}"),
      ("K4", "Specimen", "{\"a\":4}"))
    // the kept K2 row is the greatest resource_json, in either input order
    for (ordered <- Seq(input, input.reverse)) {
      RecordingJdbc.events.clear()
      val docs = ordered.toDF("key", "resource_type", "resource_json")
      JdbcUpsertSink.upsert(docs,
        JdbcUpsertSink.Config(url = "jdbc:fake", table = "t", batchSize = 2),
        connect = _ => RecordingJdbc.connection())
      val ev = RecordingJdbc.events.toArray(Array.empty[String]).toSeq
      val rows = ev.filter(_.startsWith("row:"))
      assert(rows.size == 4, s"expected 4 deduped rows, got $rows")
      assert(rows.map(_.split("\\|")(0)).distinct.size == 4,
        "duplicate conflict key reached the batch")
      assert(rows.filter(_.startsWith("row:K2|")) ==
        Seq("row:K2|Patient|{\"a\":2}"),
        s"K2 must keep its greatest resource_json, got $rows")
      val flushes = ev.count(_ == "executeBatch")
      assert(flushes >= 1)
      assert(ev.count(_ == "commit") == flushes,
        "every executeBatch must be followed by exactly one commit")
      assert(ev.contains("autocommit:false"))
    }
  }

  test("upsert statement is a keyed ON CONFLICT upsert over all non-key columns") {
    val sql = JdbcUpsertSink.upsertSql("fhir_resources", "key",
      Seq("key", "resource_type", "resource_json"))
    assert(sql ==
      "INSERT INTO fhir_resources (key, resource_type, resource_json) " +
        "VALUES (?, ?, ?) " +
        "ON CONFLICT (key) DO UPDATE SET " +
        "resource_type = EXCLUDED.resource_type, " +
        "resource_json = EXCLUDED.resource_json")
  }

  test("live embedded-Derby round trip: upsert is executable and idempotent") {
    import spark.implicits._
    // Derby ships in /opt/spark/jars; in-memory DB shared across the
    // local-mode executor threads, so foreachPartition connections all
    // see one database — a real (driver, network-free) S7b round trip.
    Class.forName("org.apache.derby.iapi.jdbc.AutoloadedDriver")
    val url = "jdbc:derby:memory:upserttest;create=true"
    val setup = java.sql.DriverManager.getConnection(url)
    setup.createStatement().execute(
      """CREATE TABLE resources ("key" VARCHAR(64) PRIMARY KEY,
        |  "resource_type" VARCHAR(32), "resource_json" VARCHAR(4096))""".stripMargin)
    setup.close()
    val cfg = JdbcUpsertSink.Config(url = url, table = "resources",
      batchSize = 2, dialect = JdbcUpsertSink.AnsiMergeDialect)

    def dump(): Map[String, (String, String)] = {
      val c = java.sql.DriverManager.getConnection(url)
      try {
        val rs = c.createStatement().executeQuery(
          """SELECT "key", "resource_type", "resource_json" FROM resources""")
        val b = Map.newBuilder[String, (String, String)]
        while (rs.next()) b += rs.getString(1) -> (rs.getString(2), rs.getString(3))
        b.result()
      } finally c.close()
    }

    val first = Seq(
      ("K1", "Patient", "{\"v\":1}"),
      ("K2", "Patient", "{\"v\":2}"),
      ("K3", "Specimen", "{\"v\":3}"))
      .toDF("key", "resource_type", "resource_json").repartition(2)
    JdbcUpsertSink.upsert(first, cfg)
    assert(dump() == Map(
      "K1" -> ("Patient", "{\"v\":1}"),
      "K2" -> ("Patient", "{\"v\":2}"),
      "K3" -> ("Specimen", "{\"v\":3}")))

    // second run: K2 changed, K4 new, K1/K3 identical — a re-run must
    // update in place without key conflicts or duplicate rows
    val second = Seq(
      ("K1", "Patient", "{\"v\":1}"),
      ("K2", "Patient", "{\"v\":2,\"rev\":2}"),
      ("K3", "Specimen", "{\"v\":3}"),
      ("K4", "Specimen", "{\"v\":4}"))
      .toDF("key", "resource_type", "resource_json").repartition(2)
    JdbcUpsertSink.upsert(second, cfg)
    assert(dump() == Map(
      "K1" -> ("Patient", "{\"v\":1}"),
      "K2" -> ("Patient", "{\"v\":2,\"rev\":2}"),
      "K3" -> ("Specimen", "{\"v\":3}"),
      "K4" -> ("Specimen", "{\"v\":4}")))
  }

  test("upsertSql reports the statement for the requested dialect") {
    val merge = JdbcUpsertSink.upsertSql("t", "key",
      Seq("key", "resource_type", "resource_json"),
      dialect = JdbcUpsertSink.AnsiMergeDialect)
    assert(merge.startsWith("MERGE INTO t "))
    assert(merge.contains("SYSIBM.SYSDUMMY1"))
    // bind order: key (ON), 2 non-key (UPDATE SET), 3 (INSERT VALUES)
    assert(JdbcUpsertSink.AnsiMergeDialect
      .paramOrder("key", Seq("key", "resource_type", "resource_json"))
      == Seq(0, 1, 2, 0, 1, 2))
  }

  test("key column must be present") {
    intercept[IllegalArgumentException] {
      JdbcUpsertSink.upsertSql("t", "missing", Seq("a", "b"))
    }
  }

  test("key-only column list is rejected (empty DO UPDATE SET is invalid SQL)") {
    intercept[IllegalArgumentException] {
      JdbcUpsertSink.upsertSql("t", "key", Seq("key"))
    }
  }
}
