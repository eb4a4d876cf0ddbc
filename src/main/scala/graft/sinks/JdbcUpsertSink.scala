package graft.sinks

import java.sql.{Connection, DriverManager}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, max, struct}

/** The Postgres-sink variant of S7 (SURVEY §2.1): a staged, batched
  * `INSERT … ON CONFLICT (key) DO UPDATE` over `foreachPartition` — the
  * idempotent keyed upsert without per-row HTTP.
  *
  * Scale design: one connection + one PreparedStatement per partition,
  * `addBatch`/`executeBatch` every `batchSize` rows, autocommit off with
  * one commit per batch. Partition-parallel across executors; task
  * retries are safe because the statement is a keyed upsert. Repartition
  * the input to size the connection count (#partitions = #connections —
  * on a 1000-executor cluster, coalesce to what the database can take).
  */
object JdbcUpsertSink {

  /** Upsert statement shape per database family. A dialect provides the
    * SQL text and the bind order (some dialects bind each column once,
    * others — MERGE through a dummy source table — bind a column in
    * more than one parameter slot).
    */
  sealed trait Dialect {
    def upsertSql(table: String, keyCol: String, cols: Seq[String]): String
    /** JDBC parameter slots in position order, as indices into `cols`. */
    def paramOrder(keyCol: String, cols: Seq[String]): Seq[Int]
  }

  /** `INSERT … ON CONFLICT (key) DO UPDATE SET …` (Postgres, CockroachDB,
    * SQLite ≥3.24). One bind per column, in column order.
    */
  case object PostgresDialect extends Dialect {
    def upsertSql(table: String, keyCol: String, cols: Seq[String]): String = {
      requireCols(keyCol, cols)
      val names = cols.mkString(", ")
      val binds = cols.map(_ => "?").mkString(", ")
      val sets = cols.filterNot(_ == keyCol)
        .map(c => s"$c = EXCLUDED.$c").mkString(", ")
      s"INSERT INTO $table ($names) VALUES ($binds) " +
        s"ON CONFLICT ($keyCol) DO UPDATE SET $sets"
    }
    def paramOrder(keyCol: String, cols: Seq[String]): Seq[Int] = cols.indices
  }

  /** ANSI `MERGE INTO … USING SYSIBM.SYSDUMMY1` (Derby, DB2). The dummy
    * one-row source lets a prepared MERGE act as a keyed upsert without
    * VALUES-in-USING support. Identifiers are double-quoted (`key` is a
    * reserved word in these dialects). Binds: key (ON), then the non-key
    * columns (UPDATE SET), then every column (INSERT VALUES).
    */
  case object AnsiMergeDialect extends Dialect {
    private def q(c: String) = "\"" + c + "\""
    def upsertSql(table: String, keyCol: String, cols: Seq[String]): String = {
      requireCols(keyCol, cols)
      val nonKey = cols.filterNot(_ == keyCol)
      val sets = nonKey.map(c => s"${q(c)} = ?").mkString(", ")
      val names = cols.map(q).mkString(", ")
      val binds = cols.map(_ => "?").mkString(", ")
      s"MERGE INTO $table t USING SYSIBM.SYSDUMMY1 s ON t.${q(keyCol)} = ? " +
        s"WHEN MATCHED THEN UPDATE SET $sets " +
        s"WHEN NOT MATCHED THEN INSERT ($names) VALUES ($binds)"
    }
    def paramOrder(keyCol: String, cols: Seq[String]): Seq[Int] = {
      val key = cols.indexOf(keyCol)
      val nonKey = cols.indices.filterNot(_ == key)
      (key +: nonKey) ++ cols.indices
    }
  }

  private def requireCols(keyCol: String, cols: Seq[String]): Unit = {
    require(cols.contains(keyCol), s"key $keyCol must be among $cols")
    require(cols.exists(_ != keyCol),
      "at least one non-key column required (the update set cannot be empty)")
  }

  final case class Config(
      url: String,
      table: String,
      user: String = "",
      password: String = "",
      batchSize: Int = 500,
      // Class.forName'd on the executor before connecting: raw
      // DriverManager can't see drivers shipped via --jars (classloader
      // visibility), so name the driver explicitly in that deployment
      driverClass: Option[String] = None,
      dialect: Dialect = PostgresDialect)

  /** The exact statement submitted per row for a dialect — split out so
    * tests can pin it without a live database.
    */
  def upsertSql(table: String, keyCol: String, cols: Seq[String],
      dialect: Dialect = PostgresDialect): String =
    dialect.upsertSql(table, keyCol, cols)

  /** Upsert (key, resource_type, resource_json) rows. `connect` is
    * injectable for tests; defaults to DriverManager on config.url.
    * Input is de-duplicated by key first: Postgres rejects a statement
    * batch that touches the same conflict key twice ("cannot affect row
    * a second time"), which would make retries fail identically. The
    * row kept per key is the one with the greatest `jsonCol` (then
    * `typeCol`), so a re-run stores the same bytes whatever the input
    * order.
    */
  def upsert(docs: DataFrame, config: Config,
      keyCol: String = "key", typeCol: String = "resource_type",
      jsonCol: String = "resource_json",
      connect: Config => Connection = defaultConnect): Unit = {
    val cols = Seq(keyCol, typeCol, jsonCol)
    val sql = config.dialect.upsertSql(config.table, keyCol, cols)
    val order = config.dialect.paramOrder(keyCol, cols)
    val (batchSize, cfg) = (config.batchSize, config)
    docs.groupBy(col(keyCol))
      .agg(max(struct(col(jsonCol), col(typeCol))).as("pick"))
      .select(col(keyCol), col("pick").getField(typeCol),
        col("pick").getField(jsonCol))
      .foreachPartition {
      (rows: Iterator[org.apache.spark.sql.Row]) =>
        val conn = connect(cfg)
        try {
          conn.setAutoCommit(false)
          val stmt = conn.prepareStatement(sql)
          var inBatch = 0
          rows.foreach { r =>
            order.zipWithIndex.foreach { case (colIdx, p) =>
              stmt.setString(p + 1, r.getString(colIdx))
            }
            stmt.addBatch()
            inBatch += 1
            if (inBatch >= batchSize) {
              stmt.executeBatch(); conn.commit(); inBatch = 0
            }
          }
          if (inBatch > 0) { stmt.executeBatch(); conn.commit() }
          stmt.close()
        } finally conn.close()
    }
  }

  private def defaultConnect(c: Config): Connection = {
    c.driverClass.foreach(Class.forName)
    DriverManager.getConnection(c.url, c.user, c.password)
  }
}
