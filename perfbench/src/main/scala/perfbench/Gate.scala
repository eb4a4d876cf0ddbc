package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The correctness gate every timed run passes through. A check returns
  * the problems it found; an empty list is a pass.
  */
object Gate {

  /** Order-independent digest of (key, resource_type, resource_json): the
    * row count and two exact sums of 60-bit slices of each row's SHA-256.
    * Dropping, duplicating or changing a single byte of a row moves it.
    */
  def digest(df: DataFrame): String =
    digestBy(df.withColumn("__all", lit("")), "__all").values.headOption
      .map(_.toString).getOrElse("0:0:0")

  /** The digest of each group, in one Spark job. */
  def digestBy(df: DataFrame, group: String): Map[String, Digest] = {
    val field = (c: String) => coalesce(col(c), lit("\u0000"))
    val h = sha2(concat_ws("\u0001", field("key"), field("resource_type"),
      field("resource_json")), 256)
    def lane(from: Int): Column =
      conv(substring(h, from, 15), 16, 10).cast("decimal(38,0)")
    df.groupBy(col(group)).agg(count(lit(1)), sum(lane(1)), sum(lane(16))).collect()
      .map(r => r.getString(0) -> Digest(r.getLong(1), BigInt(r.getDecimal(2).toBigInteger),
        BigInt(r.getDecimal(3).toBigInteger)))
      .toMap
  }

  final case class Digest(rows: Long, lane1: BigInt, lane2: BigInt) {
    def +(o: Digest): Digest = Digest(rows + o.rows, lane1 + o.lane1, lane2 + o.lane2)
    override def toString: String = s"$rows:$lane1:$lane2"
  }

  def compareCounts(what: String, actual: Map[String, Long],
      expected: Map[String, Long]): Seq[String] =
    (actual.keySet ++ expected.keySet).toSeq.sorted.flatMap { b =>
      val (a, e) = (actual.getOrElse(b, 0L), expected.getOrElse(b, 0L))
      if (a == e) None else Some(s"$what $b: $a resources, expected $e")
    }

  /** ETL output: counts per builder against the oracle, and the digest
    * against the pinned value when there is one. Returns the resources,
    * the digest and the problems.
    */
  def checkEtl(out: DataFrame, expected: Map[String, Long],
      pinned: Option[String]): (Long, String, Seq[String]) = {
    val byBuilder = digestBy(out, "builder")
    val counts = byBuilder.map { case (b, d) => b -> d.rows }
    val countProblems = compareCounts("builder", counts, expected)
    val got = byBuilder.values.foldLeft(Digest(0, 0, 0))(_ + _).toString
    val digestProblems = pinned.toSeq.flatMap { want =>
      if (got == want) None else Some(s"digest $got, pinned $want")
    }
    (counts.values.sum, got, countProblems ++ digestProblems)
  }
}
