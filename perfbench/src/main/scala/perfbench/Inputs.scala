package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.KfShaped

/** The benchmark's inputs. A TPC-H-shaped star schema is generated from a
  * fixed data seed at a scale factor, then turned into one
  * `<endpoint>.parquet` per KF Dataservice endpoint (plus `indexd.parquet`)
  * through [[graft.queries.KfShaped]]. The program under test reads only
  * those endpoint files.
  */
object Inputs {

  /** Fixed, so that the pinned output digests stay valid; the workload
    * seed picks studies and the fetch stub's salt, not the data.
    */
  val DataSeed = 42L

  val Studies: Seq[String] = (0 until 5).map(r => s"SD_$r")

  /** The sequencing-center names `kf_full_pipeline` passes. */
  val CenterNames = Map("SC_1" -> "Center One", "SC_2" -> "Center Two")

  final case class Dirs(tpch: String, endpoints: String) {
    def indexd: String = s"$endpoints/indexd.parquet"
  }

  def dirs(root: String): Dirs = Dirs(s"$root/tpch", s"$root/endpoints")

  /** Uniform integer in [0, n) from the seed, a per-column tag and a row id. */
  private def draw(tag: String, id: Column, n: Long): Column =
    pmod(xxhash64(lit(DataSeed), lit(tag), id), lit(n))

  private def pick(tag: String, id: Column, values: Seq[String]): Column =
    element_at(typedLit(values), (draw(tag, id, values.size.toLong) + 1).cast("int"))

  /** TPC-H-shaped tables with the columns and types KfShaped reads:
    * 5 regions, 25 nations (nation n in region n mod 5), 150k·sf
    * customers spread evenly over the nations, 10 orders per customer and
    * one to seven line items per order.
    */
  def tpch(spark: SparkSession, sf: Double): Map[String, DataFrame] = {
    val nCust = math.max(50L, math.round(150000 * sf))
    val nOrders = nCust * 10
    val nSupp = math.max(10L, math.round(10000 * sf))
    val nPart = math.max(200L, math.round(200000 * sf))
    val regionNames = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    val region = spark.range(5).select(
      col("id").cast("int").as("r_regionkey"),
      element_at(typedLit(regionNames), (col("id") + 1).cast("int")).as("r_name"))
    val nation = spark.range(25).select(
      col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey"))
    val customer = spark.range(nCust).select(
      col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      // round-robin, so every study holds the same share of participants
      (col("id") % 25).cast("int").as("c_nationkey"),
      pick("c_mktsegment", col("id"),
        Seq("BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"))
        .as("c_mktsegment"))
    val orders = spark.range(nOrders).select(
      col("id").as("o_orderkey"),
      (col("id") % nCust).as("o_custkey"),
      pick("o_orderstatus", col("id"), Seq("F", "O", "P")).as("o_orderstatus"),
      pick("o_orderpriority", col("id"),
        Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .as("o_orderpriority"))
    // one to seven lines per order; (order, line number) is the key, as
    // kf_id is the primary key of every Dataservice endpoint
    val lineitem = orders.select(col("o_orderkey").as("l_orderkey"),
        explode(sequence(lit(1), (draw("l_lines", col("o_orderkey"), 7) + 1).cast("int")))
          .as("l_linenumber"))
      .withColumn("id", col("l_orderkey") * 8 + col("l_linenumber"))
      .select(
        col("l_orderkey"),
        draw("l_partkey", col("id"), nPart).as("l_partkey"),
        draw("l_suppkey", col("id"), nSupp).as("l_suppkey"),
        col("l_linenumber"),
        (draw("l_quantity", col("id"), 50) + 1).cast("double").as("l_quantity"),
        (draw("l_extendedprice", col("id"), 10000000) / 100.0).as("l_extendedprice"))
    val supplier = spark.range(nSupp).select(
      col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"))
    Map("region" -> region, "nation" -> nation, "customer" -> customer,
      "orders" -> orders, "lineitem" -> lineitem, "supplier" -> supplier)
  }

  /** The endpoint whose presence enables each builder (the reference's
    * `if <endpoint> is not None` blocks).
    */
  val EnabledBy: Map[String, String] = Map(
    "research_study" -> "studies",
    "practitioner" -> "investigators", "organization" -> "investigators",
    "practitioner_role" -> "investigators",
    "patient" -> "participants", "proband_status" -> "participants",
    "research_subject" -> "participants",
    "family" -> "families", "family_relationship" -> "family-relationships",
    "disease" -> "diagnoses", "phenotype" -> "phenotypes", "vital_status" -> "outcomes",
    "sequencing_center" -> "biospecimens", "specimen" -> "biospecimens",
    "histopathology" -> "biospecimen-diagnoses",
    "drs_document_reference" -> "genomic-files")

  /** Writes the TPC-H tables, every endpoint file, the Indexd dimension,
    * and `inputs.json`: rows per endpoint and the oracle's expected
    * resources per builder for all studies and for each single study.
    */
  def generate(spark: SparkSession, sf: Double, root: String): Unit = {
    val d = dirs(root)
    tpch(spark, sf).foreach { case (name, df) =>
      df.write.mode("overwrite").parquet(s"${d.tpch}/$name.parquet")
    }
    KfShaped.endpoints(spark, d.tpch).foreach { case (name, df) =>
      df.write.mode("overwrite").parquet(s"${d.endpoints}/$name.parquet")
    }
    KfShaped.indexd(spark, d.tpch).write.mode("overwrite").parquet(d.indexd)
    val rows = graft.Cli.EndpointNames.map(n =>
      n -> spark.read.parquet(s"${d.endpoints}/$n.parquet").count()).toMap
    val expected = (("all" -> Studies) +: Studies.map(s => s -> Seq(s))).map {
      case (name, studies) => name -> expectedCounts(spark, d, studies)
    }.toMap
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$root/inputs.json"),
      Json.encode(Map("scale" -> sf, "endpoint_rows" -> rows, "expected" -> expected))
        .getBytes("UTF-8"))
  }

  /** What [[generate]] recorded next to the inputs. */
  final case class Meta(endpointRows: Map[String, Long],
      expected: Map[String, Map[String, Long]])

  def meta(root: String): Meta = {
    import scala.jdk.CollectionConverters._
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(new java.io.File(s"$root/inputs.json"), classOf[java.util.Map[String, Object]])
    def longs(x: Object): Map[String, Long] =
      x.asInstanceOf[java.util.Map[String, Object]].asScala.toMap
        .map { case (k, v) => k -> v.asInstanceOf[Number].longValue }
    Meta(longs(m.get("endpoint_rows")),
      m.get("expected").asInstanceOf[java.util.Map[String, Object]].asScala.toMap
        .map { case (k, v) => k -> longs(v) })
  }

  /** A run's own copy of the chosen endpoint files (absent files are
    * absent endpoints to the program) and of the Indexd dimension.
    */
  def materialize(spark: SparkSession, from: String, root: String,
      endpoints: Seq[String]): Dirs = {
    val (src, dst) = (dirs(from), dirs(root))
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(conf)
    def copy(a: String, b: String): Unit = require(org.apache.hadoop.fs.FileUtil.copy(
      fs, new org.apache.hadoop.fs.Path(a), fs, new org.apache.hadoop.fs.Path(b), false, conf),
      s"could not copy $a")
    endpoints.foreach(e => copy(s"${src.endpoints}/$e.parquet", s"${dst.endpoints}/$e.parquet"))
    copy(src.indexd, dst.indexd)
    dst
  }

  /** Resources each builder must publish for the chosen studies, derived
    * straight from the TPC-H tables: the `kf_counts_by_type` oracle with
    * every count restricted to the studies' descendants.
    */
  def expectedCounts(spark: SparkSession, dirs: Dirs, studies: Seq[String]): Map[String, Long] = {
    def t(name: String) = spark.read.parquet(s"${dirs.tpch}/$name.parquet")
    val regions = studies.map(_.stripPrefix("SD_").toInt)
    val inStudy = t("customer").join(t("nation"), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_nationkey"),
        col("n_regionkey").isin(regions: _*).as("in_study"))
      .cache()
    val cust = inStudy.where(col("in_study"))
    val orders = t("orders").join(cust.select(col("c_custkey").as("o_custkey")), "o_custkey")
    val lines = t("lineitem").join(orders.select(col("o_orderkey").as("l_orderkey")), "l_orderkey")
    // a relationship belongs to a study when either member does; member
    // two of relationship c is customer c - 1
    val members = inStudy.select(col("c_custkey"), col("in_study"))
    val relationships = members.where(col("c_custkey") % 2 === 1).as("a")
      .join(members.as("b"), col("b.c_custkey") === col("a.c_custkey") - 1, "left")
      .where(col("a.in_study") || coalesce(col("b.in_study"), lit(false)))
    def n(df: DataFrame): Long = df.count()
    val nStudies = studies.distinct.size.toLong
    val nCust = n(cust)
    val nSpecimens = n(lines.select("l_orderkey", "l_linenumber").distinct())
    val counts = Map(
      "practitioner" -> nStudies,
      "organization" -> nStudies,
      "practitioner_role" -> nStudies,
      "research_study" -> nStudies,
      "patient" -> nCust,
      "proband_status" -> nCust,
      "research_subject" -> nCust,
      "family" -> n(cust.select("c_nationkey").distinct()),
      "family_relationship" -> n(relationships),
      "disease" -> n(orders),
      "phenotype" -> n(orders.where(col("o_orderkey") % 3 === 0)),
      "vital_status" -> n(orders.where(col("o_orderkey") % 7 === 0)),
      "sequencing_center" -> n(lines.select("l_suppkey").distinct()),
      "specimen" -> nSpecimens,
      "histopathology" -> nSpecimens,
      "drs_document_reference" ->
        n(lines.select("l_orderkey", "l_linenumber", "l_suppkey").distinct()))
    inStudy.unpersist()
    counts
  }
}
