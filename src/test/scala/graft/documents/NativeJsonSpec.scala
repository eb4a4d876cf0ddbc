package graft.documents

import org.apache.spark.sql.{DataFrame, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.StructsToJson
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{NullType, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.SparkTestSession

/** Differential proof that [[graft.functions.StructToJsonNative]] is
  * byte-identical to the built-in `to_json` it replaced on the kf
  * serialization path: the SAME logical plan is executed twice — once
  * as built (native) and once with every native node rewritten back to
  * `StructsToJson` — and every produced string must match exactly.
  * Covers all 16 builders over the full sf0.001 corpus plus an
  * adversarial escaping/typing fixture.
  */
class NativeJsonSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  private def viaJackson(df: DataFrame): DataFrame = {
    val rewritten = df.queryExecution.analyzed.transformAllExpressions {
      case graft.functions.StructToJsonNative(child) =>
        StructsToJson(Map.empty, child, Some("UTC"))
    }
    GraftColumnBridge.ofRows(spark, rewritten)
  }

  test("full corpus: every builder's resource_json is byte-identical " +
      "to the to_json twin of the same plan") {
    val result = graft.etl.Transform(graft.queries.KfShaped.endpoints(spark, dir))
    val union = graft.etl.Pipeline.buildAllUnion(result,
      indexd = Some(graft.queries.KfShaped.indexd(spark, dir)),
      centerNames = Map("SC_1" -> "Center One", "SC_2" -> "Center Two"))
    // prove the rewrite actually swapped something (i.e. the native
    // expression IS on the executed path, not silently absent)
    val nNative = union.queryExecution.analyzed.collect { case p =>
      p.expressions.map(_.collect {
        case _: graft.functions.StructToJsonNative => 1
      }.size).sum
    }.sum
    assert(nNative >= 16, s"expected >=16 native json nodes, got $nNative")

    def rows(df: DataFrame): Array[(String, String, String, String)] =
      df.select("builder", "resource_type", "key", "resource_json")
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3)))
        .sortBy(t => (t._1, t._2, t._3, t._4))

    val native = rows(union)
    val jackson = rows(viaJackson(union))
    assert(native.length == jackson.length,
      s"row counts differ: native ${native.length} vs jackson ${jackson.length}")
    assert(native.length > 0, "empty corpus would prove nothing")
    native.zip(jackson).zipWithIndex.foreach { case ((n, j), i) =>
      assert(n == j, s"row $i differs:\n  native : $n\n  jackson: $j")
    }
  }

  test("adversarial fixture: escaping, numerics, arrays, nested nulls " +
      "match to_json byte-for-byte") {
    val strings = Seq(
      "plain", "", "with \"quotes\"", "back\\slash", "tab\there",
      "new\nline", "cr\rlf", "bell\u0007", "nul\u0000end", "\u001f",
      "\b\f", "é — ünïcode ✓ \uD83D\uDE00", "slash / not escaped",
      "high \u007f del", null.asInstanceOf[String])
    val nums = Seq(0.0, -0.0, 0.5, 1.0, 1e300, -2.75e-5,
      Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
      Double.MinPositiveValue)
    val df = strings.zipAll(nums, "pad", 42.0).zipWithIndex.map {
      case ((s, d), i) => (s, d, i, i.toLong * Int.MaxValue, i % 2 == 0)
    }.toDF("s", "d", "i", "l", "b")
    val entity = struct(
      col("s").as("str"),
      col("d").as("dbl"),
      col("i").as("int"),
      col("l").as("lng"),
      col("b").as("bool"),
      struct(col("s").as("inner"), col("i").as("n")).as("nested"),
      // all-null nested struct: prints {} under both writers
      struct(lit(null).cast("string").as("x"),
        lit(null).cast("int").as("y")).as("empty"),
      // array with null elements and an empty array
      array(col("s"), lit(null).cast("string"), lit("z")).as("arr"),
      array().cast("array<int>").as("emptyArr"),
      array(struct(col("s").as("v")),
        lit(null).cast("struct<v:string>")).as("structArr"),
      // null field: dropped by both
      when(col("b"), col("s")).as("maybe"))
    val out = df.select(
      FhirJson.entityJson(entity).as("native"),
      to_json(entity).as("jackson"))
    out.collect().zipWithIndex.foreach { case (r, i) =>
      assert(r.getString(0) == r.getString(1),
        s"row $i:\n  native : ${r.getString(0)}\n  jackson: ${r.getString(1)}")
    }
    // null top-level struct yields a null result under both
    val nullTop = df.limit(1).select(
      FhirJson.entityJson(when(lit(false), entity)).as("native"),
      to_json(when(lit(false), entity)).as("jackson")).head
    assert(nullTop.isNullAt(0) && nullTop.isNullAt(1))
  }

  test("NullType: a struct field is dropped and an array<null> element " +
      "prints null, as to_json does") {
    val entity = struct(col("s").as("str"), lit(null).as("void"),
      struct(lit(null).as("inner"), col("s").as("v")).as("nested"),
      array(lit(null), lit(null)).as("nulls"),
      array().as("emptyVoid"),
      array(struct(lit(null).as("n"), col("s").as("v"))).as("structs"))
    val df = Seq("a", "b\"c", null).toDF("s")
    // the leaf really is NullType (else this proves nothing)
    assert(df.select(entity).schema.head.dataType
      .asInstanceOf[StructType]("void").dataType == NullType)
    df.select(FhirJson.entityJson(entity), to_json(entity)).collect()
      .zipWithIndex.foreach { case (r, i) =>
        assert(r.getString(0) == r.getString(1),
          s"row $i:\n  native : ${r.getString(0)}\n  jackson: ${r.getString(1)}")
      }
  }

  test("ignoreNullFields=false fails analysis instead of printing nulls") {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.jsonGenerator.ignoreNullFields", "false")
    val e = intercept[Exception] {
      s2.range(1).select(FhirJson.entityJson(struct(col("id").as("i"))))
    }
    assert(e.getMessage.contains("ignoreNullFields"),
      s"unexpected error: ${e.getMessage}")
  }

  test("unsupported leaf types are rejected at analysis, never " +
      "silently mis-serialized") {
    val df = Seq(1).toDF("i")
    val e = intercept[Exception] {
      df.select(FhirJson.entityJson(struct(current_timestamp().as("ts"))))
        .queryExecution.analyzed
    }
    assert(e.getMessage.contains("struct_to_json_native"),
      s"unexpected error: ${e.getMessage}")
  }
}
