package perfbench

import org.scalatest.funsuite.AnyFunSuite

class GateSpec extends AnyFunSuite {

  private lazy val spark = TestSession.spark

  private val rows = Seq(
    ("PT_1", "Patient", "specimen", """{"resourceType":"Patient","id":"a"}"""),
    ("PT_2", "Patient", "specimen", """{"resourceType":"Patient","id":"b"}"""),
    ("BS_1", "Specimen", "specimen", """{"resourceType":"Specimen","id":"c"}"""),
    ("DG_1", "Condition", "disease", """{"resourceType":"Condition","id":"d"}"""))

  private def frame(rs: Seq[(String, String, String, String)]) = {
    import spark.implicits._
    rs.toDF("key", "resource_type", "builder", "resource_json")
  }

  private val expected = Map("specimen" -> 3L, "disease" -> 1L)

  test("the digest ignores row order and partitioning") {
    val a = Gate.digest(frame(rows))
    assert(a.startsWith("4:"))
    assert(Gate.digest(frame(rows.reverse).repartition(3)) == a)
  }

  test("a correct output passes") {
    val pinned = Gate.digest(frame(rows))
    assert(Gate.checkEtl(frame(rows), expected, Some(pinned)) == (4L, pinned, Nil))
  }

  test("an output with one row dropped fails on counts and digest") {
    val pinned = Gate.digest(frame(rows))
    val (n, _, problems) = Gate.checkEtl(frame(rows.tail), expected, Some(pinned))
    assert(n == 3)
    assert(problems.exists(_.contains("builder specimen: 2 resources, expected 3")))
    assert(problems.exists(_.startsWith("digest 3:")))
  }

  test("an output with one JSON byte changed fails on the digest alone") {
    val pinned = Gate.digest(frame(rows))
    val changed = rows.updated(2, rows(2).copy(_4 = rows(2)._4.replace("\"c\"", "\"C\"")))
    val (_, _, problems) = Gate.checkEtl(frame(changed), expected, Some(pinned))
    assert(problems.size == 1 && problems.head.startsWith("digest 4:"))
  }

  test("a duplicated row is caught even when counts are not pinned per row") {
    val pinned = Gate.digest(frame(rows))
    val swapped = rows.updated(0, rows(1))
    assert(Gate.digest(frame(swapped)) != pinned)
  }

  test("count comparison names missing and unexpected builders") {
    assert(Gate.compareCounts("builder", Map("a" -> 1L, "b" -> 2L), Map("a" -> 1L, "c" -> 3L)) ==
      Seq("builder b: 2 resources, expected 0", "builder c: 0 resources, expected 3"))
  }
}
