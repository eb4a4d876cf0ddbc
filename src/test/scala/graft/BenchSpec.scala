package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's stdout contract: the last line is a compact summary that
  * parses from a ~2 KB tail of stdout, and the full record's file is
  * named by (sf, cpus).
  */
class BenchSpec extends AnyFunSuite {

  test("the summary line is under 1.5 KB and carries the headline fields") {
    val record = "/data/bench/" + "r" * 200 + "/bench_last_sf0.1_c32.json"
    val line = Bench.summaryLine(198.01234567, 150.4, 2, "/data/testdata/sf0.1",
      32, 1760000000000L, Some(record))
    assert(!line.contains("\n"))
    assert(line.getBytes("UTF-8").length < 1536, s"${line.length} bytes")
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    assert(node.get("total_s").asDouble() == 198.0123)
    assert(node.get("total_normalized_s").asDouble() == 150.4)
    assert(node.get("n_errors").asInt() == 2)
    assert(node.get("sf").asText() == "/data/testdata/sf0.1")
    assert(node.get("cpus").isInt && node.get("cpus").asInt() == 32)
    assert(node.get("sweep_ts").asLong() == 1760000000000L)
    assert(node.get("record").asText() == record)
    assert(Bench.summaryLine(1, 1, 0, "sf", 4, 0L, None).contains("\"record\":null"))
  }

  test("the default record is named by the data directory and cpus") {
    assert(Bench.defaultRecord("/data/testdata/sf0.1", 32) == "bench_last_sf0.1_c32.json")
    assert(Bench.defaultRecord("/data/testdata/sf0.1/", 8) == "bench_last_sf0.1_c8.json")
  }
}
