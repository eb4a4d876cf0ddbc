package graft

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

/** The one dev probe, `graft.Probe`: its JSON lines, its law table, a
  * small run of the volume and purge modes, and a source gate that keeps
  * dev mains from growing back.
  */
class ProbeSpec extends AnyFunSuite {

  private lazy val spark = graft.etl.SparkTestSession.spark
  private val srcDir = "/root/testdata/sf0.001"

  private val mapper = new ObjectMapper()
    .enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)
  private def parse(line: String): JsonNode = mapper.readTree(line)

  /** The 88 `headline` queries the volume probe has always covered. */
  private val headline = Seq(
    "kf_full_pipeline", "d6_dedup_corpus", "d2b_neardup_pairs",
    "d7_simhash_pairs", "d8_dup_spans", "x5_token_freq", "x15_bigram_counts",
    "x8_decontaminate", "x9_pack_sequences", "x14_domain_cap",
    "c1_corpus_curation", "n6_kmeans_fit", "j_outer_chain", "j14_asof_join",
    "tw_timebound_join", "x17_epoch_shuffle", "x19_token_chunks",
    "m2_multimodal_decode", "m3_frame_sample", "x21_bloom_decontaminate",
    "tw_timebound_full_join", "st_type_counts", "st_last_events",
    "st_session_timeout", "x9b_pack_bpe", "m6_resize", "st_warm_start",
    "x23_bpe_token_freq", "m6b_resize_bilinear", "m7_video_resize",
    "m8_audio_resample", "x25_lm_score", "x26_dsir_score", "n8_sq_quantize",
    "x27_sliding_chunks", "tw_timebound_semi_join", "x29_leakage_free_splits",
    "g2_sessionize", "j19_scd2_merge", "d10_edit_distance_join",
    "g3_locf_fill", "a16_mad_outliers", "g5_triangle_count", "g6_funnel",
    "g7_retention", "g8_transitions", "x30_bm25_retrieval", "g9_session_paths",
    "g10_streaks", "g11_ewma", "g12_interpolate", "g13_cooccurrence",
    "g14_twap", "g15_peak_concurrency", "j18_bloom_pruned_join",
    "n9_binary_quantize", "x28_pmi_collocations", "j20_cdc_apply",
    "g16_interval_union", "g17_bfs_hops", "a17_hll_rollup", "x33_rrf_fusion",
    "g18_attribution", "a18_equidepth_bins", "n10_mmr_rerank", "st_cdc_latest",
    "x34_k_anonymity", "p9_column_profile", "j21_table_diff",
    "j22_incremental_agg", "a19_auc", "a20_pr_thresholds",
    "g19_personalized_pagerank", "a21_hll_intersect", "x31_bpe_train",
    "tw_windowed_topk", "st_windowed_topk", "m9_png_decode", "m10_png_resize",
    "x35_html_extract", "c2_incremental_curation", "m11_image_neardup",
    "x36_incremental_bm25", "m12_incremental_image_neardup",
    "n11_incremental_semdedup", "n12_incremental_ivf", "n14_ivf_tombstones",
    "m15_image_tombstones")

  test("a line is valid JSON under a comma-decimal locale, any string escaped") {
    val nasty = "boom\n\"quoted\" C:\\dir\ttab\u0001end"
    val saved = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.GERMANY)
    val lines = ArrayBuffer.empty[String]
    try {
      lines += Probe.json("probe" -> "volume", "src" -> nasty, "sec" -> 1.23,
        "rows" -> 3L, "ok" -> true)
      assert(!Probe.item(lines += _, "query" -> "q")(throw new IllegalStateException(nasty)))
    } finally java.util.Locale.setDefault(saved)
    assert(lines.size == 2 && lines.forall(!_.contains("\n")), lines)
    val Seq(head, err) = lines.map(parse).toSeq
    assert(head.get("src").asText == nasty)
    assert(head.get("sec").isNumber && head.get("sec").asDouble == 1.23, lines.head)
    assert(err.get("error").asText.endsWith(nasty) && !err.get("ok").asBoolean)
  }

  test("volume and purge at x2: every line reports ok") {
    def run(args: String*): Seq[JsonNode] = {
      val work = java.nio.file.Files.createTempDirectory("graft_probe").toString
      val lines = ArrayBuffer.empty[String]
      val failed = Probe.run(spark, Probe.parse(args.take(1) ++ Seq(srcDir, work) ++
        args.drop(1)), lines += _)
      val json = lines.map(parse).toSeq
      assert(failed == 0, lines.mkString("\n"))
      assert(json.last.get("failed").asInt == 0, lines.mkString("\n"))
      json.init.tail
    }
    // one query each for the exact, ranked-content and bijection laws
    val volume = run("volume", "2", "j14_asof_join", "x5_token_freq", "x17_epoch_shuffle")
    assert(volume.map(_.get("query").asText) ==
      Seq("j14_asof_join", "x5_token_freq", "x17_epoch_shuffle"))
    assert(volume.map(_.get("scaling").asText).distinct.size == 3)
    val purge = run("purge", "2")
    for (l <- volume ++ purge) assert(l.get("ok").asBoolean, l)
    assert(purge.head.get("equal").asBoolean && purge.head.get("rows").asInt > 0)
  }

  test("the law table covers the 88 headline queries, each a battery query") {
    val names = Probe.laws.map(_._1)
    assert(names.distinct.size == names.size)
    assert(names.sorted == headline.sorted)
    assert(headline.size == 88)
    assert(names.filterNot(SparkEntry.queries.contains).isEmpty)
  }

  test("an unknown mode or query name is rejected, naming the valid ones") {
    def rejected(args: String*): String =
      intercept[IllegalArgumentException](Probe.parse(args)).getMessage
    assert(rejected("sweep", "a", "b").contains("volume, purge, composed, jobs"))
    val m = rejected("volume", "a", "b", "2", "x5_token_freq", "no_such_query")
    assert(m.contains("no_such_query") && m.contains("g19_personalized_pagerank"), m)
    val j = rejected("jobs", "a", "b", "no_such_query")
    assert(j.contains("no_such_query") && j.contains("kf_full_pipeline"), j)
    assert(rejected("purge", "a", "b", "x5_token_freq").contains("x5_token_freq"))
    assert(rejected("volume", "a").contains("usage"))
    assert(Probe.parse(Seq("volume", "a", "b")) == Probe.Args("volume", "a", "b", 10, Nil))
  }

  test("only Cli, Verify, Bench and Probe define a main in src/main") {
    val root = java.nio.file.Paths.get(sys.props("user.dir"), "src", "main")
    assert(java.nio.file.Files.isDirectory(root), s"no source tree at $root")
    val walk = java.nio.file.Files.walk(root)
    val sources =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).map(f =>
        f.getFileName.toString -> new String(java.nio.file.Files.readAllBytes(f), "UTF-8")).toList
      finally walk.close()
    val mains = sources.filter(s => "\\bdef\\s+main\\s*\\(".r.findFirstIn(s._2).isDefined).map(_._1)
    assert(mains.sorted == List("Bench.scala", "Cli.scala", "Probe.scala", "Verify.scala"))
    val knob = "SPARK_GRAFT_" + "PROBE_ONLY"
    assert(sources.filter(_._2.contains(knob)).map(_._1).isEmpty)
  }
}
