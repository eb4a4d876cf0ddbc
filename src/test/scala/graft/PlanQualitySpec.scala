package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FormattedMode
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.SparkTestSession

/** Physical-plan regression gates: the properties that make these
  * operators survive a 100× scale-up, asserted on `.explain` output so a
  * refactor that silently loses pushdown / broadcast / narrowness fails
  * CI, not the cluster.
  */
class PlanQualitySpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir)
      .queryExecution.explainString(FormattedMode)

  test("point scan pushes the key predicate into the parquet scan") {
    val p = plan("s1_point_scan")
    assert(p.contains("PushedFilters") && p.contains("EqualTo(o_orderkey,42)"),
      s"predicate not pushed:\n$p")
  }

  test("rename+prune reads only the projected columns from parquet") {
    val p = plan("p2_rename_prune")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_orderkey") && !readSchema.contains("l_comment"),
      s"column pruning lost: $readSchema")
  }

  test("code-system dictionary lookup joins by broadcast, not shuffle") {
    val p = plan("j13_code_lookup")
    assert(p.contains("BroadcastHashJoin"), s"dim join not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"unexpected shuffle join:\n$p")
  }

  test("headline aggregate is a two-phase hash aggregate (map-side partial)") {
    val p = plan("q1_agg")
    assert(p.contains("partial_"), s"no partial aggregation:\n$p")
    assert(p.contains("HashAggregate"), s"not hash-aggregated:\n$p")
  }

  test("minhash signatures are a pure narrow map (zero exchanges)") {
    // the native MinhashSlices expression computes all k minima in one
    // codegen'd pass — no explode, no aggregate, no shuffle
    val p = plan("d2_minhash_bands")
    val exchanges = p.linesIterator.count(_.matches(".*[+:]- Exchange .*"))
    assert(exchanges == 0, s"expected zero exchanges, got $exchanges:\n$p")
    assert(p.contains("minhash_text"), s"native expression not in plan:\n$p")
  }

  test("descendant crawl is all semi-joins (no row widening)") {
    val p = plan("s3_descendant_semijoin")
    assert(p.contains("LeftSemi"), s"crawl not semi-join shaped:\n$p")
  }

  test("whole-stage codegen covers the text-stats scan") {
    val p = plan("x1_text_stats")
    assert(p.contains("codegen id"), s"codegen lost:\n$p")
  }

  test("BPE encode is a pure narrow map (zero exchanges, codegen'd); the " +
      "token histogram partial-aggregates before its one shuffle") {
    val p = plan("x22_bpe_encode")
    val exchanges = p.linesIterator.count(_.matches(".*[+:]- Exchange .*"))
    assert(exchanges == 0, s"per-doc encode must not shuffle, got $exchanges:\n$p")
    assert(p.contains("bpe_count_text") && p.contains("bpe_tokens_text"),
      s"native expressions not in plan:\n$p")
    assert(p.contains("codegen id"), s"codegen lost:\n$p")
    val h = plan("x23_bpe_token_freq")
    assert(h.contains("partial_"),
      s"token histogram must map-side combine before the exchange:\n$h")
  }

  test("exact jaccard join has no cartesian product (prefix-filtered equi-joins only)") {
    val p = plan("d4_ngram_jaccard")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"set-similarity join fell back to a product join:\n$p")
  }

  test("simhash pair search is a banded equi-join — never a product") {
    val p = plan("d7_simhash_pairs")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"Hamming pair search fell back to a product join:\n$p")
  }

  test("as-of join is one window over a union — no join operator, no product") {
    val p = plan("j14_asof_join")
    assert(p.contains("Window"), s"asof lost its window form:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"asof degraded to a product join:\n$p")
  }

  test("range join stays an equi-join on (keys, bucket) — never a nested loop") {
    val p = plan("j15_range_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"range join degraded to a product join:\n$p")
  }

  test("hash sample pushes its predicate to the scan and stays narrow") {
    val p = plan("p8_hash_sample")
    val exchanges = p.linesIterator.count(_.matches(".*[+:]- Exchange .*"))
    assert(exchanges == 0, s"sampling must not shuffle:\n$p")
  }

  test("rare-token stats: partial aggregation below both shuffles, no product") {
    val p = plan("x12_rare_token_score")
    assert(p.contains("partial_count"),
      s"df/doc rollups lost map-side partials:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"token join degraded to a product:\n$p")
  }

  test("stratified sample is a narrow literal-CASE filter (no shuffle, no join)") {
    val p = plan("x11_stratified_sample")
    val exchanges = p.linesIterator.count(_.matches(".*[+:]- Exchange .*"))
    assert(exchanges == 0, s"mixture sampling must not shuffle:\n$p")
    assert(!p.contains("Join"), s"mixture sampling must not join:\n$p")
  }

  test("domain cap shuffles exactly twice — (domain, salt) then domain — no join") {
    val p = plan("x14_domain_cap")
    val exchanges = p.linesIterator.count(_.matches(".*[+:]- Exchange .*"))
    assert(exchanges == 2,
      s"two-phase cap must shuffle once per phase, found $exchanges:\n$p")
    assert(!p.contains("Join"), s"the cap is windows, not joins:\n$p")
    // both ranks must be the early-out RunningWindowFunction form
    // (row_number with a stop-at-k filter), not a full-window sort+agg
    assert(p.linesIterator.count(_.contains("Window")) >= 2,
      s"expected two window phases:\n$p")
  }

  test("bigram counts: narrow pair-building, one count shuffle, top-k sort") {
    val p = plan("x15_bigram_counts")
    val exchanges = p.linesIterator.count(_.matches(".*[+:]- Exchange .*"))
    assert(exchanges == 1,
      s"bigram pairing must stay in the array (one count shuffle), found $exchanges:\n$p")
    assert(p.contains("partial_count"),
      s"bigram count lost map-side partials:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-50 must be TakeOrdered, not a global sort:\n$p")
  }

  test("anti join broadcasts the filter side (no shuffle of the big side)") {
    val p = plan("j17_anti_join")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"anti join not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"unexpected shuffle join:\n$p")
  }

  test("grouping sets run as ONE Expand + aggregate, not unioned scans") {
    val p = plan("a13_grouping_sets")
    assert(p.contains("Expand"), s"grouping sets lost the Expand form:\n$p")
    assert(p.linesIterator.count(_.matches(".*[+:]- Scan parquet.*")) == 1,
      s"grouping sets should scan the input once:\n$p")
  }

  test("date spine gap-fill broadcasts the aggregated side (spine never shuffles)") {
    val p = plan("g1_date_spine")
    assert(p.contains("BroadcastHashJoin"), s"gap-fill join not broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"spine join degraded to a product:\n$p")
  }

  test("sliding windows expand narrowly then aggregate partially (one shuffle)") {
    val p = plan("tw_sliding_window")
    assert(p.contains("Expand"), s"sliding window lost its Expand form:\n$p")
    assert(p.contains("partial_"), s"no map-side partial aggregation:\n$p")
    val exchanges = p.linesIterator.count(_.matches(".*[+:]- Exchange .*"))
    assert(exchanges == 1, s"expected exactly one shuffle, got $exchanges:\n$p")
  }

  test("null-safe join pre-aggregates both sides (no skewed pair fan-out)") {
    // a raw <=> join on a 6-value key is ~90M pairs on one partition at
    // sf0.1; the query must aggregate BEFORE joining so the join meets
    // ~6 rows per side regardless of scale
    val p = plan("j16_nullsafe_join")
    // FormattedMode appends "(n) HashAggregate" detail blocks AFTER the
    // tree — scanning the whole string made this gate vacuous (any plan
    // with 2 aggregates anywhere passed). Restrict to the tree section:
    // the lines before the first blank line.
    val tree = p.linesIterator.takeWhile(_.trim.nonEmpty).toSeq
    val joinLine = tree.indexWhere(l =>
      l.contains("HashJoin") || l.contains("SortMergeJoin"))
    val aggLines = tree.zipWithIndex.collect {
      case (l, i) if l.contains("HashAggregate") => i }
    assert(joinLine >= 0, s"no join in plan:\n$p")
    // the tree is printed top-down: both input aggregates must appear
    // BELOW the join node (larger line index) — i.e. as join children
    assert(aggLines.count(_ > joinLine) >= 2,
      s"join inputs not pre-aggregated (join@$joinLine, aggs@$aggLines):\n$p")
    assert(p.contains("partial_count"), s"no map-side partial count:\n$p")
  }

  test("DRS regroup aggregates each chain side BELOW the final join") {
    // the 7-endpoint slice fans out to bs-paths × seq-links per genomic
    // file (11.9M rows at sf0.1); regroupFromChain must keep both
    // collect_set aggregates UNDER the bs⋈seq join so the shuffles meet
    // table-sized inputs, never the product
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, LogicalPlan}
    val result = graft.etl.Transform(graft.queries.KfShaped.endpoints(spark, dir))
    val optimized = graft.documents.DrsBuilder.regroupFromChain(result)
      .queryExecution.optimizedPlan
    val topJoin = optimized.collectFirst { case j: Join => j }
      .getOrElse(fail("no join in decomposed regroup plan"))
    @annotation.tailrec
    def aggAtTop(p: LogicalPlan): Boolean = p match {
      case _: Aggregate => true
      case u if u.children.sizeIs == 1 => aggAtTop(u.children.head)
      case _ => false
    }
    assert(aggAtTop(topJoin.left) && aggAtTop(topJoin.right),
      s"a regroup side reached the join un-aggregated:\n$optimized")
  }

  test("pure-provenance slice steps join as key-projected distincts") {
    // the specimen slice pulls diagnoses + biospecimen-diagnoses only as
    // key provenance; slice() must fold them distinct'd on their chain
    // keys (two Aggregates in a plan that otherwise has none) so the
    // duplicate-link d^k fan-out never materializes
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    val result = graft.etl.Transform(graft.queries.KfShaped.endpoints(spark, dir))
    val sliced = result.slice(Set("studies", "participants", "biospecimens"))
    val aggs = sliced.queryExecution.optimizedPlan.collect { case a: Aggregate => a }
    assert(aggs.sizeIs >= 2,
      s"provenance steps not distinct'd (aggregates: ${aggs.size})")
  }

  test("content-slice queries never degrade to a cartesian product") {
    // the specimen/DRS slices join builder output against the derived
    // unambiguous-key set, and the DRS chain adds the indexd equi-join;
    // all of it must stay equi-join shaped at any scale
    for (name <- Seq("kf_specimen_slice", "kf_drs_slice",
        "kf_disease_slice", "kf_phenotype_slice")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$name degraded to a product join:\n$p")
    }
  }

  test("SQL entry point gets the same plan quality: pushdown + broadcast dim") {
    val p = plan("q3_sql_topk")
    assert(p.contains("PushedFilters") && p.contains("BUILDING"),
      s"segment predicate not pushed into the scan:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"customer dim not broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k not pushed into a TakeOrdered (full sort would not scale):\n$p")
  }

  // FormattedMode prints each node twice (tree line + detail header);
  // count only the numbered detail headers
  private def nodeCount(p: String, op: String): Int =
    p.linesIterator.count(l => l.trim.matches(s"\\(\\d+\\) $op(\\s.*)?"))

  test("moment-sum corr/covar is one partial+final hash aggregate, no sort, no window") {
    val p = plan("a15_corr_covar")
    assert(p.contains("partial_sum") && p.contains("HashAggregate"),
      s"expected map-side partial hash aggregate:\n$p")
    val exchanges = nodeCount(p, "Exchange")
    assert(exchanges == 1, s"moment sums must shuffle once, found $exchanges:\n$p")
    assert(nodeCount(p, "Window") == 0 && nodeCount(p, "Sort") == 0,
      s"closed-form stats must not sort or window:\n$p")
  }

  test("windowed percentile shuffles once on the partition key") {
    val p = plan("a14_windowed_percentile")
    assert(nodeCount(p, "Window") >= 1, s"expected a Window node:\n$p")
    val exchanges = nodeCount(p, "Exchange")
    assert(exchanges == 1,
      s"all three window aggregates share one partitionBy shuffle, found $exchanges:\n$p")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("o_comment"),
      s"scan must prune to the three read columns: $readSchema")
  }

  test("decontamination joins corpus and benchmark shingles by equi-join " +
      "(never corpus × benchmark)") {
    val p = plan("x8_decontaminate")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"decontamination degraded to a product join:\n$p")
    assert(p.contains("partial_"), s"shingle distincts lost map-side partials:\n$p")
  }

  test("sequence packing windows within the shard — one hash shuffle, " +
      "never a global sort") {
    val p = plan("x9_pack_sequences")
    assert(nodeCount(p, "Window") == 1, s"expected exactly one Window:\n$p")
    assert(nodeCount(p, "Exchange") == 1,
      s"packing must shuffle once on the shard key:\n$p")
    assert(!p.contains("rangepartitioning"),
      s"global range sort would serialize packing at scale:\n$p")
  }

  test("PII redaction is a pure narrow map (zero exchanges)") {
    val p = plan("x10_redact")
    val exchanges = nodeCount(p, "Exchange")
    assert(exchanges == 0, s"redaction must not shuffle, found $exchanges:\n$p")
  }

  test("duplicate-span detection: shingle-count semi-join, partial agg, " +
      "no product join") {
    val p = plan("d8_dup_spans")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"span coverage degraded to a product join:\n$p")
    assert(p.contains("partial_"),
      s"corpus shingle count lost map-side partials:\n$p")
    assert(p.contains("LeftSemi"),
      s"covered-position filter should be a semi-join (narrow probe):\n$p")
  }

  test("span cutting and semantic dedup never degrade to a product join") {
    for (name <- Seq("d9_dup_span_cut", "n7_semantic_dedup")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
        s"$name degraded to a product join:\n$p")
    }
  }

  test("curation pipeline composes as equi-joins and semi-joins only " +
      "(no product join end-to-end)") {
    val p = plan("c1_corpus_curation")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"curation degraded to a product join:\n$p")
    assert(p.contains("LeftSemi"),
      s"survivor filtering should be semi-joins (narrow probe):\n$p")
    assert(!p.contains("rangepartitioning"),
      s"packing inside curation must not global-sort:\n$p")
  }

  test("curation report reads only its two checkpointed frames (the " +
      "metadata-only scored frame and the kept-subset text frame)") {
    val p = plan("c3_curation_report")
    // both scans live INSIDE checkpointed RDD lineages (corpus-wide
    // metadata; keeper-subset id+text); any parquet scan in the SQL
    // plan means a consumer re-expanded a subtree and the dominant
    // narrow-scan IO multiplies at scale
    assert(!p.contains("Scan parquet"),
      s"report re-scans the docs relation:\n$p")
    assert(p.contains("ExistingRDD"),
      s"expected the checkpointed frames in the plan:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoop"),
      s"report degraded to a product join:\n$p")
  }

  test("tombstoned searches stay product-free and broadcast the " +
      "tombstone side (deletion must never shuffle the index)") {
    // x37 carries rankCandidates' deliberate ONE-ROW globals cross join
    // (a broadcast-scalar BNL, same as x30/x36) — the product ban there
    // is CartesianProduct only; n14/c4 have no scalar join at all
    val p37 = plan("x37_bm25_tombstones")
    assert(!p37.contains("CartesianProduct"),
      s"x37 degraded to a cartesian product:\n$p37")
    for (q <- Seq("n14_ivf_tombstones", "c4_takedown")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoop"),
        s"$q degraded to a product join:\n$p")
    }
    for (q <- Seq("x37_bm25_tombstones", "n14_ivf_tombstones",
        "c4_takedown")) {
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
        s"$q should anti-join the (tiny) tombstone set by broadcast:\n$p")
    }
  }

  test("time-bound join stays an equi-join on the key (no nested loop)") {
    for (q <- Seq("tw_timebound_join", "tw_timebound_left_join",
        "tw_timebound_full_join")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
        s"$q degraded to a product join:\n$p")
    }
  }

  test("stateful user totals shuffle once on the grouping key") {
    val p = plan("st_user_totals")
    // batch execution rewrites flatMapGroupsWithState to a stateless
    // MapGroups (one invocation per key)
    assert(p.contains("MapGroups"),
      s"expected the stateful operator's batch form (MapGroups):\n$p")
    assert(nodeCount(p, "Exchange") == 1,
      s"stateful totals must shuffle once:\n$p")
    // the transformWithState twin keeps the same one-shuffle shape
    // (TransformWithState over the key exchange)
    val p2 = plan("st_user_totals_v2")
    assert(p2.contains("TransformWithState"),
      s"v2 must plan the transformWithState operator:\n$p2")
    assert(nodeCount(p2, "Exchange") == 1,
      s"v2 stateful totals must shuffle once:\n$p2")
  }

  test("real-codec decode is map-shaped: m2 shuffles only its explicit " +
      "shard repartition, m3b decoded frames are fully narrow") {
    // extractFeatures' one Exchange is the deliberate content-hash shard
    // (spreads hot assets); the decode itself must add nothing
    val p2 = plan("m2_multimodal_decode")
    val ex2 = p2.linesIterator.count(_.matches(".*[+:]- Exchange .*"))
    assert(ex2 == 1, s"m2 must shuffle exactly once (the shard), got $ex2:\n$p2")
    // image frame decode + per-frame stats: filter, flatMap, map — a
    // 100 TB media scan must not shuffle payloads at all
    val p3 = plan("m3b_image_frames")
    val ex3 = p3.linesIterator.count(_.matches(".*[+:]- Exchange .*"))
    assert(ex3 == 0, s"m3b must be zero-exchange, got $ex3:\n$p3")
  }

  test("late-boundary dedup twin aggregates the key set once and broadcasts " +
      "the scalar watermark (no second shuffle of the keys)") {
    val p = plan("tw_dedup_late_boundary")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"W1 scalar not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"keys must not re-shuffle for W1:\n$p")
  }

  test("epoch shuffle sorts range-partitioned — never a single-task global window") {
    // the zipWithIndex numbering step hides the sort behind an
    // ExistingRDD boundary, so gate the sort stage and the final plan
    // separately
    val sortStage = graft.ops.CorpusOps
      .epochSorted(graft.Tables.documents(spark, dir), "doc_id", 42L, 0)
      .queryExecution.explainString(FormattedMode)
    assert(sortStage.toLowerCase.contains("rangepartitioning"),
      s"global order must range-partition:\n$sortStage")
    val p = plan("x17_epoch_shuffle")
    assert(!p.contains("Window"),
      s"no window operator (zipWithIndex numbers globally):\n$p")
  }

  test("token chunking's prefix sum is range-partitioned — no single-task " +
      "global window in the distributed form") {
    val sortStage = graft.ops.CorpusOps
      .chunkSorted(graft.Tables.documents(spark, dir), "doc_id", "text", 42L, 0)
      .queryExecution.explainString(FormattedMode)
    assert(sortStage.toLowerCase.contains("rangepartitioning"),
      s"prefix-sum input must range-partition:\n$sortStage")
    val p = plan("x19_token_chunks")
    assert(!p.contains("Window"),
      s"no window operator (the offsets come from the two-pass prefix sum):\n$p")
  }

  test("length bucketing shuffles once on the bucket key") {
    val p = plan("x18_length_buckets")
    val exchanges = p.linesIterator.count(_.matches(".*[+:]- Exchange .*"))
    assert(exchanges == 1, s"expected exactly the bucket shuffle, got $exchanges:\n$p")
    assert(p.contains("Window"), s"batch numbering must be a window:\n$p")
  }

  test("bloom decontamination pre-filters the corpus shingle stream with a " +
      "codegen'd might_contain literal before the verify join") {
    val p = plan("x21_bloom_decontaminate")
    assert(p.toLowerCase.contains("might_contain"),
      s"the Bloom pre-filter must appear in the corpus-side scan plan:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"verify join degraded to a product:\n$p")
  }

  test("scalable length bucketing range-partitions (bucket, length, id) — " +
      "never a per-bucket single-task window") {
    // the prefix-count numbering hides the sort behind an ExistingRDD
    // boundary (same as x17/x19) — gate the sort stage and the final
    // plan separately
    val sortStage = graft.ops.CorpusOps.lengthBucketSorted(
      graft.Tables.documents(spark, dir), "doc_id", "text",
      bounds = Seq(20, 40, 80), partitions = 0)
      .queryExecution.explainString(FormattedMode)
    assert(sortStage.toLowerCase.contains("rangepartitioning"),
      s"per-bucket order must range-partition:\n$sortStage")
    val p = graft.ops.CorpusOps.lengthBucketBatchesScalable(
      graft.Tables.documents(spark, dir), "doc_id", "text",
      bounds = Seq(20, 40, 80), batchSize = 16, partitions = 0)
      .queryExecution.explainString(FormattedMode)
    assert(!p.contains("Window"),
      s"numbering must come from the per-bucket prefix count, not a window:\n$p")
  }

  test("no forced broadcast anywhere in the load/build paths (source gate)") {
    // an id map / Indexd dim / builder input is 1:1 with the entity
    // universe — a broadcast() hint there is a driver OOM at scale. AQE
    // broadcasts genuinely small frames on its own; the hint is banned
    // from these packages outright (small-dim joins that WANT a hint
    // live in queries/ and ops/).
    // anchor on the build dir sbt sets for forked/IDE runs, falling
    // back to CWD — a bare relative path breaks under runners whose
    // working directory is not the repo root
    val repoRoot = sys.props.get("user.dir")
      .map(java.nio.file.Paths.get(_))
      .filter(r => java.nio.file.Files.exists(r.resolve("build.sbt")))
      .getOrElse(java.nio.file.Paths.get("."))
    assume(java.nio.file.Files.exists(repoRoot.resolve("src/main/scala/graft")),
      "source tree not locatable from this working directory; gate runs from sbt at the repo root")
    val banned = Seq("sinks", "documents", "etl", "sources")
    for (pkg <- banned) {
      val dir = repoRoot.resolve(s"src/main/scala/graft/$pkg")
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(dir) // close releases dir handles
      val offending =
        try walk.iterator().asScala
          .filter(_.toString.endsWith(".scala"))
          .flatMap { f =>
            val src = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
            src.linesIterator.zipWithIndex.collect {
              case (line, i) if line.contains("broadcast(") && !line.trim.startsWith("*") &&
                !line.trim.startsWith("//") => s"$f:${i + 1}: $line"
            }
          }.toList
        finally walk.close()
      assert(offending.isEmpty,
        s"forced broadcast() in load-path package $pkg:\n${offending.mkString("\n")}")
    }
  }

  test("LM scoring is equi-joins + aggregates only — the model tables " +
      "never cross-join the pair stream") {
    val p = plan("x25_lm_score")
    assert(!p.contains("CartesianProduct"), s"cartesian in x25:\n$p")
    assert(!p.contains("Window"), s"no window should appear in x25:\n$p")
  }

  test("DSIR scoring broadcasts the fixed-width weight table into the " +
      "token stream's only join") {
    val p = plan("x26_dsir_score")
    assert(p.contains("BroadcastHashJoin"), s"weight join not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in x26:\n$p")
  }

  test("sliding chunks and SQ encode are pure narrow maps (zero exchanges)") {
    for (name <- Seq("x27_sliding_chunks", "n8_sq_quantize")) {
      val p = plan(name)
      val exchanges = p.linesIterator.count(_.matches(".*[+:]- Exchange .*"))
      assert(exchanges == 0, s"$name expected zero exchanges:\n$p")
    }
  }

  test("PMI top-k is a distributed TakeOrdered, never a global sort") {
    val p = plan("x28_pmi_collocations")
    assert(p.contains("TakeOrderedAndProject"), s"x28 top-k not TakeOrdered:\n$p")
  }

  test("bloom-pruned join filters the big side with a might_contain " +
      "literal BELOW the join") {
    // simpleString tree: children print below their parent, conditions
    // inline — so the pre-filter's line must come AFTER the join's
    val p = SparkEntry.queries("j18_bloom_pruned_join")(spark, dir)
      .queryExecution.executedPlan.toString
    val lines = p.linesIterator.toVector
    val joinLine = lines.indexWhere(_.contains("Join"))
    val filterLine = lines.indexWhere(l =>
      l.contains("might_contain") && l.contains("Filter"))
    assert(joinLine >= 0, s"no join in plan:\n$p")
    assert(filterLine > joinLine,
      s"bloom pre-filter not below the join (filter@$filterLine, join@$joinLine):\n$p")
  }

  test("sessionization shuffles ONCE on the key — the boundary flag and " +
      "the running counter share a single sort") {
    val p = plan("g2_sessionize")
    // one exchange for the window partitioning, one for the rollup's
    // hash aggregate — anything more means the two windows diverged
    val exchanges = p.linesIterator.count(_.matches(".*[+:]- Exchange .*"))
    assert(exchanges <= 2, s"expected <=2 exchanges, got $exchanges:\n$p")
    val sorts = p.linesIterator.count(_.matches(".*[+:]- Sort .*"))
    assert(sorts <= 1, s"the two window passes must share one sort ($sorts):\n$p")
  }

  test("SCD2 merge: Catalyst specializes the three legs to pushed-filter " +
      "equi-joins with the delta broadcast — no cartesian") {
    // simple mode: each node prints once (FormattedMode lists nodes twice)
    val p = SparkEntry.queries("j19_scd2_merge")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"merge must stay an equi-join:\n$p")
    // the written full-outer join is rewritten per union leg (the leg
    // filters imply which side exists): at most one join per leg
    val joins = p.linesIterator.count(l =>
      l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin") ||
        l.contains("BroadcastHashJoin"))
    assert(joins <= 3, s"merge re-joins more than its three legs ($joins):\n$p")
    // the small delta side broadcasts at this scale (AQE-estimated)
    assert(p.contains("BroadcastHashJoin"), s"delta not broadcast:\n$p")
  }

  test("edit-distance candidates: count-prune (codegen'd partial+final " +
      "hash count) + broadcast semi-join keeps singleton buckets out of " +
      "the object agg; in-row pair expansion — no self-join, no sort, " +
      "no cartesian — and hashed 8-byte keys") {
    import org.apache.spark.sql.functions.{col, substring}
    val base = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id").as("id"),
        substring(col("text"), 1, 40).as("p"))
      .where(col("p").isNotNull)
    val cand = graft.ops.DedupOps.editDistanceCandidates(base, 2)
    val p = cand.queryExecution.explainString(FormattedMode)
    // the ONLY join is the count-prune's broadcast LEFT SEMI — pairs
    // still come from in-bucket expansion, never a self-join product
    assert(!p.contains("Cartesian") && !p.contains("BroadcastNestedLoop"),
      s"candidates must never form a product:\n$p")
    assert(p.contains("BroadcastHashJoin LeftSemi"),
      s"the count-prune must attach as a broadcast semi-join:\n$p")
    assert(nodeCount(p, "BroadcastHashJoin") == 1 &&
      !p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"exactly one join: the prune's broadcast semi:\n$p")
    assert(p.contains("deletion_hashes"),
      s"signatures must come from the native no-string hash expression:\n$p")
    // the prune aggregate is a codegen'd hash count with a map-side
    // partial below its exchange — never an object aggregate
    assert(p.contains("partial_count"),
      s"count-prune must partial-aggregate map-side:\n$p")
    // exactly three shuffles: the prune's count groupBy on h, the
    // bucket groupBy on h, and the final pair distinct (pairs-sized,
    // tiny) — the 40M-variant stream's OBJECT-agg leg still crosses
    // the wire once (the prune leg carries only (h, partial count))
    val exchanges = nodeCount(p, "Exchange")
    assert(exchanges == 3,
      s"prune count + bucket agg + pair distinct ($exchanges):\n$p")
    assert(nodeCount(p, "Sort") == 0,
      s"no sort anywhere in the candidate stage:\n$p")
  }

  test("funnel runs the window cascade AND the final aggregate on ONE " +
      "user_id shuffle") {
    val p = plan("g6_funnel")
    val exchanges = nodeCount(p, "Exchange")
    assert(exchanges == 1, s"funnel must shuffle exactly once ($exchanges):\n$p")
    assert(!p.contains("Join"), s"funnel must not join:\n$p")
  }

  test("triangle counting stays equi-joins — no cartesian product, no " +
      "nested loop, wedges closed by hash/merge join") {
    val p = plan("g5_triangle_count")
    assert(!p.contains("Cartesian") && !p.contains("BroadcastNestedLoop"),
      s"triangle counting must never form a product:\n$p")
  }

  test("BM25 retrieval: candidates come from token equi-joins; the only " +
      "nested-loop is the 1-row globals broadcast") {
    val p = plan("x30_bm25_retrieval")
    assert(!p.contains("CartesianProduct"),
      s"BM25 must never form an unbroadcast product:\n$p")
    val bnl = nodeCount(p, "BroadcastNestedLoopJoin")
    assert(bnl <= 1,
      s"only the 1-row (N, totlen) broadcast may nested-loop ($bnl):\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"),
      s"the postings join must be an equi-join:\n$p")
  }

  test("incremental index SEARCH plans (the per-query hot path): BM25 " +
      "keeps the x30 shape over accumulated state; IVF probes are one " +
      "cell equi-join, no product anywhere") {
    // x36/n12's battery closures ingest into temp state, then return the
    // lazy SEARCH frame — the plan under test is the one a 100 TB
    // deployment re-runs per query set, with ingest amortized away
    val bm = plan("x36_incremental_bm25")
    assert(!bm.contains("CartesianProduct"),
      s"incremental BM25 must never form an unbroadcast product:\n$bm")
    assert(nodeCount(bm, "BroadcastNestedLoopJoin") <= 1,
      s"only the 1-row (N, totlen) broadcast may nested-loop:\n$bm")
    val ivf = plan("n12_incremental_ivf")
    assert(!ivf.contains("CartesianProduct") &&
      !ivf.contains("BroadcastNestedLoop"),
      s"IVF search must be a pure cell equi-join:\n$ivf")
    assert(ivf.contains("SortMergeJoin") || ivf.contains("ShuffledHashJoin") ||
      ivf.contains("BroadcastHashJoin"),
      s"the probe-cell join must be an equi-join:\n$ivf")
  }

  test("retention matrix never rescans the events for cohort sizes (no " +
      "product; sizes ride a window)") {
    val p = plan("g7_retention")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"retention must never form a product:\n$p")
    assert(p.contains("Window"),
      s"cohort sizes must ride a window over the small result:\n$p")
  }

  test("session paths: the session regroup reuses the sessionize key " +
      "shuffle; top-k is a distributed TakeOrdered") {
    val p = plan("g9_session_paths")
    assert(!p.contains("Join"), s"session paths must not join:\n$p")
    val exchanges = nodeCount(p, "Exchange")
    assert(exchanges <= 2,
      s"user window + path count only ($exchanges):\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k must be a distributed TakeOrdered, not a global sort:\n$p")
  }

  test("streaks run the change flag, run numbering, and the per-run " +
      "aggregate on ONE key shuffle") {
    val p = plan("g10_streaks")
    assert(!p.contains("Join"), s"streaks must not join:\n$p")
    val exchanges = nodeCount(p, "Exchange")
    assert(exchanges == 1, s"streaks must shuffle exactly once ($exchanges):\n$p")
  }

  test("EWMA state is one regroup shuffle; the fold is a narrow " +
      "higher-order aggregate, never a window or join") {
    val p = plan("g11_ewma")
    assert(!p.contains("Join") && !p.contains("Window"),
      s"the recurrence must fold in-array, not join or window:\n$p")
    val exchanges = nodeCount(p, "Exchange")
    assert(exchanges == 1, s"one per-key regroup only ($exchanges):\n$p")
  }

  test("interpolation's backward and forward carry windows share ONE sort " +
      "on the join's output — three Window nodes, one Sort above the join") {
    val p = plan("g12_interpolate")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"interpolation must never form a product:\n$p")
    assert(nodeCount(p, "Window") == 3,
      s"prev-value, prev-day+next-value, next-day carries = 3 windows:\n$p")
    assert(nodeCount(p, "Sort") == 1,
      s"the carry windows must share one (user, day) sort:\n$p")
  }

  test("co-occurrence generates both pair directions off ONE basket " +
      "self-join — no union re-running the distinct+join, rank limit pushed") {
    val p = plan("g13_cooccurrence")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"basket pairing must be an equi-join on the basket key:\n$p")
    assert(nodeCount(p, "Union") == 0,
      s"one a≠b join, not a halved join mirrored by union:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"the per-item top-k must push into a group-limit before the shuffle:\n$p")
  }

  test("TWAP runs the hold-duration window and the per-key aggregate on " +
      "ONE key shuffle") {
    val p = plan("g14_twap")
    assert(!p.contains("Join"), s"TWAP must not join:\n$p")
    val exchanges = nodeCount(p, "Exchange")
    assert(exchanges == 1, s"TWAP must shuffle exactly once ($exchanges):\n$p")
  }

  test("peak concurrency sweeps on ONE key shuffle: the union is narrow; " +
      "running sum, peak window, and final aggregate reuse it") {
    val p = plan("g15_peak_concurrency")
    assert(!p.contains("Join"), s"the sweep must not join:\n$p")
    val exchanges = nodeCount(p, "Exchange")
    assert(exchanges == 1, s"one sweep shuffle only ($exchanges):\n$p")
  }

  test("pagerank iterations read the persisted working set — no re-run " +
      "degree aggregate or edge re-scan inside the loop") {
    import org.apache.spark.sql.functions.lit
    import spark.implicits._
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L))
      .toDF("src", "dst")
    val (nodes, eWithOd) = graft.ops.GraphOps.pagerankWorking(e)
    try {
      eWithOd.count(); nodes.count() // materialize the cache
      val step = graft.ops.GraphOps.pagerankStep(
        nodes, eWithOd, nodes.withColumn("pr", lit(1000000L)))
      val p = step.queryExecution.explainString(FormattedMode)
      assert(nodeCount(p, "InMemoryTableScan") >= 2,
        s"iteration must read BOTH cached tables (nodes + edges⋈degree):\n$p")
      // the only aggregate in a step is the contrib sum — the degree
      // count must live inside the cache, never re-run per iteration
      val aggLines = p.linesIterator.filter(_.contains("HashAggregate")).toSeq
      assert(!aggLines.exists(_.contains("count(")),
        s"degree aggregate re-ran inside the iteration:\n$p")
    } finally {
      eWithOd.unpersist(blocking = false)
      nodes.unpersist(blocking = false)
    }
  }

  test("transition matrix is join-free: one lead window, one pair groupBy, " +
      "one normalizing window") {
    val p = plan("g8_transitions")
    assert(!p.contains("Join"), s"transitions must not join:\n$p")
    val exchanges = nodeCount(p, "Exchange")
    assert(exchanges <= 3,
      s"transitions shuffle at most 3x — user window, pair count, " +
        s"row totals ($exchanges):\n$p")
  }

  test("CDC apply is join-free and collapses the log on ONE key shuffle") {
    val p = plan("j20_cdc_apply")
    assert(!p.contains("Join"), s"cdcApply must not join:\n$p")
    val exchanges = nodeCount(p, "Exchange")
    assert(exchanges == 1,
      s"one winner-pick shuffle only ($exchanges):\n$p")
  }

  test("interval union sweeps on ONE key shuffle: the prior-max window, " +
      "group-id prefix sum, per-span merge, and per-key rollup all reuse " +
      "the key partitioning") {
    val p = plan("g16_interval_union")
    assert(!p.contains("Join"), s"the sweep must not join:\n$p")
    val exchanges = nodeCount(p, "Exchange")
    assert(exchanges == 1, s"one sweep shuffle only ($exchanges):\n$p")
  }

  test("RRF fusion never re-runs the upstream rankers into a product — " +
      "equi-joins only, and the fused candidate set aggregates once") {
    val p = plan("x33_rrf_fusion")
    assert(!p.contains("CartesianProduct"),
      s"fusion must stay equi-joined:\n$p")
    assert(nodeCount(p, "Union") == 1,
      s"the two rank lists meet in ONE union:\n$p")
  }

  test("last-touch attribution is join-free: ONE carry window, narrow " +
      "TTL arithmetic on top") {
    val p = plan("g18_attribution")
    assert(!p.contains("Join"),
      s"attribution must carry, not range-join:\n$p")
    val exchanges = nodeCount(p, "Exchange")
    assert(exchanges == 1, s"one carry shuffle only ($exchanges):\n$p")
  }

  test("equi-depth binning shares ONE key shuffle between the ntile " +
      "window and the (group, bin) aggregate") {
    val p = plan("a18_equidepth_bins")
    assert(!p.contains("Join"), s"binning must not join:\n$p")
    val exchanges = nodeCount(p, "Exchange")
    assert(exchanges == 1, s"one binning shuffle only ($exchanges):\n$p")
  }

  test("table diff is ONE full-outer equi-join carrying all three legs") {
    val p = plan("j21_table_diff")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"diff must stay an equi-join:\n$p")
    assert(nodeCount(p, "SortMergeJoin") + nodeCount(p, "ShuffledHashJoin") +
      nodeCount(p, "BroadcastHashJoin") == 1,
      s"exactly one join carries added/removed/changed:\n$p")
  }

  test("incremental aggregate merge joins two aggregate-sized states — " +
      "no rescan of the base rows on the merge side") {
    val p = plan("j22_incremental_agg")
    assert(nodeCount(p, "SortMergeJoin") + nodeCount(p, "ShuffledHashJoin") +
      nodeCount(p, "BroadcastHashJoin") == 1,
      s"one state-merge join only:\n$p")
    assert(p.contains("partial_"), s"states must partial-aggregate:\n$p")
  }

  test("AUC collapses the eval set to distinct scores map-side; the " +
      "window + final fold run on the distinct-score table") {
    val p = plan("a19_auc")
    assert(!p.contains("Join"), s"AUC must not join:\n$p")
    assert(p.contains("partial_"),
      s"the (group, score) collapse must partial-aggregate:\n$p")
    val exchanges = nodeCount(p, "Exchange")
    assert(exchanges <= 2,
      s"one (group,score) collapse + one group regroup ($exchanges):\n$p")
  }

  test("PR-at-thresholds reads the eval set once for ALL thresholds") {
    val p = plan("a20_pr_thresholds")
    assert(!p.contains("Join"), s"thresholds ride an explode, not a join:\n$p")
    val scans = nodeCount(p, "Scan parquet")
    assert(scans == 1, s"one scan for every threshold ($scans):\n$p")
    val exchanges = nodeCount(p, "Exchange")
    assert(exchanges == 1, s"one aggregate shuffle only ($exchanges):\n$p")
  }

  test("k-anonymity audit is ONE map-side-partial hash aggregate") {
    val p = plan("x34_k_anonymity")
    assert(!p.contains("Join"), s"the audit must not join:\n$p")
    assert(p.contains("partial_"), s"no map-side partial:\n$p")
    val exchanges = nodeCount(p, "Exchange")
    assert(exchanges == 1, s"one class-key shuffle only ($exchanges):\n$p")
  }

  test("column profile reads the input ONCE — a single aggregate pass " +
      "for every profiled column, then a narrow unpivot") {
    val p = plan("p9_column_profile")
    assert(!p.contains("Join"), s"profiling must not join:\n$p")
    val scans = nodeCount(p, "Scan parquet")
    assert(scans == 1, s"one scan for all columns ($scans):\n$p")
  }

  test("HLL cube sketches aggregate partially map-side (no raw-row " +
      "shuffle) and never form a product") {
    val p = plan("a17_hll_rollup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"the law join is a key equi-join:\n$p")
    // DataSketches aggs lower to ObjectHashAggregate; partial_ phases
    // mean raw rows collapse to sketches BEFORE the exchange
    assert(p.contains("ObjectHashAggregate"),
      s"sketch agg must be ObjectHashAggregate:\n$p")
    assert(p.linesIterator.exists(l =>
        l.contains("partial_hllsketchagg") || l.contains("partial_hll_sketch_agg")),
      s"sketches must partial-aggregate map-side:\n$p")
  }

  test("image near-dup is a banded HashAggregate pipeline — no pair " +
      "self-join, never a product") {
    val p = plan("m11_image_neardup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"Hamming banding must stay an equi-shaped pipeline:\n$p")
    // the one-pass bucket-collect shape: candidates come from a
    // (block, value) hash aggregate, not a join of the signature table
    // with itself
    assert(p.contains("HashAggregate") || p.contains("ObjectHashAggregate"),
      s"bucket collect must be a hash aggregate:\n$p")
  }

  test("HTML extraction is a pure narrow map (zero exchanges, codegen'd)") {
    val p = plan("x35_html_extract")
    val exchanges = p.linesIterator.count(_.matches(".*[+:]- Exchange .*"))
    assert(exchanges == 0, s"expected a shuffle-free projection:\n$p")
    assert(p.contains("codegen id"), s"codegen lost:\n$p")
  }

  test("near-dup pair search (minhash bands) has no signature self-join " +
      "and never a product") {
    val p = plan("d2b_neardup_pairs")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"banded candidates + verify fetches are equi-joins only:\n$p")
  }

  test("approx equi-depth law: boundaries from ONE partial-aggregated " +
      "pass, bins via broadcast of the nBins-sized boundary table") {
    val p = plan("a18b_equidepth_approx")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"no product:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"the groups-sized boundary table must broadcast:\n$p")
    assert(p.linesIterator.exists(l => l.contains("partial_percentile_approx")),
      s"the sketch must partial-aggregate map-side:\n$p")
  }

  test("bucketed deletion delta derivation prunes the postings scan " +
      "to the deleted ids' buckets (partition pruning, not a full " +
      "table pass)") {
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val I = graft.ops.IncrementalIndexOps
    val B = graft.ops.BatchState
    val state = java.nio.file.Files
      .createTempDirectory("graft_bktplan").toString
    val docs = graft.Tables.documents(spark, dir)
      .where(pmod(col("doc_id"), lit(97)) =!= 0)
    graft.ops.StateRoot(I.Bm25, state).bucket(spark, nBuckets = 16)
    I.ingestTextShard(spark, docs, "doc_id", "text", state, 0L)
    import spark.implicits._
    val dels = docs.limit(2).select(col("doc_id").as("id"))
    val pruned = B.readBatchesPrunedBy(spark, state, "postings",
      Seq(0L), dels, "id").get
    val p = pruned.queryExecution.explainString(FormattedMode)
    assert(p.contains("PartitionFilters") &&
      p.linesIterator.exists(l =>
        l.contains("PartitionFilters") && l.contains("gbkt")),
      s"the bucket IN-filter must reach the scan as a partition " +
        s"filter:\n$p")
    // the pruned pass reads strictly fewer rows than the full table —
    // only the 2 ids' buckets of 16
    val full = B.readBatches(spark, state, "postings", Seq(0L)).get
    assert(pruned.count() < full.count(),
      "pruning must skip the other buckets' rows")
    // exactness is the semi-join's job, pruning only narrows the scan
    val delta = pruned.join(dels, Seq("id"), "left_semi")
    val deltaFull = full.join(dels, Seq("id"), "left_semi")
    assert(delta.count() == deltaFull.count() && delta.count() > 0)
  }
}
