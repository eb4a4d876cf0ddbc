package graft

import java.util.Locale

import scala.util.control.NonFatal

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** The one dev probe:
  *
  * {{{
  * sbt "runMain graft.Probe <volume|purge|composed|jobs> <srcDir> <workDir> [factor] [query …]"
  * }}}
  *
  * One replicate step copies `srcDir` ×factor into `workDir`
  * ([[VolumeProbe.multiply]] with the [[VolumeProbe.keyOffsetFor]] key
  * offset; factor 1 reads `srcDir` as it is). Then the mode runs and
  * prints one JSON object per line: a header, one line per query or
  * flow, and a summary `{"probe":…,"failed":n,"items":m}`. The exit code
  * is 1 when any line is not ok.
  *
  *  - `volume` (default factor 10): every named query of [[laws]] (all
  *    88 by default) runs untimed on the 1× data and timed on the ×factor
  *    copy, and must satisfy its law. SCALE_PROBE.md records the 10×
  *    sf0.1 run.
  *  - `purge` (default factor 10): ingest the replicated corpus into a
  *    BM25 state, tombstone `doc_id % 7 = 0`, purge; the purged search
  *    must equal the tombstoned one and the deletion root must be gone.
  *  - `composed` (default factor 10): two AvailableNow drains of
  *    `curateAndIndexIngest` over the replicated corpus; the streamed
  *    index search must equal the one-shot curate-then-index.
  *  - `jobs` (default factor 1): each named battery query runs once warm
  *    and once measured; one line per Spark job (wall, tasks, shuffle
  *    bytes) and one per query with the driver gap (wall − Σ job wall).
  */
object Probe {

  private val Modes = Seq("volume", "purge", "composed", "jobs")

  private val Usage = "usage: graft.Probe <" + Modes.mkString("|") +
    "> <srcDir> <workDir> [factor] [query …]"

  private[graft] final case class Args(mode: String, src: String,
      work: String, factor: Int, names: Seq[String])

  /** Validates the arguments before any session exists: an unknown mode
    * or query name fails and names the valid ones.
    */
  private[graft] def parse(argv: Seq[String]): Args = argv match {
    case mode +: src +: work +: rest =>
      require(Modes.contains(mode),
        s"unknown mode '$mode'; valid modes: ${Modes.mkString(", ")}")
      val (factor, names) = rest.headOption.flatMap(_.toIntOption) match {
        case Some(f) => (f, rest.tail)
        case None => (if (mode == "jobs") 1 else 10, rest)
      }
      require(factor >= 1, s"factor must be at least 1, got $factor")
      val valid: Set[String] = mode match {
        case "volume" => laws.map(_._1).toSet
        case "jobs" => SparkEntry.queries.keySet
        case _ => Set.empty
      }
      require(mode != "jobs" || names.nonEmpty, s"jobs needs query names; $Usage")
      val unknown = names.filterNot(valid)
      require(unknown.isEmpty, s"unknown query name(s) for $mode: " +
        s"${unknown.mkString(", ")}; valid: " +
        (if (valid.isEmpty) "none" else valid.toSeq.sorted.mkString(", ")))
      Args(mode, src, work, factor, names)
    case _ => throw new IllegalArgumentException(Usage)
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv.toSeq)
    val spark = GraftSession()
    val failed = try run(spark, args, println) finally spark.stop()
    if (failed > 0) sys.exit(1)
  }

  /** Runs one mode, writing its lines through `emit`; returns the number
    * of lines that were not ok.
    */
  private[graft] def run(spark: SparkSession, a: Args, emit: String => Unit): Int = {
    // events replication reads the parquet raw; tolerate either physical
    // ts form (see Tables.events, which sets the same flag)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val offset = VolumeProbe.keyOffsetFor(spark, a.src)
    val dataDir = if (a.factor == 1) a.src else {
      val copied = if (a.mode == "volume" || a.mode == "jobs") VolumeProbe.tables
        else Seq("documents")
      for (t <- copied)
        VolumeProbe.multiply(spark.read.parquet(s"${a.src}/$t.parquet"),
          a.factor, offset).write.mode("overwrite").parquet(s"${a.work}/$t.parquet")
      a.work
    }
    emit(json("probe" -> a.mode, "factor" -> a.factor, "src" -> a.src,
      "work" -> a.work, "key_offset" -> offset,
      "heap_mb" -> Runtime.getRuntime.maxMemory() / (1 << 20)))
    val results: Seq[Boolean] = a.mode match {
      case "volume" =>
        val selected = laws.filter(l => a.names.isEmpty || a.names.contains(l._1))
        selected.map { case (name, law) =>
          item(emit, "query" -> name)(
            checkLaw(law, Ctx(spark, a.src, dataDir, a.factor, offset, name)))
        }
      case "purge" =>
        Seq(item(emit, "probe" -> s"purge_${a.factor}x")(purge(spark, a, dataDir, offset)))
      case "composed" =>
        Seq(item(emit, "probe" -> s"composed_${a.factor}x")(composed(spark, a, dataDir, offset)))
      case "jobs" =>
        a.names.map(name =>
          item(emit, "query" -> name)(jobs(spark, dataDir, name, emit)))
    }
    val failed = results.count(!_)
    emit(json("probe" -> a.mode, "failed" -> failed, "items" -> results.size))
    failed
  }

  // ---- the shared timer and JSON-line writer --------------------------

  private def timed[T](body: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val r = body
    ((System.nanoTime() - t0) / 1e9, r)
  }

  /** One probe line: `head` plus the fields `body` returns (which carry
    * "ok"), or `head` plus the error when `body` throws.
    */
  private[graft] def item(emit: String => Unit, head: (String, Any))(
      body: => Seq[(String, Any)]): Boolean = {
    val fields = try body catch {
      case NonFatal(e) => Seq("error" -> e.toString.take(500), "ok" -> false)
    }
    emit(json(head +: fields: _*))
    fields.contains("ok" -> true)
  }

  /** One JSON object: numbers are formatted in `Locale.ROOT`, strings are
    * escaped per RFC 8259 (quote, backslash and every control character).
    */
  private[graft] def json(fields: (String, Any)*): String =
    fields.map { case (k, v) => quote(k) + ":" + value(v) }.mkString("{", ",", "}")

  private def value(v: Any): String = v match {
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null"
      else String.format(Locale.ROOT, "%.2f", Double.box(d))
    case n @ (_: Int | _: Long | _: Boolean) => n.toString
    case s => quote(String.valueOf(s))
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b += '\\' += 'u' ++= "%04x".formatLocal(Locale.ROOT, c.toInt)
      case c => b += c
    }
    (b += '"').toString
  }

  // ---- volume: the per-query ×N law table -----------------------------

  /** What a law reads: the session, the 1× and ×factor data, the factor,
    * the replica key offset (base ids are below it, so `id % offset`
    * recovers a clone's original) and the probed query.
    */
  private[graft] final case class Ctx(spark: SparkSession, src: String,
      big: String, factor: Int, offset: Long, name: String) {
    def q(dir: String): DataFrame = SparkEntry.queries(name)(spark, dir)
  }

  /** A probed query's law: `base` runs untimed on the 1× data, `check`
    * runs timed on the ×factor copy and returns (rows, base rows, holds).
    */
  private[graft] final case class Law[B](label: String, base: Ctx => B,
      check: (Ctx, B) => (Long, Long, Boolean))

  private def checkLaw[B](law: Law[B], c: Ctx): Seq[(String, Any)] = {
    val b = law.base(c)
    val (sec, (n, bn, ok)) = timed(law.check(c, b))
    Seq("sec" -> sec, "rows" -> n, "base_rows" -> bn,
      "scaling" -> s"${law.label} x${c.factor}", "ok" -> ok)
  }

  private def counted(label: String)(holds: (Long, Long, Int) => Boolean) =
    Law[Long](label, c => c.q(c.src).count(), { (c, b) =>
      val n = c.q(c.big).count()
      (n, b, holds(n, b, c.factor))
    })

  /** Replica-closed plans (keys, users and decades disjoint per replica;
    * the offset is a multiple of every modulus a query derives
    * membership from): rows scale exactly ×factor. Media classes
    * (id % 3, frames 2 + id % 9) survive the remap while the codec work
    * grows; n6's seeds are replica 0's originals, so centroids stay and
    * clones inherit assignments; x29 and n11 emit one row per document or
    * vector however clone families merge; x36 is x30 through the
    * batch-partitioned index state.
    */
  private val exact = counted("exact")((n, b, f) => n == b * f)
  /** Replicas are byte-identical text: curation's exact dedup collapses
    * every clone set to its replica-0 member, and the domain cap keeps
    * exactly k per domain, so N copies return the 1× row count.
    */
  private val invariant = counted("invariant")((n, b, _) => n == b)
  /** Dedup candidates grow with cross-replica clones; only a bound holds. */
  private val lowerBound = counted("lower-bound")((n, b, _) => n >= b)
  /** The query set is replica 0 only (`vec_id < 10`, and `% 9` deletions
    * are replica-closed): rows stay the base count while the probed state
    * behind them grows ×factor.
    */
  private val queryClosed = counted("query-closed")((n, b, _) => n == b)

  private def scaled(base: Seq[(String, Long)], f: Int) =
    base.map { case (k, n) => (k, n * f) }

  /** Content law: `rows(ctx, dir, f)` keys the output; at ×f the same
    * keys come back, in the same order, with every value ×f.
    */
  private def content(label: String)(rows: (Ctx, String, Int) => Seq[(String, Long)]) =
    Law[Seq[(String, Long)]](label, c => rows(c, c.src, 1), { (c, base) =>
      val big = rows(c, c.big, c.factor)
      (big.size.toLong, base.size.toLong, big == scaled(base, c.factor))
    })

  /** Content law whose rows also carry a verdict that must hold at ×f. */
  private def envelope(label: String)(rows: (Ctx, String) => Seq[(String, Long, Boolean)]) =
    Law[Seq[(String, Long)]](label, c => rows(c, c.src).map(r => (r._1, r._2)), { (c, base) =>
      val big = rows(c, c.big)
      (big.size.toLong, base.size.toLong,
        big.map(r => (r._1, r._2)) == scaled(base, c.factor) && big.forall(_._3))
    })

  /** Multiset law: each base row recurs exactly ×f times (outputs whose
    * values are replica-closed rather than ×f).
    */
  private def recurs(label: String)(keys: (Ctx, String) => Seq[String]) =
    Law[Seq[String]](label, c => keys(c, c.src), { (c, base) =>
      val big = keys(c, c.big)
      def times(ks: Seq[String]) = ks.groupBy(identity).map { case (k, v) => (k, v.size) }
      (big.size.toLong, base.size.toLong,
        times(big) == times(base).map { case (k, n) => (k, n * c.factor) })
    })

  private def collect[T](df: DataFrame)(f: Row => T): Seq[T] = df.collect().toSeq.map(f)

  /** Text is byte-identical across replicas, so the same ranked rows come
    * back with every count ×factor (the limit pins the row count).
    */
  private val rankedContent = content("content")((c, dir, _) =>
    collect(c.q(dir))(r => (r.getString(0), r.getLong(1))))

  /** Replicas derive different images, so only replica 0 is comparable:
    * its pairs must equal the base pair set; cross-replica pairs are extra.
    */
  private val replica0Pairs = Law[Set[(Long, Long)]]("replica0-pair-identity",
    c => pairs(c.q(c.src)), { (c, base) =>
      val big = c.q(c.big)
      val n = big.count()
      val rep0 = pairs(big.where(col("doc_a") < c.offset && col("doc_b") < c.offset))
      (n, base.size.toLong, rep0 == base && n >= base.size)
    })

  private def pairs(df: DataFrame): Set[(Long, Long)] =
    collect(df.select("doc_a", "doc_b"))(r => (r.getLong(0), r.getLong(1))).toSet

  private val TsShiftMs: Long = VolumeProbe.TsShiftDays * 86400000L

  private def all(law: Law[_])(names: String*): Seq[(String, Law[_])] = names.map(_ -> law)

  /** Every `headline` query with its law, grouped by law. */
  private[graft] val laws: Seq[(String, Law[_])] =
    all(exact)(
      "kf_full_pipeline", "x8_decontaminate", "x9_pack_sequences", "n6_kmeans_fit",
      "j_outer_chain", "j14_asof_join", "tw_timebound_join", "m2_multimodal_decode",
      "m3_frame_sample", "x21_bloom_decontaminate", "tw_timebound_full_join",
      "st_type_counts", "st_last_events", "st_session_timeout", "x9b_pack_bpe",
      "m6_resize", "st_warm_start", "m6b_resize_bilinear", "m7_video_resize",
      "m8_audio_resample", "x25_lm_score", "x26_dsir_score", "n8_sq_quantize",
      "x27_sliding_chunks", "tw_timebound_semi_join", "x29_leakage_free_splits",
      "g2_sessionize", "j19_scd2_merge", "g3_locf_fill", "a16_mad_outliers", "g6_funnel",
      "x30_bm25_retrieval", "g10_streaks", "g11_ewma", "g12_interpolate",
      "g13_cooccurrence", "g14_twap", "g15_peak_concurrency", "j18_bloom_pruned_join",
      "j20_cdc_apply", "g16_interval_union", "g17_bfs_hops", "x33_rrf_fusion",
      "g18_attribution", "n10_mmr_rerank", "st_cdc_latest", "j21_table_diff",
      "x36_incremental_bm25", "n11_incremental_semdedup") ++
    all(invariant)("x14_domain_cap", "c1_corpus_curation", "c2_incremental_curation") ++
    // every d8 window repeats cross-replica, so spans widen
    all(lowerBound)("d6_dedup_corpus", "d2b_neardup_pairs", "d7_simhash_pairs", "d8_dup_spans") ++
    all(queryClosed)("n12_incremental_ivf", "n14_ivf_tombstones") ++
    // m15's `doc_id % 7` deletions are replica-closed (7 divides the offset)
    all(replica0Pairs)("m11_image_neardup", "m12_incremental_image_neardup",
      "m15_image_tombstones") ++
    all(rankedContent)("x5_token_freq", "x15_bigram_counts", "x23_bpe_token_freq",
      "g9_session_paths") ++
    Seq[(String, Law[_])](
    // the seeded permutation interleaves replicas; pos must be a
    // bijection onto 1..(factor·N)
    "x17_epoch_shuffle" -> Law[Long]("pos-bijection", c => c.q(c.src).count(), { (c, b) =>
      val a = c.q(c.big).agg(count(lit(1)), min(col("pos")), max(col("pos")),
        countDistinct(col("pos"))).head
      val n = a.getLong(0)
      (n, b, n == b * c.factor && a.getLong(1) == 1L && a.getLong(2) == n && a.getLong(3) == n)
    }),
    // per-doc token counts survive the id remap, the stream is contiguous
    // (min start 0, max end = Σ n_tokens = factor × base Σ) and chunk ids
    // follow from tok_start row by row
    "x19_token_chunks" -> Law[(Long, Long)]("prefix-sum-contiguity", { c =>
      val a = c.q(c.src).agg(count(lit(1)), sum(col("n_tokens"))).head
      (a.getLong(0), a.getLong(1))
    }, { case (c, (bRows, bTok)) =>
      val df = c.q(c.big)
      val a = df.agg(count(lit(1)), sum(col("n_tokens")), min(col("tok_start")),
        max(col("tok_start") + col("n_tokens")),
        sum(when(expr("first_chunk != (tok_start div 512) OR " +
          "last_chunk != ((tok_start + n_tokens - 1) div 512)"), 1L).otherwise(0L))).head
      val (n, tok) = (a.getLong(0), a.getLong(1))
      val baseNt = c.q(c.src).select(col("doc_id").as("bid"), col("n_tokens").as("bnt"))
      val mismatched = df.select(pmod(col("doc_id"), lit(c.offset)).as("bid"), col("n_tokens"))
        .join(baseNt, "bid").where(col("n_tokens") =!= col("bnt")).count()
      (n, bRows, n == bRows * c.factor && tok == bTok * c.factor && a.getLong(2) == 0L &&
        a.getLong(3) == tok && a.getLong(4) == 0L && mismatched == 0L)
    }),
    // clone text is byte-identical: every original pair across all
    // replica combinations (f² × base) plus C(f,2) dist-0 pairs per doc
    "d10_edit_distance_join" -> Law[Long]("pair-closed-form", c => c.q(c.src).count(), { (c, b) =>
      val n = c.q(c.big).count()
      val nDocs = c.spark.read.parquet(s"${c.src}/documents.parquet")
        .where(col("text").isNotNull).count()
      val f = c.factor.toLong
      (n, b, n == f * f * b + f * (f - 1) / 2 * nDocs)
    }),
    // the UNLIMITED operator (the battery row's top-100 pins its count):
    // node rows and incidences ×factor, every clone node's count inherited
    "g5_triangle_count" -> Law[DataFrame]("triangle-incidence", c => triangles(c, c.src), { (c, base) =>
      val big = triangles(c, c.big)
      val Seq(a, b) = Seq(big, base).map(_.agg(count(lit(1)), sum(col("tri"))).head)
      val mismatched = big.select(pmod(col("node"), lit(c.offset)).as("bnode"), col("tri"))
        .join(base.select(col("node").as("bnode"), col("tri").as("btri")), "bnode")
        .where(col("tri") =!= col("btri")).count()
      (a.getLong(0), b.getLong(0), a.getLong(0) == b.getLong(0) * c.factor &&
        a.getLong(1) == b.getLong(1) * c.factor && mismatched == 0L)
    }),
    // the 3650-day shift is not whole weeks, so cohorts straddle; the
    // curve Σ n_active per week_k is ×factor
    "g7_retention" -> content("retention-curve")((c, dir, _) =>
      collect(c.q(dir).groupBy("week_k").agg(sum(col("n_active"))))(r =>
        (r.getInt(0).toString, r.getLong(1))).sortBy(_._1)),
    // |states|²-bounded: the same (from, to) matrix, n ×factor, p_ppm identical
    "g8_transitions" -> content("ppm-invariant-content")((c, dir, _) =>
      collect(c.q(dir))(r => (s"${r.getString(0)}>${r.getString(1)}|${r.getLong(4)}",
        r.getLong(2))).sortBy(_._1)),
    // query-bounded (5 queries × 10): ranks 1..k per query, every
    // neighbour a clone of a base Hamming-shortlist member (or of the query
    // itself), and clones of one base vector rank in replica order
    "n9_binary_quantize" -> Law[Seq[(Long, Long)]]("query-bounded-shortlist-closed", { c =>
      val S = graft.ops.SimilarityOps
      val emb = Tables.embeddings(c.spark, c.src)
        .select(col("vec_id"), S.asDouble(col("embedding")).as("v"))
      collect(S.bqTopK(
        emb.filter(col("vec_id") < 5).select(col("vec_id").as("qid"), col("v").as("qv")),
        emb.select(col("vec_id").as("cid"), col("v").as("cv")),
        S.bqThresholds(emb, "v"), k = 30, oversample = 1))(r => (r.getLong(0), r.getLong(1)))
    }, { (c, base) =>
      val rows = collect(c.q(c.big))(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      val byQ = rows.groupBy(_._1)
      val shapeOk = byQ.size == base.map(_._1).distinct.size && byQ.values.forall(rs =>
        rs.map(_._3).sorted == (1 to rs.length) && rs.length == 10)
      val admissible = base.toSet
      val classOk = rows.forall { case (q, nb, _) =>
        nb % c.offset == q || admissible((q, nb % c.offset)) }
      val cloneOrderOk = byQ.values.forall(_.groupBy(_._2 % c.offset).values.forall(g =>
        g.sortBy(_._3).map(_._2) == g.map(_._2).sorted))
      (rows.length.toLong, base.length.toLong, shapeOk && classOk && cloneOrderOk)
    }),
    // minCount scales with the corpus (5·f), so the candidate set and
    // every PMI score are the base's: identical top-30, counts ×factor
    "x28_pmi_collocations" -> content("minCount-scaled-content")((c, dir, f) =>
      collect(graft.ops.CorpusOps.pmiCollocations(Tables.documents(c.spark, dir), "text",
        k = 30, minCount = 5L * f))(r =>
        (s"${r.getString(0)} ${r.getString(1)}|${r.getLong(3)}", r.getLong(2)))),
    // |status| rows at any volume: exact_distinct ×factor, both tolerance
    // verdicts still true
    "a17_hll_rollup" -> envelope("sketch-envelope")((c, dir) =>
      collect(c.q(dir))(r => (r.getString(0), r.getLong(1),
        r.getBoolean(2) && r.getBoolean(3))).sortBy(_._1)),
    // the same groups × 10 cells at any volume: per-status Σn ×factor,
    // every ntile 1..10 present and populations within 1 of each other
    "a18_equidepth_bins" -> Law[Seq[(String, Long)]]("ntile-contract", c =>
      collect(c.q(c.src).groupBy("o_orderstatus").agg(sum(col("n"))))(r =>
        (r.getString(0), r.getLong(1))).sortBy(_._1), { (c, base) =>
      val rows = collect(c.q(c.big))(r => (r.getString(0), r.getInt(1), r.getLong(2)))
      val byStatus = rows.groupBy(_._1)
      val ok = rows.length == base.length * 10 &&
        byStatus.values.forall(_.map(_._2).sorted == (1 to 10)) &&
        byStatus.toSeq.map { case (s, rs) => (s, rs.map(_._3).sum) }.sortBy(_._1) ==
          scaled(base, c.factor) &&
        byStatus.values.forall(rs => rs.map(_._3).max - rs.map(_._3).min <= 1)
      (rows.length.toLong, base.length.toLong, ok)
    }),
    // c_nationkey is a key: clone classes are disjoint and inherit their
    // base class's (class_size, violates_k) via nationkey % offset
    "x34_k_anonymity" -> recurs("clone-class-inheritance")((c, dir) =>
      collect(c.q(dir))(r => s"${r.getAs[Number](0).longValue % c.offset}|${r.getString(1)}|" +
        s"${r.getLong(2)}|${r.getLong(3)}|${r.getBoolean(4)}")),
    // 4 rows at any volume: n_nulls ×factor; key columns' n_distinct
    // ×factor, min kept, max shifted by (factor−1)·offset; categorical
    // columns' n_distinct, min and max unchanged
    "p9_column_profile" -> Law[Map[String, (Long, Long, String, String)]]("profile-laws",
      c => profile(c.q(c.src)), { (c, b) =>
      val got = profile(c.q(c.big))
      val f = c.factor
      def keyLaw(k: String) = { val (nn, nd, mn, mx) = b(k)
        got(k) == ((nn * f, nd * f, mn, (mx.toLong + (f - 1) * c.offset).toString)) }
      def catLaw(k: String) = { val (nn, nd, mn, mx) = b(k); got(k) == ((nn * f, nd, mn, mx)) }
      (got.size.toLong, b.size.toLong, got.size == b.size && keyLaw("o_orderkey") &&
        keyLaw("o_custkey") && catLaw("o_orderstatus") && catLaw("o_orderpriority"))
    }),
    // states merge per status (shared across replicas): n ×factor, min
    // and max identical, the decimal sum ×factor within a few ulps of double
    "j22_incremental_agg" -> Law[Map[String, (Long, Double, Double, Double)]]("shared-state-merge",
      c => merged(c.q(c.src)), { (c, b) =>
      val got = merged(c.q(c.big))
      val f = c.factor
      (got.size.toLong, b.size.toLong, got.size == b.size && b.forall { case (k, (n, sm, mn, mx)) =>
        got.get(k).exists { case (gn, gs, gmn, gmx) =>
          gn == n * f && gmn == mn && gmx == mx && math.abs(gs - sm * f) <= math.ulp(sm * f) * 16 }
      })
    }),
    // auc_ppm is invariant (Mann–Whitney ratio); n_pos + n_neg ×factor
    "a19_auc" -> content("mann-whitney-invariant")((c, dir, _) =>
      collect(c.q(dir))(r => (s"${r.getString(0)}|${nullable(r, 3)}",
        r.getLong(1) + r.getLong(2))).sortBy(_._1)),
    // ppm ratios invariant, confusion mass ×factor
    "a20_pr_thresholds" -> content("ppm-invariant")((c, dir, _) =>
      collect(c.q(dir))(r => (s"${r.getString(0)}|${r.getDouble(1)}|" +
        Seq(5, 6, 7).map(nullable(r, _)).mkString("|"),
        r.getLong(2) + r.getLong(3) + r.getLong(4))).sortBy(_._1)),
    // replicas are disjoint isomorphic graphs with the same seeds: every
    // clone node's integer PPR equals its original's (unlimited table)
    "g19_personalized_pagerank" -> Law[Map[Long, Long]]("clone-ppr-inheritance",
      c => pprFull(c.spark, c.src).toMap, { (c, base) =>
      val big = pprFull(c.spark, c.big)
      val mism = big.count { case (node, p0) =>
        val bnode = if (node % 2 == 0) node / 2 % c.offset * 2 else (node - 1) / 2 % c.offset * 2 + 1
        !base.get(bnode).contains(p0)
      }
      (big.length.toLong, base.size.toLong, big.length == base.size * c.factor && mism == 0)
    }),
    // each pair's exact intersection ×factor, both verdicts still true
    "a21_hll_intersect" -> envelope("intersect-envelope")((c, dir) =>
      collect(c.q(dir))(r => (s"${r.getString(0)}|${r.getString(1)}", r.getLong(2),
        r.getBoolean(3))).sortBy(_._1)),
    // every pair count ×factor: the same merge each round, the learned
    // table identical with cnt ×factor
    "x31_bpe_train" -> content("merge-trajectory-invariant")((c, dir, _) =>
      collect(c.q(dir))(r => (s"${r.getLong(0)}|${r.getString(1)}|${r.getString(2)}",
        r.getLong(3)))),
    // replicas shift by whole windows: every base (window, rank, type,
    // count) row recurs exactly ×factor with the identical count
    "tw_windowed_topk" -> recurs("replica-closed-leaderboard")((c, dir) =>
      collect(c.q(dir))(r => s"${Math.floorMod(r.getTimestamp(0).getTime, TsShiftMs)}|" +
        s"${r.getInt(2)}|${r.getString(3)}|${r.getLong(4)}")),
    "st_windowed_topk" -> recurs("replica-closed-leaderboard")((c, dir) =>
      collect(c.q(dir))(r => s"${Math.floorMod(r.getLong(0), TsShiftMs)}|" +
        s"${r.getInt(2)}|${r.getString(3)}|${r.getLong(4)}")),
    // decoded channel statistics equal the analytic pixel law recomputed
    // in Catalyst (no codec code path), per asset
    "m9_png_decode" -> Law[Long]("closed-form-channel-sums", c => c.q(c.src).count(), { (c, b) =>
      val df = c.q(c.big)
      val bad = df.join(m9ExpectedStats(c.spark, c.big), "asset_id")
        .where(col("width") =!= col("e_w") || col("height") =!= col("e_h") ||
          col("sum_r") =!= col("e_sr") || col("sum_g") =!= col("e_sg") ||
          col("sum_b") =!= col("e_sb") || col("wsum_r") =!= col("e_wr")).count()
      val n = df.count()
      (n, b, n == b * c.factor && bad == 0L)
    }),
    "m10_png_resize" -> Law[Long]("closed-form-resample-sums", c => c.q(c.src).count(), { (c, b) =>
      val df = c.q(c.big)
      val bad = df.join(m10ExpectedStats(c.spark, c.big), "asset_id")
        .where(col("width") =!= 8 || col("height") =!= 5 || col("fmt") =!= "png" ||
          col("sum_rgb") =!= col("e_sum") || col("wsum_rgb") =!= col("e_wsum")).count()
      val n = df.count()
      (n, b, n == b * c.factor && bad == 0L)
    }),
    // clone markup differs only in the embedded 'Doc N' token
    "x35_html_extract" -> Law[Long]("clone-extraction-identity", c => c.q(c.src).count(), { (c, b) =>
      val strip = regexp_replace(col("extracted"), "^Doc [0-9]+ ", "")
      val big = c.q(c.big).select(pmod(col("doc_id"), lit(c.offset)).as("bid"), strip.as("body"))
      val base = c.q(c.src).select(col("doc_id").as("bid"), strip.as("bbody"))
      val n = big.count()
      val bad = big.join(base, "bid").where(col("body") =!= col("bbody")).count()
      (n, b, n == b * c.factor && bad == 0L)
    }))

  private def nullable(r: Row, i: Int): String =
    if (r.isNullAt(i)) "null" else r.getLong(i).toString

  private def triangles(c: Ctx, dir: String): DataFrame =
    graft.ops.GraphOps.triangleCounts(
      graft.queries.Battery.coPurchaseEdges1995(c.spark, dir), "l_partkey", "l_partkey2")

  private def profile(df: DataFrame) = collect(df)(r =>
    r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getString(3), r.getString(4)))).toMap

  private def merged(df: DataFrame) = collect(df)(r =>
    r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap

  /** g19's unlimited personalized-PageRank table as (node, ppr). */
  private def pprFull(spark: SparkSession, dir: String): Seq[(Long, Long)] = {
    val edges = spark.read.parquet(s"$dir/lineitem.parquet").select(
      (col("l_orderkey") * 2).as("src"), (col("l_partkey") * 2 + 1).as("dst"))
    val seeds = spark.read.parquet(s"$dir/orders.parquet")
      .where(col("o_orderkey") % 500 === 0)
      .select((col("o_orderkey") * 2).as("node"))
    collect(graft.ops.GraphOps.personalizedPagerankMicro(
      edges, "src", "dst", seeds, "node", iters = 3))(r => (r.getLong(0), r.getLong(1)))
  }

  /** m9's closed-form channel statistics: the analytic pixel law over a
    * sequence explode.
    */
  private def m9ExpectedStats(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")
      .where(expr("doc_id % 3 = 1"))
      .select(col("doc_id").as("asset_id"),
        expr("int(4 + doc_id % 13)").as("e_w"), expr("int(3 + doc_id % 7)").as("e_h"))
      .select(col("asset_id"), col("e_w"), col("e_h"),
        explode(expr("sequence(0L, cast(e_w * e_h - 1 as long))")).as("i"))
      .select(col("asset_id"), col("e_w"), col("e_h"), col("i"),
        expr("i % e_w").as("x"), expr("i div e_w").as("y"))
      .select(col("asset_id"), col("e_w"), col("e_h"), col("i"),
        expr("(asset_id + 7 * x + 13 * y) % 256").as("r"),
        expr("(3 * asset_id + 5 * x + y) % 256").as("g"),
        expr("(11 * asset_id + x + 2 * y) % 256").as("b"))
      .groupBy("asset_id", "e_w", "e_h")
      .agg(sum("r").as("e_sr"), sum("g").as("e_sg"), sum("b").as("e_sb"),
        sum(expr("i * r")).as("e_wr"))

  /** m10's twin: the 8×5 nearest-resample sampling law composed with the
    * pixel law.
    */
  private def m10ExpectedStats(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")
      .where(expr("doc_id % 3 = 1"))
      .select(col("doc_id").as("asset_id"),
        expr("int(4 + doc_id % 13)").as("w0"), expr("int(3 + doc_id % 7)").as("h0"))
      .select(col("asset_id"), col("w0"), col("h0"),
        explode(expr("sequence(0L, 39L)")).as("i"))
      .select(col("asset_id"), col("i"),
        expr("((i % 8) * w0) div 8").as("sx"), expr("((i div 8) * h0) div 5").as("sy"))
      .select(col("asset_id"), col("i"),
        expr("(asset_id + 7 * sx + 13 * sy) % 256").as("r"),
        expr("(3 * asset_id + 5 * sx + sy) % 256").as("g"),
        expr("(11 * asset_id + sx + 2 * sy) % 256").as("b"))
      .groupBy("asset_id")
      .agg(sum(expr("r + g + b")).as("e_sum"),
        sum(expr("3 * i * r + (3 * i + 1) * g + (3 * i + 2) * b")).as("e_wsum"))

  // ---- purge and composed: the two state flows at volume --------------

  private def sortedRows(df: DataFrame): Seq[String] =
    df.orderBy(df.columns.map(col): _*).collect().map(_.mkString("|")).toSeq

  /** The replicated corpus (`doc_id % 97 != 0`) and its replica-0 queries
    * (a base-sized query set at any factor), in a fresh `sub` of workDir.
    */
  private def corpusAndQueries(spark: SparkSession, a: Args, dataDir: String,
      offset: Long, sub: String): (DataFrame, DataFrame, String) = {
    val docs = spark.read.parquet(s"$dataDir/documents.parquet")
    val dir = new org.apache.hadoop.fs.Path(s"${a.work}/$sub")
    // a re-run must not measure the previous run's state
    dir.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(dir, true)
    (docs.where(pmod(col("doc_id"), lit(97)) =!= 0),
      docs.where(pmod(col("doc_id"), lit(97)) === 0 && col("doc_id") < offset)
        .select(col("doc_id").as("qid"), col("text")),
      dir.toString)
  }

  private def purge(spark: SparkSession, a: Args, dataDir: String,
      offset: Long): Seq[(String, Any)] = {
    val I = graft.ops.IncrementalIndexOps
    val (corpus, queries, state) = corpusAndQueries(spark, a, dataDir, offset, "bm25_state")
    def search() = sortedRows(I.bm25Search(spark, state, queries, "qid", "text", 10))
    val (ingestSec, _) = timed(I.ingestTextShard(spark, corpus, "doc_id", "text", state, 0L))
    val root = graft.ops.StateRoot(I.Bm25, state)
    val (delSec, _) = timed(root.delete(spark,
      corpus.where(pmod(col("doc_id"), lit(7)) === 0).select("doc_id"), "doc_id"))
    val (tombSec, before) = timed(search())
    val (purgeSec, _) = timed(root.purge(spark))
    val retired = !graft.ops.BatchState.hasDeletionRoot(spark, state)
    val (searchSec, after) = timed(search())
    Seq("ingest_s" -> ingestSec, "delete_s" -> delSec, "search_tombstoned_s" -> tombSec,
      "purge_s" -> purgeSec, "search_purged_s" -> searchSec, "rows" -> after.size,
      "equal" -> (after == before), "del_root_retired" -> retired,
      "ok" -> (after == before && retired))
  }

  private def composed(spark: SparkSession, a: Args, dataDir: String,
      offset: Long): Seq[(String, Any)] = {
    import org.apache.hadoop.fs.Path
    val (corpus, queries, base) = corpusAndQueries(spark, a, dataDir, offset, "composed")
    val (watch, ckpt, state) = (s"$base/in", s"$base/ckpt", s"$base/state")
    val fs = new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new Path(watch))
    def landShard(df: DataFrame, name: String): Unit = {
      val tmp = s"$base/tmp_$name"
      df.write.parquet(tmp)
      fs.globStatus(new Path(s"$tmp/part-*")).zipWithIndex.foreach { case (st, i) =>
        val dest = new Path(s"$watch/${name}_$i.parquet")
        require(fs.rename(st.getPath, dest), s"could not land ${st.getPath} at $dest")
      }
    }
    def drain(): Unit = graft.streaming.Streaming.curateAndIndexIngest(
      spark, watch, corpus.schema, ckpt, state, "doc_id", "text")
    val r = corpus.agg(min(col("doc_id")), max(col("doc_id"))).head
    val mid = (r.getLong(0) + r.getLong(1)) / 2
    landShard(corpus.where(col("doc_id") <= mid), "s1")
    val (drain1Sec, _) = timed(drain())
    landShard(corpus.where(col("doc_id") > mid), "s2")
    val (drain2Sec, _) = timed(drain())
    val (searchSec, streamed) = timed(sortedRows(graft.ops.IncrementalIndexOps.bm25Search(
      spark, s"$state/index", queries, "qid", "text", 10)))
    val (oneShotSec, expected) = timed {
      val kept = graft.ops.CorpusOps.curate(corpus, "doc_id", "text").select("doc_id")
      sortedRows(graft.ops.RetrievalOps.bm25TopK(
        corpus.join(kept, Seq("doc_id"), "left_semi"), queries,
        "doc_id", "text", "qid", "text", 10).withColumnRenamed("doc_id", "id"))
    }
    Seq("drain1_s" -> drain1Sec, "drain2_s" -> drain2Sec, "search_s" -> searchSec,
      "oneshot_s" -> oneShotSec, "rows" -> streamed.size,
      "equal" -> (streamed == expected), "ok" -> (streamed == expected))
  }

  // ---- jobs: per-job wall, tasks and shuffle bytes --------------------

  private final class JobRec(val desc: String, val submitted: Long) {
    @volatile var completed = 0L
    @volatile var tasks = 0
    @volatile var shuffleRead = 0L
    @volatile var shuffleWrite = 0L
  }

  private def jobs(spark: SparkSession, dir: String, name: String,
      emit: String => Unit): Seq[(String, Any)] = {
    val recs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
    // Integer, not Int: a missing stage must read as null, not as job 0
    val stageToJob = new java.util.concurrent.ConcurrentHashMap[Integer, Integer]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
        recs.put(e.jobId, new JobRec(desc, e.time))
        e.stageIds.foreach(st => stageToJob.put(st, e.jobId))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(recs.get(e.jobId)).foreach(_.completed = e.time)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val s = e.stageInfo
        Option(stageToJob.get(s.stageId)).flatMap(j => Option(recs.get(j.intValue)))
          .foreach { r =>
            r.tasks += s.numTasks
            r.shuffleRead += s.taskMetrics.shuffleReadMetrics.totalBytesRead
            r.shuffleWrite += s.taskMetrics.shuffleWriteMetrics.bytesWritten
          }
      }
    }
    def once(): Double = timed(SparkEntry.queries(name)(spark, dir)
      .write.format("noop").mode("overwrite").save())._1
    once() // warm: JIT and codegen out of the measured pass
    spark.catalog.clearCache()
    spark.sparkContext.addSparkListener(listener)
    import scala.jdk.CollectionConverters._
    val wall = try once() finally {
      // listener events arrive asynchronously: wait (bounded) for job ends
      val deadline = System.nanoTime() + 5000000000L
      while (recs.values.asScala.exists(_.completed == 0L) && System.nanoTime() < deadline)
        Thread.sleep(10)
      spark.sparkContext.removeSparkListener(listener)
      spark.catalog.clearCache()
    }
    val sorted = recs.asScala.toSeq.sortBy(_._2.submitted)
    for ((id, r) <- sorted)
      emit(json("query" -> name, "job" -> id, "sec" -> (r.completed - r.submitted).max(0L) / 1e3,
        "tasks" -> r.tasks, "shuffle_read" -> r.shuffleRead,
        "shuffle_write" -> r.shuffleWrite, "desc" -> r.desc.take(90)))
    val jobSum = sorted.map(r => (r._2.completed - r._2.submitted).max(0L)).sum / 1e3
    Seq("sec" -> wall, "jobs" -> sorted.size, "job_sum_s" -> jobSum,
      "driver_gap_s" -> (wall - jobSum), "ok" -> true)
  }
}
