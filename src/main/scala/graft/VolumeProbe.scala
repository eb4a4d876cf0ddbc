package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Volume probe: replicate a testdata SF N× with per-replica key
  * remapping, then run the headline battery plans against the inflated
  * copy under whatever heap the JVM was given — the point is to show
  * the plans COMPLETE and their outputs scale linearly when the data
  * grows 10× but memory does not (spill-safe shuffles, no driver-side
  * materialization, no broadcast of something that grew with the data).
  *
  * Replication is a narrow `explode(sequence(0, N-1))` fan-out — no
  * shuffle — with every join/identity key remapped
  * `key + replica·keyOffset` (the offset a multiple of ModLcm, see
  * below — an additive remap, because a multiplicative one would
  * reshuffle the fixtures' modular entity derivations), so each
  * replica is a self-consistent closed world: join
  * cardinalities, group sizes, and pipeline outputs all scale exactly
  * ×N, which turns "did it survive the volume" into checkable row
  * arithmetic instead of a vibe. (Non-key attributes are byte-identical
  * across replicas — deliberately adversarial for the dedup family,
  * whose candidate buckets grow quadratically in the clone count.)
  *
  * Usage: `SPARK_DRIVER_MEM=6g sbt "runMain graft.VolumeProbe
  * /root/testdata/sf0.1 /tmp/vol10 10"` — results print as one JSON
  * line per query plus a trailing summary line; see SCALE_PROBE.md for
  * the recorded run.
  */
object VolumeProbe {

  /** Tables the headline probe queries read. */
  private val tables = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Identity/join keys to remap per replica: every TPC-H `*key`
    * column plus the documents/embeddings/events ids.
    */
  private def keyCols(df: DataFrame): Seq[String] =
    df.columns.toSeq.filter(c =>
      c.endsWith("key") || c == "doc_id" || c == "vec_id" ||
        c == "event_id" || c == "user_id")

  /** Per-replica timestamp shift (events `ts`): the corpus spans ~30
    * days, so 3650 days puts each replica in its own disjoint decade —
    * time-window joins, as-of lookups, and windowed aggregations all
    * stay replica-local and scale exactly ×factor. A whole number of
    * days keeps day-truncations and window-bucket alignment identical
    * within every replica.
    */
  val TsShiftDays = 3650L

  /** lcm of every `% m` a probed query derives membership from: the
    * KfShaped fixture's entity moduli
    * (2,3,4,5,6,7,10,90,100,900,1000,4000,5000,6000,7000 → 1 260 000),
    * x8's benchmark split (`doc_id % 97`), and x9's shard (`% 8`,
    * already covered). An offset that is a multiple of this leaves
    * `key % m` unchanged, so each replica derives the same entities /
    * benchmark membership from its remapped keys and outputs scale
    * EXACTLY ×factor. (A multiplicative remap `key*factor+rep` breaks
    * this — it reshuffles modular membership and the scaling assert
    * becomes approximate.)
    */
  private val ModLcm = 1260000L * 97L

  def multiply(df: DataFrame, factor: Int, keyOffset: Long): DataFrame = {
    require(keyOffset % ModLcm == 0, s"offset must preserve mod-$ModLcm classes")
    val exploded = df.withColumn("__rep",
      explode(sequence(lit(0L), lit(factor - 1L))))
    val keyed = keyCols(df).foldLeft(exploded) { (d, c) =>
      d.withColumn(c, col(c) + col("__rep") * keyOffset)
    }
    // ts-offset replica rule: shift each replica into its own decade so
    // time-keyed plans (as-of, time-bound joins, windows) stay closed
    // per replica — works on either physical ts form (NTZ or long nanos)
    val shifted =
      if (!df.columns.contains("ts")) keyed
      else df.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType => // nanos-as-long
          // Overflow guard: a ~2024 epoch base is ~1.7e18 ns and each
          // replica adds ~3.15e17 ns — factor ≳ 25 would wrap Long and
          // break the disjoint-decades closure the ×N laws depend on.
          // Fail loudly instead of corrupting replicas.
          val shiftNs = TsShiftDays * 86400L * 1000000000L
          val maxRow = df.agg(max(col("ts")).cast("long")).head
          val baseMaxTs = if (maxRow.isNullAt(0)) 0L else maxRow.getLong(0)
          // guard via DIVISION: the product form `(factor-1) * shiftNs`
          // itself wraps Long for factor >= 31 and can land small-positive,
          // silently passing the very check meant to catch the wrap
          require(baseMaxTs >= 0 &&
              (factor - 1).toLong <= (Long.MaxValue - baseMaxTs) / shiftNs,
            s"replica ts shift overflows Long: max ts $baseMaxTs + " +
              s"${factor - 1} * $shiftNs ns — lower the factor")
          keyed.withColumn("ts",
            col("ts") + col("__rep") * lit(shiftNs))
        case _ =>
          keyed.withColumn("ts",
            expr(s"timestampadd(DAY, $TsShiftDays * __rep, ts)"))
      }
    shifted.drop("__rep")
  }

  /** Smallest ModLcm multiple strictly above every key in every table —
    * replicas get disjoint key ranges while keeping modular classes.
    */
  def keyOffsetFor(spark: SparkSession, srcDir: String): Long = {
    val maxKey = tables.map { t =>
      val df = spark.read.parquet(s"$srcDir/$t.parquet")
      val ks = keyCols(df)
      if (ks.isEmpty) 0L
      else {
        val maxes = ks.map(c => max(col(c)).cast("long"))
        val top = if (maxes.size == 1) maxes.head else greatest(maxes: _*)
        df.select(top).head().getLong(0)
      }
    }.max
    (maxKey / ModLcm + 1) * ModLcm
  }

  /** Headline plans: the e2e ETL pipeline, the dedup corpus rollup,
    * banded near-dup pair generation (MinHash and SimHash forms), the
    * corpus token histogram, benchmark decontamination, sequence
    * packing, and the widest outer-join chain.
    */
  val headline: Seq[String] = Seq(
    "kf_full_pipeline", "d6_dedup_corpus", "d2b_neardup_pairs",
    "d7_simhash_pairs", "d8_dup_spans", "x5_token_freq",
    "x15_bigram_counts", "x8_decontaminate", "x9_pack_sequences",
    "x14_domain_cap", "c1_corpus_curation", "n6_kmeans_fit",
    "j_outer_chain", "j14_asof_join", "tw_timebound_join",
    "x17_epoch_shuffle", "x19_token_chunks",
    "m2_multimodal_decode", "m3_frame_sample",
    "x21_bloom_decontaminate", "tw_timebound_full_join", "st_type_counts",
    "st_last_events",
    "st_session_timeout", "x9b_pack_bpe", "m6_resize",
    "st_warm_start", "x23_bpe_token_freq", "m6b_resize_bilinear",
    "m7_video_resize", "m8_audio_resample",
    "x25_lm_score", "x26_dsir_score", "n8_sq_quantize",
    "x27_sliding_chunks", "tw_timebound_semi_join",
    "x29_leakage_free_splits",
    "g2_sessionize", "j19_scd2_merge", "d10_edit_distance_join",
    "g3_locf_fill", "a16_mad_outliers",
    "g5_triangle_count", "g6_funnel",
    "g7_retention", "g8_transitions", "x30_bm25_retrieval",
    "g9_session_paths", "g10_streaks", "g11_ewma",
    "g12_interpolate", "g13_cooccurrence", "g14_twap",
    "g15_peak_concurrency",
    "j18_bloom_pruned_join", "n9_binary_quantize", "x28_pmi_collocations",
    "j20_cdc_apply", "g16_interval_union", "g17_bfs_hops",
    "a17_hll_rollup", "x33_rrf_fusion",
    "g18_attribution", "a18_equidepth_bins", "n10_mmr_rerank",
    "st_cdc_latest", "x34_k_anonymity", "p9_column_profile",
    "j21_table_diff", "j22_incremental_agg",
    "a19_auc", "a20_pr_thresholds",
    "g19_personalized_pagerank", "a21_hll_intersect",
    "x31_bpe_train", "tw_windowed_topk", "st_windowed_topk",
    "m9_png_decode", "m10_png_resize", "x35_html_extract",
    "c2_incremental_curation", "m11_image_neardup",
    "x36_incremental_bm25",
    "m12_incremental_image_neardup", "n11_incremental_semdedup",
    "n12_incremental_ivf", "n14_ivf_tombstones",
    "m15_image_tombstones")
  // Round-16 wave — the incremental state family's remaining
  // modalities, probed through the same laws their one-shot twins
  // established. m12 (shares m11's replica0-pair-identity law): each
  // replica derives DIFFERENT images (the pixel law reads the shifted
  // id), so pairs entirely inside replica 0 must equal the base pair
  // set exactly while the banded state join runs at 10× the stored
  // index. n11 (default exact ×factor): semanticDedupView emits ONE
  // row per ingested vector unconditionally, so rows scale exactly
  // ×factor — the content itself re-clusters (replica vectors are
  // byte-identical, so cross-replica cliques merge components and the
  // 10× codebook is fit on a different shard split), which is precisely
  // the state machinery under stress, pinned by row arithmetic not
  // vibe. n12 (query-closed): the query set is `vec_id < 10` — only
  // replica 0 qualifies after key remapping — so rows stay EXACTLY the
  // base count (10 queries × k) while the probed cell join runs
  // against a 10× postings state; fewer or more rows means the
  // accumulated-state probe join broke. n14 (same query-closed law):
  // its deletion set is `vec_id % 9 = 0`, and 9 DIVIDES the replica
  // offset, so clone deletion membership is replica-closed — the
  // tombstone anti-join runs against a 10× cell state with a 10×
  // tombstone set and must still hand each query exactly k survivors.
  // m15 (image tombstones — shares m11/m12's replica0-pair-identity
  // law): the `doc_id % 7` deletion is replica-closed (7 divides the
  // offset), so replica 0's surviving pairs must equal the base run's
  // exactly while the anti-join filters a 10× edge state.
  // x37 (BM25 tombstones) is NOT probed:
  // its deletion set keys on doc_id % 13, which does not divide the
  // replica offset, so clone deletion membership differs by replica and
  // no closed-form law exists — the tombstone arithmetic is
  // oracle-pinned at sf0.01 instead (x37), and its state machinery is
  // x36's plus one anti-join.
  // c2 (default dedup-invariant law, with c1): replicas are
  // byte-identical text, so the exact-dedup stage of the INCREMENTAL
  // path also collapses every clone set to its replica-0 member and
  // two-shard incremental curation of N copies returns exactly the 1×
  // curation — while exercising the shard-ingest state machinery
  // (prefix-index join, cross-shard edges, batch directories) at 10×
  // the corpus. m11 (custom): each replica derives DIFFERENT images
  // (the pixel law reads the shifted id), so only replica 0 is
  // comparable: pairs entirely inside replica 0 must equal the base
  // pair set exactly (same images ⇒ same dHashes ⇒ same banding),
  // cross-replica pairs are legitimate extra near-dups the 1× run
  // cannot see.
  // Round-13 wave. x31 (custom): replication multiplies every word
  // frequency — hence every pair count — by exactly `factor`, so the
  // argmax + deterministic tie-break picks the SAME merge each round:
  // the whole learned merge TABLE must be identical with cnt ×factor
  // (the trajectory-invariance law). tw/st_windowed_topk (custom): the
  // ts-offset rule shifts replicas by whole multiples of the window
  // length, so every clone window reproduces its base window's
  // leaderboard VERBATIM — each base (window-mod-shift, rank, type,
  // count) row appears exactly `factor` times with the IDENTICAL
  // count (per-window counts are replica-closed, NOT ×factor) — and
  // the st twin additionally runs the MapState processor at 10× the
  // window keys. m9/m10 (custom): the channel-sum law — expected
  // width/height/channel statistics recomputed INDEPENDENTLY in
  // Catalyst from the analytic pixel law (sequence + integer
  // arithmetic — no codec code path), joined per asset; zero
  // mismatches proves the ImageIO decode (and the resize round trip)
  // exact at 10× the images. x35 (custom): clone markup differs only
  // in the embedded doc id, so stripping the 'Doc N' token must make
  // every clone's extraction byte-equal its base's via id % offset.
  // g19 (custom): replicas are disjoint isomorphic graphs with the
  // same %500 seed derivation (500 | ModLcm), so every clone node's
  // integer PPR equals its base node's — checked on the UNLIMITED
  // score table via node % offset (the top-100 battery row truncates).
  // a21 (custom): statuses are shared non-key attributes and custkeys
  // shift per replica, so each pair's exact intersection scales ×f
  // with both verdicts still true at 10× the cardinality.
  // Eval wave (round 12). a19 (custom): groups/scores/labels are all
  // non-key attributes, so every (group, score) cell's pos/neg inflate
  // ×f together — U2 scales ×f², the denominator 2·n₊·n₋ scales ×f²,
  // and auc_ppm is PROVABLY INVARIANT under replication (the
  // Mann–Whitney ratio law); n_pos/n_neg scale ×f, 5 rows at any
  // volume. a20 (custom): tp/fp/fn ×f and every ppm ratio invariant
  // (⌊f·a·10⁶ div f·b⌋ = ⌊a·10⁶ div b⌋ — the common factor cancels in
  // integer division); groups × thresholds rows at any volume.
  // Wave-4 (round 12). j21: the mutation waves derive from %9/%4/%6/
  // %25 — all divide ModLcm — so each replica re-derives the identical
  // removed/changed/added membership from its remapped keys (negated
  // added keys stay replica-disjoint: −(k + r·offset)); the diff is
  // per-replica-closed → exact ×factor. j22 (custom): o_orderdate is a
  // non-key attribute, so every replica derives the same 1994/1995
  // split; states merge per status (SHARED across replicas — status is
  // non-key) → 3 rows at ANY volume with n ×factor, sum ×factor
  // (decimal-exact: Σ of f copies = f·Σ), min/max byte-identical
  // (value multisets replicate).
  // Wave-3 (round 12). st_cdc_latest: j20's log closure (%3/%5/%7 all
  // divide ModLcm) with tombstones kept → one current row per key,
  // exact ×factor — the transformWithState batch path at 10× the
  // state keys. x34 (custom): c_nationkey is a *key column*, so the
  // remap makes each replica's classes DISJOINT clones (not shared
  // cells — segment/balance are untouched but the nation leg shifts):
  // rows scale exactly ×factor and every clone class must inherit its
  // base class's (class_size, violates_k) verbatim via
  // nationkey % offset.
  // p9 (custom): 4 profile rows at ANY volume; n_nulls ×factor, key
  // columns' n_distinct ×factor with min unchanged (replica 0 keeps
  // the base keys) and max shifted by (factor−1)·offset, categorical
  // columns' distinct/min/max byte-identical.
  // Wave-2 (round 12). g18: users AND decades replica-disjoint, so the
  // carry window never crosses replicas and every clone purchase
  // inherits its original's (channel, Δt) → one row per purchase,
  // exact ×factor. n10: queries inflate ×factor (97 | ModLcm) and
  // every query still has ≥ 20 candidates, so rows = queries × k →
  // exact ×factor (NOT pick-identity: clone candidates tie originals
  // on cosine, so a ×N shortlist legitimately contains exact-duplicate
  // clones — which the diversity term then has to fight; surviving
  // THAT at volume is the interesting part). a18 (custom): output is
  // the same groups × nBins cells at ANY volume — the binning scale
  // contract — with per-status Σn exactly ×factor and the ntile
  // equal-population guarantee (max−min ≤ 1 per status) still holding;
  // per-bin counts are NOT exactly ×factor when a status's row count
  // isn't bin-divisible, so that stronger form is deliberately not
  // asserted.
  // Eleventh wave (round 12). j20: the change-log waves derive from
  // %3/%5/%7 — all divide ModLcm — so each replica re-derives the same
  // upsert/delete/tie membership from its remapped keys → exact
  // ×factor (the battery row was moved OFF %11 for exactly this
  // closure). g16: lineitem DATES are not shifted, so clone suppliers
  // merge the identical interval multiset → rows ×factor (per-clone
  // n_spans/covered/hull inherited — the g15 argument, union side).
  // g17: node ids shift by 2·rep·offset (parity preserved), replicas
  // are disjoint components, and %500 divides ModLcm so each replica
  // derives the same sources → every clone node inherits its
  // original's hop distance and rows scale exactly ×factor — an
  // ITERATIVE frontier loop that scales exactly is the working-set
  // claim made good at volume. x33: 97 divides ModLcm so queries
  // inflate ×factor, every query still fuses ≥ k candidates → rows =
  // queries × k scale exactly ×factor (the fused ranking itself
  // reshuffles under clone ties — only the shape law holds; the
  // score-inheritance laws live with the upstream rankers).
  // a17 (custom handler): output is |status| rows at ANY volume — the
  // sketch-cube scale contract itself — with exact_distinct ×factor
  // (custkeys shift per replica) and both tolerance verdicts still
  // true at 10× the cardinality.
  // Tenth wave (round 12). j18: per-replica-closed equi-join (keys
  // shift together, o_totalprice untouched) → default exact ×factor;
  // the bloom pre-filter may only change WORK, never rows. x28: the
  // raw battery row's law would break at volume (minCount=5 admits
  // base-count-1 bigrams once counts inflate ×10), so the probe scales
  // minCount WITH the corpus (5·factor): cb≥5 ⟺ 10cb≥50 keeps the
  // candidate set exactly the base's, every PMI score is
  // scale-invariant (10⁶·10cb·10N div (10c1·10c2) = the base ratio),
  // and the ranked top-30 must be IDENTICAL with cb ×factor.
  // n9: the output is query-bounded (5 queries × k rows at ANY
  // volume — the scale contract itself), ranks are a permutation of
  // 1..k per query, every neighbor's clone-class (id mod offset) must
  // come from the BASE Hamming shortlist (provable: a clone entering
  // the ×N top-30 implies its base member's (ham, cid) rank ≤ 30 —
  // all rep-0 members with lower (ham, cid) precede it in the
  // (ham, cid) order), and clones of the SAME base vector must rank
  // in replica order (cosine ties break by cid asc — determinism
  // under clone inflation).
  // Ninth wave — all four are per-replica-closed, so the default exact
  // ×factor law applies; the sharper content laws live in
  // VolumeProbeSpec. g12_interpolate: clone users replay identical
  // (day, cents) sequences shifted by rep·3650 days, so each clone's
  // spine has the base span length (rows ×factor) and every clone day
  // inherits its original's interpolated value (datediff is
  // shift-invariant). g13_cooccurrence: baskets are replica-local
  // (orderkeys AND partkeys disjoint), the key remap ADDS a constant —
  // monotonic — so clone neighbor order under the (n_co desc, other
  // asc) tiebreak is preserved and every clone pair inherits (n_co,
  // rnk). g14_twap: hold durations are shift-invariant and the cent
  // sequence is untouched → one row per user, twap inherited.
  // g15_peak_concurrency: lineitem DATES are not ts-shifted, so clone
  // suppliers sweep the identical interval multiset → peak AND peak_at
  // inherited verbatim.
  // Eighth wave: g11_ewma — one row per user (exact ×factor); the
  // sharper law (the value column is untouched by replication, so
  // every clone user folds the identical cent sequence and inherits
  // its original's smoothed state) is pinned in VolumeProbeSpec.
  // g9_session_paths is a ranked-content law — sessions
  // are replica-local (users + decades disjoint) and clone users replay
  // identical event-type sequences, so the top-20 path histogram must
  // return the IDENTICAL ranked rows with counts ×factor. g10_streaks:
  // runs are replica-local under the same argument → exact ×factor
  // rows (replica-0 rows byte-identical, pinned in VolumeProbeSpec).
  // Seventh wave: g7_retention's OUTPUT rows are NOT ×factor — the
  // 3650-day ts shift is not a whole number of weeks, so a base cohort
  // can straddle two clone cohort weeks — but week_k is a pure
  // difference (⌊Δdays/7⌋), so every clone user replays its original's
  // week_k multiset exactly: the law is the retention CURVE,
  // Σ n_active per week_k ≡ base ×factor. g8_transitions is
  // |states|²-bounded (row count can't scale): the law is CONTENT —
  // the identical (from, to) matrix with n ×factor and p_ppm
  // byte-identical (floor(f·n·10⁶ div f·T) = floor(n·10⁶ div T)).
  // x30_bm25_retrieval: queries inflate ×factor too (97 divides
  // ModLcm) and every query still matches ≥ k docs, so rows = queries
  // × k scale exactly ×factor; the sharper laws (per-clone score
  // inheritance, base top-score identity — the scoring fractions
  // inflate uniformly) are pinned in VolumeProbeSpec/RetrievalOpsSpec.
  // x36_incremental_bm25 (round 15): the SAME ×factor law through the
  // batch-partitioned index state instead of a one-shot rebuild — at
  // 10× this ingests two 10×-sized shards into postings/df/globals
  // parquet state and searches the union-read, so what's stressed is
  // the state machinery (additive df/globals re-aggregation, postings
  // union) at volume; scores are replication-invariant by the same
  // integer-ratio argument, and x36 ≡ x30 row-for-row is already
  // oracle-pinned at sf0.01.
  // Sixth wave: g6_funnel — one row per user and users AND decades are
  // replica-disjoint, so funnels are replica-local → exact ×factor
  // (depths identical per clone user, pinned in VolumeProbeSpec).
  // g5_triangle_count probes the UNLIMITED operator (the battery row's
  // top-100 pins its row count at 100, which measures nothing): the
  // co-purchase graph inflates to `factor` disjoint isomorphic copies
  // (l_orderkey and l_partkey shift together; o_orderdate is a non-key
  // attribute, so 1995 membership is preserved), so node rows and
  // total triangle incidences both scale exactly ×factor AND every
  // inflated node's count equals its original's (node % offset) —
  // wedge fan-out is stressed at 10× the edges in the same heap.
  // Fifth wave: g3_locf_fill — each replica's per-user day spans are
  // the base spans shifted by whole days (users disjoint, ts shifted
  // 3650·rep days), so spine+fill rows scale exactly ×factor.
  // a16_mad_outliers — one output row per order (×factor trivially);
  // the sharper invariance (the grouping key o_orderpriority is SHARED
  // across replicas, so each group sees the same value multiset
  // ×factor and its median/MAD/flags are IDENTICAL) is pinned in
  // VolumeProbeSpec, as is g4_pagerank's clone-score equality (top-k
  // output makes its probe row count meaningless here).
  // Fourth wave (round 11): g2_sessionize — user ids AND decades are
  // replica-disjoint, so every session is replica-local and the
  // per-session rollup scales exactly ×factor. j19_scd2_merge — the
  // delta membership (%7) and the no-op split (%14) both divide
  // ModLcm, so each replica re-derives the same changed/kept/opened
  // legs from its remapped keys → exact ×factor. d10_edit_distance_join
  // gets a CLOSED-FORM law (the d7 pattern, but exact): clone text is
  // byte-identical, so the inflated pair set is precisely every
  // original pair across all replica combinations (factor² × base)
  // plus every clone family's internal dist-0 pairs (C(factor,2) per
  // document) — candidates stay bucket-quadratic where clones cluster,
  // never corpus-quadratic, and the count must land EXACTLY on the
  // formula.
  // Round-11 rows: st_session_timeout (the TIMER path — batch gap-0
  // emits exactly one timer-flushed session per user; users disjoint
  // per replica → exact ×factor), x9b_pack_bpe (packing by REAL BPE
  // token counts — one output row per document, the merge-table encode
  // a narrow codegen'd map whose per-word memo is vocabulary-sized →
  // exact ×factor), and m6_resize (decode+resample+re-encode per image;
  // the offset preserves the mod-3 media classes, so each replica
  // contributes exactly the base image set → exact ×factor; 10× the
  // codec work in the same heap is the claim). Second wave:
  // st_warm_start (initial-state bootstrap — snapshot AND stream both
  // derive from the replicated events, per-replica closed → one row
  // per user with odd-id events, exact ×factor), x23_bpe_token_freq
  // (ranked-content law: replica text is byte-identical, so the top-50
  // subword histogram returns IDENTICAL ranked rows with counts
  // ×factor), m6b/m7/m8 (the bilinear, video, and audio resample
  // round-trips at 10× the codec work — counts replica-closed via the
  // preserved mod-3 media classes).
  // x21 probes the Bloom path at volume: the benchmark side inflates
  // ×factor too (doc_id % 97 divides ModLcm), the blob stays one
  // bounded driver object, and the exact-verified output must equal
  // x8's — i.e. scale exactly ×factor. tw_timebound_full_join: users
  // AND decades disjoint per replica, so matched pairs and both
  // null-padded sides all scale ×factor. st_type_counts: one row per
  // (user, type) seen — users disjoint per replica → exact ×factor.
  // The multimodal rows probe REAL container decode at volume: every
  // replica re-derives its own WAV/BMP/AVI payloads from its remapped
  // doc_id, and the decode is a narrow map — so row counts are
  // replica-closed and scale exactly ×factor (media_type = id % 3 and
  // the AVI frame count = 2 + id % 9 survive the ModLcm remap — 3 and
  // 9 divide it; the dimension moduli 11/13/191 do NOT, which only
  // changes decoded CONTENT per replica, never row counts — a probe
  // that decodes 10× the containers in the same heap is the claim).
  // The two events-family probes pin the time-keyed claims: j14's
  // window-over-union emits exactly one row per left event (×factor by
  // user-disjoint replicas), and tw_timebound_join's per-key fan-out is
  // bounded by per-user-per-2h density — cross-replica pairs are
  // impossible with both user ids AND decades disjoint, so pair counts
  // scale exactly ×factor, never quadratically.
  // Third wave (round 11): x25_lm_score — one row per document → exact
  // ×factor; stronger, the SCORES are replica-invariant by arithmetic
  // (every model count and the total inflate ×factor together, and
  // floor(10a/10b) = floor(a/b)), so the LM itself is provably unchanged
  // by replication. x26_dsir_score — one row per document → exact
  // ×factor (the smoothed ratios shift by design: +1 smoothing does not
  // commute with ×10 counts). n8_sq_quantize — clone vectors are
  // byte-identical, so per-dimension min/max and therefore every code
  // array are unchanged; one row per vector → exact ×factor.
  // x27_sliding_chunks — chunk count is a pure function of each clone's
  // byte-identical text → exact ×factor, all narrow.
  // tw_timebound_semi_join — semi-join hits are per-user and users are
  // replica-disjoint → exact ×factor, and the at-most-once semantics
  // mean the count can never exceed the view count no matter how click
  // volume grows.
  // x29_leakage_free_splits — one row per document → exact ×factor even
  // though the near-dup graph genuinely MERGES across replicas (every
  // clone family becomes one component): the output is per-doc, and
  // merged components just mean whole clone families land in one split
  // — which is exactly the leakage guarantee, stress-tested at volume.
  // n6's law is exact ×factor BY CONSTRUCTION, not just by closure:
  // seeds are the k lowest ids — replica 0's originals — and each
  // clone set contributes 10 identical copies to its cell's mean, so
  // every centroid (a mean) is unchanged and every clone inherits its
  // original's assignment. An iterative fit that scales exactly is
  // strong evidence nothing in the loop depends on partitioning.

  /** Ranked-histogram queries: text is byte-identical across replicas,
    * so the EXACT SAME ranked rows must come back with every count
    * ×factor — a content check, since the limit pins the row count.
    */
  private val rankedContent = Set("x5_token_freq", "x15_bigram_counts",
    "x23_bpe_token_freq", "g9_session_paths")

  // x17/x19 laws (the distributed global-numbering family — range sort +
  // zipWithIndex / prefix sum): the seeded permutation INTERLEAVES
  // replicas (md5 of remapped ids scatters them), so per-position
  // content can't be compared to the base — the laws are the ones that
  // survive cross-replica hash interleaving:
  //   x17: pos is a BIJECTION onto 1..(factor·N) — count, min, max,
  //        countDistinct all pin it; one lost/duplicated position from a
  //        partition-boundary slip breaks one of the four.
  //   x19: per-doc n_tokens preserved under the id remap (clone text is
  //        byte-identical); the stream is CONTIGUOUS — min tok_start = 0
  //        and max(tok_start + n_tokens) = Σ n_tokens = factor × base Σ
  //        (a prefix-sum offset slip breaks the equality); and the chunk
  //        ids satisfy first = tok_start div C, last = (end − 1) div C
  //        row-by-row (integer div, engine-exact).

  /** g19's UNLIMITED personalized-PageRank table (the battery row's
    * top-100 truncates, which measures nothing at volume).
    */
  private def pprFull(spark: SparkSession, dir: String): DataFrame = {
    val edges = spark.read.parquet(s"$dir/lineitem.parquet").select(
      (col("l_orderkey") * 2).as("src"), (col("l_partkey") * 2 + 1).as("dst"))
    val seeds = spark.read.parquet(s"$dir/orders.parquet")
      .where(col("o_orderkey") % 500 === 0)
      .select((col("o_orderkey") * 2).as("node"))
    graft.ops.GraphOps.personalizedPagerankMicro(
      edges, "src", "dst", seeds, "node", iters = 3)
  }

  private val TsShiftMs: Long = TsShiftDays * 86400000L

  /** Independent Catalyst recomputation of m9's closed-form channel
    * statistics (the analytic pixel law over a sequence explode — no
    * codec code path touches this), for the volume-probe join.
    */
  private def m9ExpectedStats(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")
      .where(expr("doc_id % 3 = 1"))
      .select(col("doc_id").as("asset_id"),
        expr("int(4 + doc_id % 13)").as("e_w"),
        expr("int(3 + doc_id % 7)").as("e_h"))
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

  /** m10's twin: the 8×5 nearest-resample sampling law composed with
    * the pixel law, recomputed independently in Catalyst.
    */
  private def m10ExpectedStats(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")
      .where(expr("doc_id % 3 = 1"))
      .select(col("doc_id").as("asset_id"),
        expr("int(4 + doc_id % 13)").as("w0"),
        expr("int(3 + doc_id % 7)").as("h0"))
      .select(col("asset_id"), col("w0"), col("h0"),
        explode(expr("sequence(0L, 39L)")).as("i"))
      .select(col("asset_id"), col("i"),
        expr("((i % 8) * w0) div 8").as("sx"),
        expr("((i div 8) * h0) div 5").as("sy"))
      .select(col("asset_id"), col("i"),
        expr("(asset_id + 7 * sx + 13 * sy) % 256").as("r"),
        expr("(3 * asset_id + 5 * sx + sy) % 256").as("g"),
        expr("(11 * asset_id + sx + 2 * sy) % 256").as("b"))
      .groupBy("asset_id")
      .agg(sum(expr("r + g + b")).as("e_sum"),
        sum(expr("3 * i * r + (3 * i + 1) * g + (3 * i + 2) * b")).as("e_wsum"))

  def main(args: Array[String]): Unit = {
    val srcDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outDir = args.lift(1).getOrElse("/tmp/graft_volume_probe")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = GraftSession()
    // events replication reads the parquet raw; tolerate either physical
    // ts form the corpus has shipped (see Tables.events)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    println(s"""{"probe":"volume","factor":$factor,"src":"$srcDir","heap_mb":${Runtime.getRuntime.maxMemory() / (1 << 20)}}""")

    val offset = keyOffsetFor(spark, srcDir)
    println(s"""{"probe":"volume","key_offset":$offset}""")
    for (t <- tables) {
      multiply(spark.read.parquet(s"$srcDir/$t.parquet"), factor, offset)
        .write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    }

    // SPARK_GRAFT_PROBE_ONLY=a,b,c restricts the sweep — the isolation
    // knob for adjudicating whether a slow row is the plan or the
    // 37-queries-in-one-6GB-JVM cache/GC pressure it ran under.
    val only = sys.env.get("SPARK_GRAFT_PROBE_ONLY").map(_.split(",").toSet)
    only.foreach { names =>
      val unknown = names -- headline.toSet
      require(unknown.isEmpty, s"unknown probe name(s): ${unknown.toSeq.sorted}")
    }
    var failed = 0
    for (name <- headline if only.forall(_.contains(name))) {
      val fn = SparkEntry.queries(name)
      // the base (1×) pass runs OUTSIDE the timer: `sec` is the
      // inflated run alone
      val baseRows: Either[String, Seq[(String, Long)]] =
        try {
          if (rankedContent(name))
            Right(fn(spark, srcDir).collect()
              .map(r => (r.getString(0), r.getLong(1))).toSeq)
          else if (name == "x19_token_chunks") Right {
            val a = fn(spark, srcDir)
              .agg(count(lit(1)), sum(col("n_tokens"))).head
            Seq(("rows", a.getLong(0)), ("tok", a.getLong(1)))
          }
          else if (name == "g5_triangle_count") Right {
            // the UNLIMITED operator (see headline note): base node
            // rows + total triangle incidences, untimed
            val a = graft.ops.GraphOps.triangleCounts(
                graft.queries.Battery.coPurchaseEdges1995(spark, srcDir),
                "l_partkey", "l_partkey2")
              .agg(count(lit(1)), sum(col("tri"))).head
            Seq(("rows", a.getLong(0)), ("tri", a.getLong(1)))
          }
          else if (name == "g7_retention") Right {
            // the retention CURVE (see headline note): Σ n_active per
            // week_k — cohort labels shift across replicas, offsets don't
            fn(spark, srcDir).groupBy("week_k")
              .agg(sum(col("n_active")).as("s"))
              .collect().map(r => (r.getInt(0).toString, r.getLong(1)))
              .sortBy(_._1).toSeq
          }
          else if (name == "g8_transitions") Right {
            // the whole matrix is |states|²-bounded: carry every row,
            // keyed by (from, to, p_ppm) — p_ppm must be IDENTICAL at xN
            fn(spark, srcDir).collect()
              .map(r => (s"${r.getString(0)}>${r.getString(1)}|${r.getLong(4)}",
                r.getLong(2))).sortBy(_._1).toSeq
          }
          else if (name == "x28_pmi_collocations") Right {
            // full ranked content: (w1, w2, pmi_score) keyed, cb carried
            fn(spark, srcDir).collect()
              .map(r => (s"${r.getString(0)}${r.getString(1)}|${r.getLong(3)}",
                r.getLong(2))).toSeq
          }
          else if (name == "n9_binary_quantize") Right {
            // the BASE Hamming shortlist per query: bqTopK with k=30,
            // oversample=1 re-ranks (and returns) exactly the 30
            // shortlisted candidates — the admissible clone-classes
            val S = graft.ops.SimilarityOps
            val emb = Tables.embeddings(spark, srcDir).select(
              col("vec_id"), S.asDouble(col("embedding")).as("v"))
            val thr = S.bqThresholds(emb, "v")
            S.bqTopK(
              emb.filter(col("vec_id") < 5)
                .select(col("vec_id").as("qid"), col("v").as("qv")),
              emb.select(col("vec_id").as("cid"), col("v").as("cv")),
              thr, k = 30, oversample = 1)
              .collect()
              .map(r => (s"${r.getLong(0)}|${r.getLong(1)}", r.getLong(0))).toSeq
          }
          else if (name == "g19_personalized_pagerank") Right {
            pprFull(spark, srcDir).collect()
              .map(r => (r.getLong(0).toString, r.getLong(1))).toSeq
          }
          else if (name == "a21_hll_intersect") Right {
            fn(spark, srcDir).collect().map(r =>
              (s"${r.getString(0)}|${r.getString(1)}", r.getLong(2))).sortBy(_._1).toSeq
          }
          else if (name == "a19_auc") Right {
            fn(spark, srcDir).collect().map(r =>
              (s"${r.getString(0)}|${if (r.isNullAt(3)) "null"
                else r.getLong(3).toString}",
                r.getLong(1) + r.getLong(2))).sortBy(_._1).toSeq
          }
          else if (name == "a20_pr_thresholds") Right {
            fn(spark, srcDir).collect().map(r =>
              (s"${r.getString(0)}|${r.getDouble(1)}|" +
                Seq(5, 6, 7).map(i => if (r.isNullAt(i)) "null"
                  else r.getLong(i).toString).mkString("|"),
                r.getLong(2) + r.getLong(3) + r.getLong(4)))
              .sortBy(_._1).toSeq
          }
          else if (name == "j22_incremental_agg") Right {
            fn(spark, srcDir).collect().map(r =>
              (s"${r.getString(0)}|${r.getLong(1)}|${r.getDouble(2)}|" +
                s"${r.getDouble(3)}|${r.getDouble(4)}", 0L)).sortBy(_._1).toSeq
          }
          else if (name == "x34_k_anonymity") Right {
            fn(spark, srcDir).collect().map(r =>
              (s"${r.getAs[Number](0).longValue}|${r.getString(1)}|" +
                s"${r.getLong(2)}|${r.getLong(3)}|${r.getBoolean(4)}", 0L))
              .toSeq
          }
          else if (name == "p9_column_profile") Right {
            fn(spark, srcDir).collect().map(r =>
              (s"${r.getString(0)}|${r.getLong(1)}|${r.getLong(2)}|" +
                s"${r.getString(3)}|${r.getString(4)}", 0L)).toSeq
          }
          else if (name == "a18_equidepth_bins") Right {
            // per-status total population (bin populations are only
            // ×factor when divisible — see headline note)
            fn(spark, srcDir).groupBy("o_orderstatus")
              .agg(sum(col("n")).as("t")).collect()
              .map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq
          }
          else if (name == "a17_hll_rollup") Right {
            // per-status exact counts; verdict booleans asserted on the
            // big side only (they must hold at EVERY volume)
            fn(spark, srcDir).collect()
              .map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq
          }
          else if (name == "x31_bpe_train") Right {
            fn(spark, srcDir).collect().map(r =>
              (s"${r.getLong(0)}|${r.getString(1)}|${r.getString(2)}",
                r.getLong(3))).toSeq
          }
          else if (name == "tw_windowed_topk") Right {
            fn(spark, srcDir).collect().map(r =>
              (s"${Math.floorMod(r.getTimestamp(0).getTime, TsShiftMs)}|" +
                s"${r.getInt(2)}|${r.getString(3)}", r.getLong(4))).toSeq
          }
          else if (name == "st_windowed_topk") Right {
            fn(spark, srcDir).collect().map(r =>
              (s"${Math.floorMod(r.getLong(0), TsShiftMs)}|" +
                s"${r.getInt(2)}|${r.getString(3)}", r.getLong(4))).toSeq
          }
          else Right(Seq(("", fn(spark, srcDir).count())))
        } catch { case e: Throwable => Left(e.toString.take(200)) }
      val t0 = System.nanoTime()
      val outcome: Either[String, (Long, Long, String, Boolean)] =
        baseRows.flatMap { base =>
          try {
            if (rankedContent(name)) {
              val big = fn(spark, outDir).collect()
                .map(r => (r.getString(0), r.getLong(1))).toSeq
              val ok = big == base.map { case (t, n) => (t, n * factor) }
              Right((big.length.toLong, base.length.toLong, "content x" + factor, ok))
            } else if (name == "x17_epoch_shuffle") {
              val a = fn(spark, outDir).agg(count(lit(1)), min(col("pos")),
                max(col("pos")), countDistinct(col("pos"))).head
              val n = a.getLong(0)
              val b = base.head._2
              val ok = n == b * factor && a.getLong(1) == 1L &&
                a.getLong(2) == n && a.getLong(3) == n
              Right((n, b, "pos-bijection x" + factor, ok))
            } else if (name == "x19_token_chunks") {
              val df = fn(spark, outDir)
              val a = df.agg(count(lit(1)), sum(col("n_tokens")),
                min(col("tok_start")), max(col("tok_start") + col("n_tokens")),
                sum(when(expr("first_chunk != (tok_start div 512) OR " +
                    "last_chunk != ((tok_start + n_tokens - 1) div 512)"), 1L)
                  .otherwise(0L))).head
              val (bRows, bTok) = (base.head._2, base(1)._2)
              val n = a.getLong(0)
              val tok = a.getLong(1)
              // per-doc token counts preserved under the replica id remap
              // (clone text is byte-identical; base ids < offset, so
              // id mod offset recovers each clone's original)
              val baseNt = fn(spark, srcDir)
                .select(col("doc_id").as("bid"), col("n_tokens").as("bnt"))
              val mismatched = df
                .select(pmod(col("doc_id"), lit(offset)).as("bid"), col("n_tokens"))
                .join(baseNt, "bid")
                .where(col("n_tokens") =!= col("bnt")).count()
              val ok = n == bRows * factor && tok == bTok * factor &&
                a.getLong(2) == 0L && a.getLong(3) == tok &&
                a.getLong(4) == 0L && mismatched == 0L
              Right((n, bRows, "prefix-sum-contiguity x" + factor, ok))
            } else if (name == "g5_triangle_count") {
              val bigFull = graft.ops.GraphOps.triangleCounts(
                graft.queries.Battery.coPurchaseEdges1995(spark, outDir),
                "l_partkey", "l_partkey2")
              val a = bigFull.agg(count(lit(1)), sum(col("tri"))).head
              val (n, tri) = (a.getLong(0), a.getLong(1))
              val (bRows, bTri) = (base.head._2, base(1)._2)
              // replica invariance: every inflated node's triangle count
              // equals its original's (base ids < offset, so node %
              // offset recovers the clone's source node)
              val baseFull = graft.ops.GraphOps.triangleCounts(
                graft.queries.Battery.coPurchaseEdges1995(spark, srcDir),
                "l_partkey", "l_partkey2")
              val mismatched = bigFull
                .select(pmod(col("node"), lit(offset)).as("bnode"), col("tri"))
                .join(baseFull.select(col("node").as("bnode"),
                  col("tri").as("btri")), "bnode")
                .where(col("tri") =!= col("btri")).count()
              val ok = n == bRows * factor && tri == bTri * factor &&
                mismatched == 0L
              Right((n, bRows, "triangle-incidence x" + factor, ok))
            } else if (name == "g7_retention") {
              val big = fn(spark, outDir).groupBy("week_k")
                .agg(sum(col("n_active")).as("s"))
                .collect().map(r => (r.getInt(0).toString, r.getLong(1)))
                .sortBy(_._1).toSeq
              val ok = big == base.map { case (k, n) => (k, n * factor) }
              Right((big.length.toLong, base.length.toLong,
                "retention-curve x" + factor, ok))
            } else if (name == "g8_transitions") {
              val big = fn(spark, outDir).collect()
                .map(r => (s"${r.getString(0)}>${r.getString(1)}|${r.getLong(4)}",
                  r.getLong(2))).sortBy(_._1).toSeq
              val ok = big == base.map { case (k, n) => (k, n * factor) }
              Right((big.length.toLong, base.length.toLong,
                "ppm-invariant-content x" + factor, ok))
            } else if (name == "x28_pmi_collocations") {
              // minCount scaled with the corpus (headline note): the
              // ranked top-30 must be IDENTICAL — same (w1, w2), same
              // scale-invariant pmi_score, counts ×factor, same order
              val big = graft.ops.CorpusOps.pmiCollocations(
                  Tables.documents(spark, outDir), "text",
                  k = 30, minCount = 5L * factor)
                .collect()
                .map(r => (s"${r.getString(0)}${r.getString(1)}|${r.getLong(3)}",
                  r.getLong(2))).toSeq
              val ok = big == base.map { case (t, n) => (t, n * factor) }
              Right((big.length.toLong, base.length.toLong,
                "minCount-scaled-content x" + factor, ok))
            } else if (name == "n9_binary_quantize") {
              val rows = fn(spark, outDir).collect()
                .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
              val admissible = base.map(_._1).toSet // "qid|base_cid"
              val qids = base.map(_._2).distinct // qid carried as value
              val byQ = rows.groupBy(_._1)
              val shapeOk = byQ.size == qids.size &&
                byQ.values.forall(rs =>
                  rs.map(_._3).sorted.toSeq == (1 to rs.length) && rs.length == 10)
              // a clone of the QUERY ITSELF (ham 0, cos 1) is legal at
              // ×N though absent at 1× (base excludes only cid == qid);
              // any other neighbor must be a clone of a base-shortlist
              // member
              val classOk = rows.forall { case (q, nb, _) =>
                nb % offset == q || admissible.contains(s"$q|${nb % offset}")
              }
              // clones of one base vector rank in replica (cid) order
              val cloneOrderOk = byQ.values.forall { rs =>
                rs.groupBy { case (_, nb, _) => nb % offset }.values.forall { g =>
                  g.sortBy(_._3).map(_._2).toSeq == g.map(_._2).sorted.toSeq
                }
              }
              Right((rows.length.toLong, base.length.toLong,
                "query-bounded-shortlist-closed",
                shapeOk && classOk && cloneOrderOk))
            } else if (name == "g19_personalized_pagerank") {
              val baseM = base.map { case (n, p0) => n.toLong -> p0 }.toMap
              val big = pprFull(spark, outDir).collect()
                .map(r => (r.getLong(0), r.getLong(1)))
              // clone inheritance via the g4 node remap
              val mism = big.count { case (node, p0) =>
                val bnode = if (node % 2 == 0) node / 2 % offset * 2
                            else (node - 1) / 2 % offset * 2 + 1
                baseM.get(bnode) != Some(p0)
              }
              Right((big.length.toLong, baseM.size.toLong,
                "clone-ppr-inheritance x" + factor,
                big.length == baseM.size * factor && mism == 0))
            } else if (name == "a21_hll_intersect") {
              val rows = fn(spark, outDir).collect().map(r =>
                (s"${r.getString(0)}|${r.getString(1)}",
                  (r.getLong(2), r.getBoolean(3)))).sortBy(_._1).toSeq
              val ok = rows.map(t => (t._1, t._2._1)) ==
                base.map { case (k0, n0) => (k0, n0 * factor) } &&
                rows.forall(_._2._2)
              Right((rows.length.toLong, base.length.toLong,
                "intersect-envelope x" + factor, ok))
            } else if (name == "a19_auc") {
              // auc_ppm INVARIANT per group (ratio law), n_pos+n_neg ×f
              val rows = fn(spark, outDir).collect().map(r =>
                (s"${r.getString(0)}|${if (r.isNullAt(3)) "null"
                  else r.getLong(3).toString}",
                  r.getLong(1) + r.getLong(2))).sortBy(_._1).toSeq
              val ok = rows == base.map { case (c0, n0) => (c0, n0 * factor) }
              Right((rows.length.toLong, base.length.toLong,
                "mann-whitney-invariant x" + factor, ok))
            } else if (name == "a20_pr_thresholds") {
              // ppm ratios invariant, confusion mass ×f
              val rows = fn(spark, outDir).collect().map(r =>
                (s"${r.getString(0)}|${r.getDouble(1)}|" +
                  Seq(5, 6, 7).map(i => if (r.isNullAt(i)) "null"
                    else r.getLong(i).toString).mkString("|"),
                  r.getLong(2) + r.getLong(3) + r.getLong(4)))
                .sortBy(_._1).toSeq
              val ok = rows == base.map { case (c0, n0) => (c0, n0 * factor) }
              Right((rows.length.toLong, base.length.toLong,
                "ppm-invariant x" + factor, ok))
            } else if (name == "j22_incremental_agg") {
              val got = fn(spark, outDir).collect().map(r =>
                r.getString(0) -> ((r.getLong(1), r.getDouble(2),
                  r.getDouble(3), r.getDouble(4)))).toMap
              val b = base.map(_._1.split("\\|")).map(a => a(0) ->
                ((a(1).toLong, a(2).toDouble, a(3).toDouble, a(4).toDouble)))
                .toMap
              // n ×factor, min/max byte-identical; the sum is ×factor in
              // DECIMAL (Σ of f copies = f·Σ) but surfaces as double, and
              // double(f·S) vs f·double(S) can differ in the last ulp —
              // compare within a few ulps, not bitwise
              val ok = got.size == b.size && b.forall { case (k0, (n, sm, mn, mx)) =>
                got.get(k0).exists { case (gn, gs, gmn, gmx) =>
                  gn == n * factor && gmn == mn && gmx == mx &&
                    math.abs(gs - sm * factor) <= math.ulp(sm * factor) * 16
                }
              }
              Right((got.size.toLong, b.size.toLong,
                "shared-state-merge x" + factor, ok))
            } else if (name == "x34_k_anonymity") {
              // every clone class inherits its base class's
              // (class_size, violates_k) via nationkey % offset, and
              // each base class appears exactly `factor` times
              val rows = fn(spark, outDir).collect().map(r =>
                s"${r.getAs[Number](0).longValue % offset}|${r.getString(1)}|" +
                  s"${r.getLong(2)}|${r.getLong(3)}|${r.getBoolean(4)}").toSeq
              val baseCells = base.map(_._1)
              val counts = rows.groupBy(identity).view.mapValues(_.size).toMap
              val ok = rows.length == baseCells.length * factor &&
                baseCells.forall(c => counts.getOrElse(c, 0) == factor) &&
                counts.size == baseCells.size
              Right((rows.length.toLong, baseCells.length.toLong,
                "clone-class-inheritance x" + factor, ok))
            } else if (name == "p9_column_profile") {
              val got = fn(spark, outDir).collect().map(r =>
                r.getString(0) -> ((r.getLong(1), r.getLong(2),
                  r.getString(3), r.getString(4)))).toMap
              val b = base.map(_._1.split("\\|")).map(a =>
                a(0) -> ((a(1).toLong, a(2).toLong, a(3), a(4)))).toMap
              def keyLaw(c: String) = {
                val (nn, nd, mn, mx) = b(c); val g = got(c)
                g == ((nn * factor, nd * factor, mn,
                  (mx.toLong + (factor - 1) * offset).toString))
              }
              def catLaw(c: String) = {
                val (nn, nd, mn, mx) = b(c)
                got(c) == ((nn * factor, nd, mn, mx))
              }
              val ok = got.size == b.size &&
                keyLaw("o_orderkey") && keyLaw("o_custkey") &&
                catLaw("o_orderstatus") && catLaw("o_orderpriority")
              Right((got.size.toLong, b.size.toLong,
                "profile-laws x" + factor, ok))
            } else if (name == "a18_equidepth_bins") {
              val rows = fn(spark, outDir).collect()
                .map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
              val byStatus = rows.groupBy(_._1)
              val cellsOk = rows.length == base.length * 10 &&
                byStatus.values.forall(_.map(_._2).sorted.toSeq == (1 to 10))
              val totsOk = byStatus.map { case (s0, rs) =>
                (s0, rs.map(_._3).sum) }.toSeq.sortBy(_._1) ==
                base.map { case (s0, t) => (s0, t * factor) }
              val evenOk = byStatus.values.forall(rs =>
                rs.map(_._3).max - rs.map(_._3).min <= 1)
              Right((rows.length.toLong, base.length.toLong,
                "ntile-contract x" + factor, cellsOk && totsOk && evenOk))
            } else if (name == "a17_hll_rollup") {
              val rows = fn(spark, outDir).collect()
                .map(r => (r.getString(0), r.getLong(1),
                  r.getBoolean(2), r.getBoolean(3))).sortBy(_._1).toSeq
              // same statuses, exact_distinct ×factor (custkeys shift
              // per replica), both tolerance verdicts still true
              val ok = rows.map(t => (t._1, t._2)) ==
                base.map { case (s0, n0) => (s0, n0 * factor) } &&
                rows.forall(t => t._3 && t._4)
              Right((rows.length.toLong, base.length.toLong,
                "sketch-envelope x" + factor, ok))
            } else if (name == "d10_edit_distance_join") {
              val n = fn(spark, outDir).count()
              val b = base.head._2
              val nDocs = spark.read.parquet(s"$srcDir/documents.parquet")
                .where(col("text").isNotNull).count()
              val expect = factor.toLong * factor * b +
                factor.toLong * (factor - 1) / 2 * nDocs
              Right((n, b, s"pair-closed-form f2*base+C(f,2)*N=$expect",
                n == expect))
            } else if (name == "x31_bpe_train") {
              val big = fn(spark, outDir).collect().map(r =>
                (s"${r.getLong(0)}|${r.getString(1)}|${r.getString(2)}",
                  r.getLong(3))).toSeq
              val ok = big == base.map { case (k0, n0) => (k0, n0 * factor) }
              Right((big.length.toLong, base.length.toLong,
                "merge-trajectory-invariant x" + factor, ok))
            } else if (name == "tw_windowed_topk" || name == "st_windowed_topk") {
              val big = (if (name == "tw_windowed_topk")
                  fn(spark, outDir).collect().map(r =>
                    (s"${Math.floorMod(r.getTimestamp(0).getTime, TsShiftMs)}|" +
                      s"${r.getInt(2)}|${r.getString(3)}", r.getLong(4)))
                else
                  fn(spark, outDir).collect().map(r =>
                    (s"${Math.floorMod(r.getLong(0), TsShiftMs)}|" +
                      s"${r.getInt(2)}|${r.getString(3)}", r.getLong(4)))).toSeq
              // clone windows are replica-CLOSED: each base (window,
              // rank, type) row recurs exactly `factor` times with the
              // IDENTICAL count (not ×factor)
              val counts = big.groupBy(identity).view.mapValues(_.size).toMap
              val ok = big.length == base.length * factor &&
                counts.size == base.length &&
                base.forall(kv => counts.getOrElse(kv, 0) == factor)
              Right((big.length.toLong, base.length.toLong,
                "replica-closed-leaderboard x" + factor, ok))
            } else if (name == "m9_png_decode") {
              val df = fn(spark, outDir)
              val bad = df.join(m9ExpectedStats(spark, outDir), "asset_id")
                .where(col("width") =!= col("e_w") ||
                  col("height") =!= col("e_h") ||
                  col("sum_r") =!= col("e_sr") ||
                  col("sum_g") =!= col("e_sg") ||
                  col("sum_b") =!= col("e_sb") ||
                  col("wsum_r") =!= col("e_wr")).count()
              val n = df.count()
              Right((n, base.head._2, "closed-form-channel-sums x" + factor,
                n == base.head._2 * factor && bad == 0L))
            } else if (name == "m10_png_resize") {
              val df = fn(spark, outDir)
              val bad = df.join(m10ExpectedStats(spark, outDir), "asset_id")
                .where(col("width") =!= 8 || col("height") =!= 5 ||
                  col("fmt") =!= "png" ||
                  col("sum_rgb") =!= col("e_sum") ||
                  col("wsum_rgb") =!= col("e_wsum")).count()
              val n = df.count()
              Right((n, base.head._2, "closed-form-resample-sums x" + factor,
                n == base.head._2 * factor && bad == 0L))
            } else if (name == "x35_html_extract") {
              def strip(c: org.apache.spark.sql.Column) =
                regexp_replace(c, "^Doc [0-9]+ ", "")
              val big = fn(spark, outDir).select(
                pmod(col("doc_id"), lit(offset)).as("bid"),
                strip(col("extracted")).as("body"))
              val bse = fn(spark, srcDir).select(col("doc_id").as("bid"),
                strip(col("extracted")).as("bbody"))
              val n = big.count()
              val bad = big.join(bse, "bid")
                .where(col("body") =!= col("bbody")).count()
              Right((n, base.head._2, "clone-extraction-identity x" + factor,
                n == base.head._2 * factor && bad == 0L))
            } else if (name == "n12_incremental_ivf" ||
                name == "n14_ivf_tombstones") {
              // query-closed law: queries are vec_id < 10 (replica 0
              // only), so the output is exactly the base row count —
              // what scales 10× is the probed cell state behind it
              val n = fn(spark, outDir).count()
              val b = base.head._2
              Right((n, b, "query-closed rows==base", n == b))
            } else if (name == "m11_image_neardup" ||
                name == "m12_incremental_image_neardup" ||
                name == "m15_image_tombstones") {
              val big = fn(spark, outDir)
              val n = big.count()
              val basePairs = fn(spark, srcDir).select("doc_a", "doc_b")
                .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
              val rep0 = big
                .where(col("doc_a") < offset && col("doc_b") < offset)
                .select("doc_a", "doc_b")
                .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
              Right((n, basePairs.size.toLong, "replica0-pair-identity",
                rep0 == basePairs && n >= basePairs.size))
            } else {
              val n = fn(spark, outDir).count()
              val b = base.head._2
              // per-replica-closed plans scale exactly ×factor; the
              // dedup family sees cross-replica clones (bigger clusters,
              // quadratic candidate buckets), so only a bound holds
              // (d8: every window now repeats cross-replica, so spans
              // widen to whole documents); the domain cap's law is
              // INVARIANCE — 10× the candidates per domain must still
              // yield exactly k survivors each (every sf0.1 source is
              // already above the cap at 1×); curation's law is also
              // INVARIANCE — replicas are byte-identical text, so the
              // exact-dedup stage collapses every clone set to its
              // min-id (replica-0) member and curating N copies of a
              // corpus must return exactly the 1× curation
              val ok = name match {
                case "x14_domain_cap" | "c1_corpus_curation"
                   | "c2_incremental_curation" => n == b
                case d if d.startsWith("d") => n >= b
                case _ => n == b * factor
              }
              val mode = name match {
                case "x14_domain_cap" => "cap-invariant"
                case "c1_corpus_curation"
                   | "c2_incremental_curation" => "dedup-invariant"
                case d if d.startsWith("d") => "lower-bound"
                case _ => "exact x" + factor
              }
              Right((n, b, mode, ok))
            }
          } catch { case e: Throwable => Left(e.toString.take(200)) }
        }
      val sec = (System.nanoTime() - t0) / 1e9
      outcome match {
        case Right((n, base, mode, ok)) =>
          if (!ok) failed += 1
          println(f"""{"query":"$name","sec":$sec%.2f,"rows":$n,"base_rows":$base,"scaling":"$mode","ok":$ok}""")
        case Left(err) =>
          failed += 1
          println(s"""{"query":"$name","sec":$sec,"error":"${err.replace('"', '\'')}","ok":false}""")
      }
    }
    println(s"""{"probe":"volume","failed":$failed,"queries":${headline.size}}""")
    spark.stop()
    if (failed > 0) sys.exit(1)
  }
}
