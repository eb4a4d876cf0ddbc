package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators: exact (hash-groupBy), MinHash+LSH, SimHash,
  * n-gram Jaccard verification.
  *
  * Scale design: signatures/bands are per-row array expressions (narrow,
  * no shuffle). Candidate generation shuffles once on (band, bucket) —
  * the classic LSH trick that replaces the O(n²) cross join with a
  * co-partitioned equi-join, which is exactly what survives 100 TB.
  * Jaccard verification then runs only on candidate pairs.
  */
object DedupOps {

  /** Per-row ceiling for in-row bucket pair expansion
    * ([[bucketPairs]]): buckets up to this size expand their pairs
    * inside one row (fastest — zero extra operators); larger buckets
    * switch to a streamed two-stage explode whose per-row memory is
    * O(bucket), not O(bucket²). 4096 members ≈ 8.4M pair structs ≈
    * low hundreds of MB in one row — the practical task ceiling; a
    * corpus following the documented curation order (exact dedup
    * first) stays orders of magnitude below it.
    *
    * `GRAFT_INROW_PAIR_CAP` overrides the default — the scale-probe
    * knob that forces the streamed branch to actually execute at
    * volume (with the default, the 10× probe corpus's buckets stay
    * under the cap and the branch is dead code); results are
    * cap-invariant by construction (spec-pinned).
    */
  private[graft] val InRowPairCap: Int =
    sys.env.get("GRAFT_INROW_PAIR_CAP") match {
      case None => 4096
      case Some(v) =>
        // parse + validate HERE, with the variable named: a bare .toInt
        // in an object initializer surfaces a typo as an opaque
        // ExceptionInInitializerError far from the misconfiguration
        val n = scala.util.Try(v.toInt).getOrElse(throw
          new IllegalArgumentException(
            s"GRAFT_INROW_PAIR_CAP must be an integer >= 2, got '$v'"))
        require(n >= 2, s"GRAFT_INROW_PAIR_CAP must be >= 2, got $n")
        n
    }

  /** All unordered member pairs of every bucket row — the shared pair
    * expansion of [[nearDupPairs]], [[ngramJaccardPairsFromSets]] and
    * [[editDistanceCandidates]]. Input: a frame with an array column
    * `m` (each row one bucket's collected members, size ≥ 2); output:
    * columns (x, y), one row per index pair i < j.
    *
    * The enforcement the one-pass bucket-collect shape needs: buckets
    * ≤ `cap` expand in-row (one nested transform, no extra shuffle);
    * buckets > `cap` — a hot band bucket or prefix shingle in
    * clone-heavy input that skipped the upstream exact-dedup pass —
    * take a two-stage explode (posexplode the member index, then
    * explode that member's tail slice), whose peak per-row footprint
    * is ONE member list, so a million-member bucket streams through
    * the generators instead of materializing O(m²) structs in a single
    * row and killing the executor. The streamed shape bounds MEMORY,
    * not output volume: a bucket of m members still emits O(m²) pair
    * ROWS downstream — a truly degenerate bucket (every doc sharing
    * one band) is a data-quality signal to fix upstream (exact-dedup
    * first, tighter banding), not something any pair enumerator can
    * absorb.
    *
    * Both shapes live in ONE Generate chain over a single consumption
    * of `buckets`: stage 1 explodes a per-bucket index list — the
    * sentinel `[-1]` for in-row buckets, `[0 .. m-2]` for streamed
    * ones — and stage 2 expands either ALL pairs (sentinel) or member
    * i's tail. The earlier small/big `unionAll` consumed the frame
    * twice, duplicating the caller's expensive bucket-aggregate
    * subtree (groupBy + collect_list + its Exchange) in the physical
    * plan; AQE exchange reuse hid the cost at sf0.1 but the second
    * final aggregate still re-read the full shuffle output for a
    * branch that is empty on every sane corpus.
    */
  private[graft] def bucketPairs(buckets: DataFrame,
      cap: Int = InRowPairCap): DataFrame = {
    require(cap >= 2, s"cap must be >= 2, got $cap")
    // stage 1: one sentinel row per in-row bucket, one row per
    // non-final member of a streamed bucket (size > cap >= 2 there, so
    // sequence() never runs start > stop and flips descending)
    val staged = buckets.select(col("m"), explode(
      when(size(col("m")) <= cap, array(lit(-1)))
        .otherwise(sequence(lit(0), size(col("m")) - 2))).as("i"))
    staged.select(explode(
      when(col("i") === -1,
        flatten(transform(col("m"), (x, i) =>
          transform(
            slice(col("m"), i + lit(2), size(col("m")) - i - lit(1)),
            y => struct(x.as("x"), y.as("y"))))))
        .otherwise(transform(
          slice(col("m"), col("i") + lit(2), size(col("m")) - col("i") - lit(1)),
          y => struct(element_at(col("m"), col("i") + 1).as("x"),
            y.as("y"))))).as("pr"))
      .select(col("pr.x").as("x"), col("pr.y").as("y"))
  }

  /** `size(array_intersect(a, b))` as one native pass
    * ([[graft.functions.IntersectCount]]) — the exact-Jaccard verify
    * kernel, evaluated once per candidate pair in every set-similarity
    * join. The built-in composition runs `ArrayIntersect`'s interpreted
    * hash-set path per row and materializes the intersection array only
    * to take its length; profiled as the near-dup families' hottest
    * executor frames. Differentially spec'd equal to the composition
    * (IntersectCountSpec).
    */
  private[graft] def intersectCount(a: Column, b: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(graft.functions.IntersectCount(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))
  }

  /** MinHash signature: ONE md5 per shingle, sliced into k disjoint
    * 4-hex-char (16-bit) sub-hashes; sig_j = min over shingles of slice
    * j. One hash instead of k per shingle (8× cheaper on the hot path);
    * 16-bit band fragments still give ~2⁻³² random band collisions.
    * min of hex strings is byte-lexicographic in both Spark and the
    * oracle.
    */
  def minhashSignature(shingles: Column, k: Int): Seq[Column] = {
    require(k <= 8, "md5 yields 32 hex chars = 8 slices of 4")
    val hashes = transform(shingles, s => md5(s))
    (0 until k).map { j =>
      array_min(transform(hashes, h => substring(h, 1 + 4 * j, 4)))
    }
  }

  /** LSH band keys: adjacent signature pairs hashed together
    * (bands of rows=2). Equal band key ⇒ candidate pair.
    */
  def bandKeys(sig: Seq[Column], rowsPerBand: Int): Seq[Column] =
    sig.grouped(rowsPerBand).map(g => md5(concat(g: _*))).toSeq

  /** Documents → (id, [shingleSet,] sig_0..k-1, band_0..b-1).
    *
    * Implementation: the native fused [[graft.functions.MinhashText]]
    * expression — one codegen'd pass per row: tokenize, shingle, one md5
    * per shingle, all k slice-minima. ZERO shuffle and no interpreted
    * higher-order functions (the earlier explode+hash-agg form needed an
    * exchange on id; composed array folds are CodegenFallback). A pure
    * narrow map is the form that scales linearly at 100 TB.
    *
    * Docs with fewer tokens than the shingle width get a null signature
    * and null bands (same as the SQL oracle's out-of-range list index).
    * `withShingleSet=true` adds the distinct shingle array for exact
    * Jaccard verification (interpreted transform — only pay it when a
    * verify stage consumes it).
    */
  def minhashBands(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, k: Int = 8, rowsPerBand: Int = 2,
      withShingleSet: Boolean = true): DataFrame = {
    require(k <= 8, "md5 yields 32 hex chars = 8 slices of 4")
    import org.apache.spark.sql.GraftColumnBridge
    val sig = GraftColumnBridge.column(graft.functions.MinhashText(
      GraftColumnBridge.expression(col(textCol)), shingleN, k))
    val base = if (withShingleSet)
      df.select(col(idCol).as("id"),
        array_distinct(TextOps.shingles(col(textCol), shingleN)).as("shingle_set"),
        sig.as("sig"))
    else
      df.select(col(idCol).as("id"), sig.as("sig"))
    val sigCols = (0 until k).map(j => col("sig").getItem(j).as(s"sig_$j"))
    val bands = bandKeys(sigCols.map(c => c), rowsPerBand)
    val keep = if (withShingleSet) Seq(col("id"), col("shingle_set")) else Seq(col("id"))
    base.select(keep ++ sigCols ++
      bands.zipWithIndex.map { case (b, i) => b.as(s"band_$i") }: _*)
  }

  /** Candidate pairs from any shared band bucket, verified with exact
    * shingle-set Jaccard; keeps pairs ≥ threshold.
    *
    * One-pass candidate stage (the d10 editDistanceCandidates shape):
    * ONE hash-aggregate shuffle of the exploded band stream collects
    * each (band, bucket)'s members; singleton buckets drop before
    * anything expands; surviving buckets expand their pairs inside the
    * row — no self-join, no second shuffle, and NO in-path persist
    * (the previous band-stream self-join needed one because Catalyst
    * doesn't share subtrees across self-join inputs, and it had no
    * release path — each call in a long-lived session leaked a cached
    * copy). The verify fetch joins recompute only the column-pruned
    * shingle arrays (narrow codegen'd work, no minhash): Catalyst
    * prunes `sig`/band columns out of the `sets` subtree entirely.
    *
    * Skew contract: a bucket's member list materializes in one row;
    * buckets up to [[InRowPairCap]] expand their pairs in-row, larger
    * ones stream through [[bucketPairs]]' two-stage explode with O(m)
    * per-row memory — so a pathological clone family degrades to a
    * slower streamed expansion instead of an executor OOM.
    */
  def nearDupPairs(bandsIn: DataFrame, nBands: Int, threshold: Double): DataFrame = {
    val exploded = bandsIn.select(col("id"),
      explode(array((0 until nBands).map(i =>
        struct(lit(i).as("bi"), col(s"band_$i").as("bucket"))): _*)).as("b"))
      .select(col("id"), col("b.bi").as("bi"), col("b.bucket").as("bucket"))
      .where(col("bucket").isNotNull)
    val buckets = exploded.groupBy(col("bi"), col("bucket"))
      .agg(collect_list(col("id")).as("m"))
      .where(size(col("m")) > 1)
    // in-bucket pair expansion ([[bucketPairs]] — in-row up to the cap,
    // streamed beyond it); a doc appears at most once per (band,
    // bucket), so least/greatest only canonicalizes pair order
    // (collect_list order is nondeterministic under task retries)
    val cand = bucketPairs(buckets.select(col("m")))
      .select(least(col("x"), col("y")).as("doc_a"),
        greatest(col("x"), col("y")).as("doc_b"))
      .distinct()
    val sets = bandsIn.select(col("id"), col("shingle_set"))
    cand
      .join(sets.select(col("id").as("doc_a"), col("shingle_set").as("sa")), Seq("doc_a"))
      .join(sets.select(col("id").as("doc_b"), col("shingle_set").as("sb")), Seq("doc_b"))
      // one intersection per pair; |a ∪ b| = |a| + |b| - |a ∩ b| avoids
      // building the union set (array_union hashes both arrays again)
      .select(col("doc_a"), col("doc_b"),
        intersectCount(col("sa"), col("sb")).as("c"),
        size(col("sa")).as("na"), size(col("sb")).as("nb"))
      .select(col("doc_a"), col("doc_b"),
        (col("c").cast("double") / (col("na") + col("nb") - col("c"))).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** Exact n-gram Jaccard set-similarity self-join (the non-approximate
    * sibling of [[nearDupPairs]]): all pairs with shingle-set Jaccard ≥
    * `threshold`, found via a prefix-filtered inverted index.
    *
    * Scale path (public PPJoin-family result — Chaudhuri et al. SSJoin,
    * Xiao et al. PPJoin): under ANY fixed global order of shingles, two
    * docs with Jaccard ≥ t MUST share at least one of each doc's first
    * `|sh| - ceil(t*|sh|) + 1` shingles, so only that prefix is
    * indexed. Candidates are then verified with the exact intersection
    * over full sets, so the order affects only candidate count, never
    * the result. The order is global document frequency, rarest first:
    * hot shingles (every doc sharing "of the and") sort to the END of
    * every set and fall outside every prefix, so their quadratic pair
    * blowup never reaches the join. Costs a doc-frequency aggregate and
    * a per-doc rank window over the inverted index.
    *
    * Candidates come from ONE hash-aggregate over the prefix index
    * (collect each prefix shingle's posting list, expand pairs in-row —
    * the d10 one-pass shape) instead of a posting-list self-join, so
    * the shingle stage has no self-join consumers and needs NO in-path
    * persist (the previous form leaked one cached copy per call in a
    * long-lived session — no release path existed). The shingle-set
    * frame still feeds FOUR plan subtrees (the inverted index twice —
    * dfreq + prefix — and the two verify fetches), and `df` may carry
    * arbitrary upstream lineage (curate's gate kernels + dedup
    * semi-join), so it is pinned with a LAZY `RDD.localCheckpoint` —
    * one materialization instead of four recomputes of the upstream
    * shuffles, with the ContextCleaner releasing the blocks when the
    * RDD is collected (the x17/x19 lineage-pin shape; the standing
    * PersistGuardSpec exempts cleaner-managed checkpoints).
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, threshold: Double = 0.5): DataFrame = {
    val shPlan = df.select(col(idCol).as("id"),
        array_distinct(TextOps.shingles(col(textCol), shingleN)).as("sh"))
      .where(size(col("sh")) > 0)
    // lazy Dataset-level checkpoint: cleaner-managed like the RDD form
    // but WITHOUT the Row-encoder boundary (stays InternalRow, keeps
    // codegen around the pin)
    ngramJaccardPairsFromSets(shPlan.localCheckpoint(false), threshold)
  }

  /** [[ngramJaccardPairs]] over an ALREADY-materialized distinct
    * shingle-set table (id, sh) — for callers that hold the sets in a
    * persisted/landed frame (the incremental curation path) and must
    * not pay a second pin of the same data. The caller owns the input's
    * lifecycle; rows with empty sets are ignored.
    */
  private[graft] def ngramJaccardPairsFromSets(sets: DataFrame,
      threshold: Double): DataFrame = {
    require(threshold > 0 && threshold <= 1, "threshold in (0, 1]")
    import org.apache.spark.sql.expressions.Window
    val sh = sets.where(size(col("sh")) > 0)
    val prefLen = col("n") - ceil(lit(threshold) * col("n")).cast("int") + 1
    val inv = sh.select(col("id"), size(col("sh")).as("n"), explode(col("sh")).as("s"))
    val dfreq = inv.groupBy("s").agg(count(lit(1)).as("df"))
    // rarest-first rank inside each doc; ties broken by shingle text
    // so both join sides agree on the same prefix
    val prefix = inv.join(dfreq, Seq("s"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("id")).orderBy(col("df"), col("s"))))
      .where(col("rk") <= prefLen)
      // a df=1 shingle exists in exactly one doc: it can only ever
      // self-join, so dropping it from the candidate index is
      // lossless and removes the (usually long) unique-shingle tail
      // from the join shuffle
      .where(col("df") > 1)
    // one-pass posting-list pair expansion: a shingle appears at most
    // once per doc's prefix, so each (s, id) is unique and least/
    // greatest only canonicalizes pair order. Local quadratic bounded
    // by the hottest surviving prefix shingle's posting list — the same
    // per-key bound a posting self-join has, but measured 6–10× FASTER
    // at the 10× clone-corpus probe (d6 188 s vs 1 944 s, x29 261 s vs
    // 1 242 s): the self-join shuffles the index twice and re-sorts
    // both sides per key, while this shape pays ONE hash aggregate and
    // expands in place. In-row expansion is bounded at
    // [[InRowPairCap]] members; a hotter posting list (clone-heavy
    // input that skipped the upstream exact-dedup pass) streams
    // through [[bucketPairs]]' two-stage explode with O(m) per-row
    // memory instead of relying on callers following the documented
    // curation order.
    val cand = bucketPairs(prefix.select(col("s"), col("id"))
        .groupBy(col("s")).agg(collect_list(col("id")).as("m"))
        .where(size(col("m")) > 1)
        .select(col("m")))
      .select(least(col("x"), col("y")).as("doc_a"),
        greatest(col("x"), col("y")).as("doc_b"))
      .distinct()
    cand
      .join(sh.select(col("id").as("doc_a"), col("sh").as("sa")), Seq("doc_a"))
      .join(sh.select(col("id").as("doc_b"), col("sh").as("sb")), Seq("doc_b"))
      // alias the intersection size so it is computed ONCE per pair
      // (CollapseProject keeps the two-step projection because a
      // non-cheap alias referenced twice is never inlined)
      .select(col("doc_a"), col("doc_b"),
        intersectCount(col("sa"), col("sb")).as("c"),
        size(col("sa")).as("na"), size(col("sb")).as("nb"))
      .select(col("doc_a"), col("doc_b"),
        (col("c").cast("double") / (col("na") + col("nb") - col("c"))).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** The PPJoin prefix of a distinct shingle-set column under the
    * md5 global order: the first `|sh| − ceil(t·|sh|) + 1` shingles.
    * Any two sets with Jaccard ≥ t share an element of BOTH prefixes
    * under any one fixed order, so indexing only prefixes is lossless
    * for candidate generation. The md5 order is CONTENT-determined —
    * independent of corpus composition — which is what lets an
    * incremental pipeline persist the prefix index once and join new
    * shards against it forever (a doc-frequency order would change as
    * the corpus grows, invalidating stored prefixes).
    */
  private[graft] def hashPrefixArray(sh: Column, threshold: Double): Column =
    transform(
      slice(array_sort(transform(sh, s => struct(md5(s).as("h"), s.as("s")))),
        lit(1), greatest(lit(0), size(sh) -
          ceil(lit(threshold) * size(sh)).cast("int") + 1)),
      e => e.getField("s"))

  /** All strings reachable from `p` by deleting UP TO `k` characters
    * (including `p` itself), distinct. Pure nested array expressions —
    * narrow, codegen-eligible, no shuffle. Neighborhood size is
    * O(len^k) per row, which is why [[editDistanceJoin]] caps k at 2
    * and callers key on a bounded-length prefix, not whole documents.
    */
  private[graft] def deletionNeighborhood(p: Column, k: Int): Column = {
    require(k >= 1 && k <= 2, s"deletion neighborhood only for k in 1..2, got $k")
    // delete the character at 0-based index i; the `when` guard keeps
    // sequence() from producing a descending [0, -1] range on ''.
    def del1(x: Column): Column = when(length(x) > 0,
      transform(sequence(lit(0), length(x) - 1),
        i => concat(x.substr(lit(1), i), x.substr(i + lit(2), length(x)))))
      .otherwise(array().cast("array<string>"))
    val d1 = del1(p)
    val tiers =
      if (k == 1) array(p) +: Seq(d1)
      else array(p) +: Seq(d1, flatten(transform(d1, v => del1(v))))
    array_distinct(concat(tiers: _*))
  }

  /** Edit-distance similarity self-join: all pairs with
    * levenshtein(a, b) <= maxDist, via SymSpell deletion-neighborhood
    * candidates. If ed(a, b) = d <= k then an optimal alignment has
    * s substitutions + da deletions-from-a + db deletions-from-b with
    * s+da+db = d; deleting the substituted+deleted positions from each
    * side reaches the SAME copied subsequence with s+da <= k and
    * s+db <= k deletions respectively — so every qualifying pair shares
    * at least one exact variant and candidate generation NEVER misses
    * (the converse over-generates, which the exact verify then rejects).
    *
    * Scale: signatures are a narrow per-row explode (O(len^k) rows,
    * each reduced to a 64-bit xxhash so the shuffle carries 8-byte
    * keys, not substrings); candidates come from ONE equi-join on the
    * variant hash with a |len| <= k band prune, distinct'd BEFORE the
    * two id-equi-joins that fetch strings, so the exact verify
    * (threshold-bounded levenshtein, O(k * min-len) per pair) runs once
    * per candidate pair — never corpus-quadratic, bucket-quadratic only
    * where near-clones cluster (the d2b property). A 64-bit hash
    * collision can only ADD a candidate, which verify rejects.
    */
  def editDistanceJoin(df: DataFrame, idCol: String, textCol: String,
      maxDist: Int): DataFrame = {
    require(maxDist >= 1 && maxDist <= 2, s"maxDist in 1..2, got $maxDist")
    val base = df.select(col(idCol).as("id"), col(textCol).as("p"))
      .where(col("p").isNotNull)
    editDistanceCandidates(base, maxDist)
      .join(base.select(col("id").as("doc_a"), col("p").as("pa")), Seq("doc_a"))
      .join(base.select(col("id").as("doc_b"), col("p").as("pb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        levenshtein(col("pa"), col("pb"), maxDist).as("dist"))
      .where(col("dist") >= 0 && col("dist") <= maxDist)
  }

  /** The signature + candidate stage of [[editDistanceJoin]]: ONE
    * hash-aggregate shuffle of the O(len^k)-exploded variant stream
    * collects each variant bucket's members; singleton buckets — the
    * overwhelming majority of a real corpus's neighborhood — can never
    * pair and are dropped before anything expands; surviving buckets
    * expand their pairs NARROWLY inside the row (index-windowed
    * higher-order transform), so there is no self-join, no sort, and
    * no second shuffle of the variant stream at all. (The previous
    * shape — count-window prune + sort-merge self-join — shuffled the
    * 40M-variant stream three times and needed an in-path persist
    * because Catalyst doesn't share subtrees across self-join inputs;
    * this one-pass form measured 18.0 → 4.4 s cold at sf0.1 and needs
    * no cache at all.)
    *
    * Skew contract: a bucket's member list materializes in one row;
    * buckets up to [[InRowPairCap]] expand in-row, larger ones (a
    * 40-char prefix repeated millions of times) stream through
    * [[bucketPairs]]' two-stage explode with O(m) per-row memory —
    * still locally quadratic in work (that is the math of the input),
    * but never quadratic in a single row's footprint.
    */
  private[graft] def editDistanceCandidates(base: DataFrame,
      maxDist: Int): DataFrame = {
    // native variant hashing ([[graft.functions.DeletionHashes]]):
    // the composed explode(neighborhood)+xxhash64 form allocates
    // O(len²) variant strings per row in interpreted HOFs — measured
    // 6.5 s of d10's 18 s; the polynomial-composition expression emits
    // the distinct hash set directly
    val sigs = base.select(col("id"), length(col("p")).as("plen"),
      explode(deletionHashes(col("p"), maxDist)).as("h"))
    // count-prune BEFORE the collect: the overwhelming majority of
    // variant hashes are singletons (they can never pair), but
    // collect_list is a TypedImperativeAggregate — no map-side partial
    // aggregation worth anything on unique keys, per-group object
    // buffers, and a sort-based fallback past the in-memory key cap —
    // so feeding it the full variant stream pays object-agg cost on
    // 99%+ dead groups (profiled: Collect.merge/CollectList.eval were
    // d10's hottest frames). The count aggregate is a codegen'd
    // hash-agg whose map-side partials collapse the stream before the
    // exchange (guide §2.3), the survivors' semi-join broadcasts at
    // sane sizes (§3.2), and only genuinely-pairable buckets reach the
    // object agg. Result-identical: `size(m) > 1` was dropping the
    // singletons anyway.
    val hot = sigs.groupBy(col("h")).agg(count(lit(1)).as("n"))
      .where(col("n") > 1).select("h")
    val buckets = sigs.join(hot, Seq("h"), "left_semi")
      .groupBy(col("h"))
      .agg(collect_list(struct(col("id"), col("plen"))).as("m"))
      .where(size(col("m")) > 1)
    // in-bucket pair expansion ([[bucketPairs]]): for member i, pair
    // with every member after it; same id twice in one bucket (two
    // deletions reaching the same variant) self-pairs and is filtered
    bucketPairs(buckets.select(col("m")))
      .where(col("x.id") =!= col("y.id") &&
        abs(col("x.plen") - col("y.plen")) <= maxDist)
      .select(least(col("x.id"), col("y.id")).as("doc_a"),
        greatest(col("x.id"), col("y.id")).as("doc_b"))
      .distinct()
  }

  /** Distinct 64-bit hashes of the ≤k deletion neighborhood, computed
    * natively ([[graft.functions.DeletionHashes]] — no variant string
    * is ever built).
    */
  private[graft] def deletionHashes(p: Column, k: Int): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(graft.functions.DeletionHashes(
      GraftColumnBridge.expression(p), k))
  }

  /** 16-bit SimHash over token md5s: per bit b, majority vote of
    * (hash bit ? +1 : -1) across all token occurrences; bit set iff the
    * sum is positive. Native fused expression (one codegen'd pass, one
    * md5 per token) — no explode, no shuffle, no interpreted folds.
    */
  def simhash16(text: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(graft.functions.SimhashText(
      GraftColumnBridge.expression(text), 16))
  }

  /** 64-bit SimHash (long-packed; see [[graft.functions.SimhashLong]]) —
    * the fingerprint width Hamming-banded pair search needs.
    */
  def simhash64(text: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(graft.functions.SimhashLong(
      GraftColumnBridge.expression(text), 64))
  }

  /** SimHash near-duplicate pairs within Hamming distance ≤ `maxDist`
    * over a 64-BIT fingerprint, found by BLOCK BANDING (the public
    * Manku/Jain/Das Sarma WWW'07 construction): split the fingerprint
    * into `maxDist + 1` contiguous blocks — by pigeonhole, two
    * fingerprints within `maxDist` differing bits must agree EXACTLY on
    * at least one whole block. Candidates are therefore a (block_idx,
    * block_value) equi-join — one shuffle on the block key, never an
    * all-pairs product — and the exact `bit_count(xor)` distance
    * verifies only the candidates, so banding affects candidate count,
    * never the result. The fingerprint rides along through the explode,
    * so the verify needs no extra join back to the signature table.
    *
    * Width matters for the shuffle key: the default maxDist=3 gives
    * 16-bit blocks — 65 536 bucket values per block position — where
    * banding the 16-bit [[simhash16]] would leave 16 values per block
    * and an O(n²/16) candidate blowup. 64 bits must split evenly:
    * `maxDist + 1` ∈ {1, 2, 4, 8, 16, 32, 64}.
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      maxDist: Int = 3): DataFrame =
    hamming64Pairs(
      df.select(col(idCol).as("id"), simhash64(col(textCol)).as("sh")),
      maxDist)

  /** Perceptual dHash of an encoded image column
    * ([[graft.functions.ImageDHash]]): sniff-decode (BMP/PNG/JPEG) →
    * integer gray → 9×8 nearest resample → 64 horizontal-gradient bits.
    * Null for undecodable bytes.
    */
  def imageDHash(bytes: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(graft.functions.ImageDHash(
      GraftColumnBridge.expression(bytes)))
  }

  /** Image near-duplicate pairs: all pairs whose perceptual dHash
    * fingerprints are within Hamming distance `maxDist` — byte-exact
    * clones land at distance 0, re-encodes (PNG→JPEG) and light edits
    * land within a small radius. Candidates come from the SAME Manku
    * block banding as text SimHash ([[hamming64Pairs]]) — one equi-join
    * shuffle on (block index, block value), never all-pairs — after one
    * decode+hash pass per image (the narrow, dominant cost).
    * Undecodable images hash to null and are excluded (they can only be
    * deduped byte-exactly — d1).
    */
  def imageNearDupPairs(df: DataFrame, idCol: String, bytesCol: String,
      maxDist: Int = 3): DataFrame =
    hamming64Pairs(
      df.select(col(idCol).as("id"), imageDHash(col(bytesCol)).as("sh"))
        .where(col("sh").isNotNull),
      maxDist)

  /** The Manku block-banding index of a 64-bit fingerprint table
    * (id, sh) → (bi, block, id, sh) — the shared candidate key of
    * [[hamming64Pairs]] and the persisted band index of
    * [[IncrementalDedupOps.ingestImageShard]] (one definition, so the
    * stored index can never desynchronize from the verify engine).
    */
  private[graft] def mankuBands(sig: DataFrame, maxDist: Int): DataFrame = {
    val nBlocks = maxDist + 1
    require(64 % nBlocks == 0, s"maxDist+1 must divide 64, got $nBlocks")
    val blockBits = 64 / nBlocks
    val mask = if (blockBits == 64) -1L else (1L << blockBits) - 1
    sig.select(col("id"), col("sh"),
      posexplode(array((0 until nBlocks).map(i =>
        shiftright(col("sh"), i * blockBits).bitwiseAND(lit(mask))): _*))
        .as(Seq("bi", "block")))
      .select(col("bi"), col("block"), col("id"), col("sh"))
  }

  /** Hamming-radius pair search over any 64-bit fingerprint table
    * (id, sh) — the shared engine of [[simhashPairs]] and
    * [[imageNearDupPairs]]. [[mankuBands]] provides the candidate key:
    * `maxDist + 1` contiguous blocks; by pigeonhole two fingerprints
    * within `maxDist` differing bits agree exactly on a whole block, so
    * candidates are a (block_idx, block_value) equi-join and
    * `bit_count(xor)` verifies only candidates. The fingerprint rides
    * through the explode, so the verify needs no join back to the
    * signature table.
    */
  private[graft] def hamming64Pairs(sig: DataFrame, maxDist: Int): DataFrame = {
    // A pair agreeing on several blocks surfaces once per agreement —
    // dedup AFTER the cheap Hamming filter (fewer rows to distinct).
    val tagged = mankuBands(sig, maxDist)
    val l = tagged.select(col("bi"), col("block"),
      col("id").as("doc_a"), col("sh").as("sh_a"))
    val r = tagged.select(col("bi"), col("block"),
      col("id").as("doc_b"), col("sh").as("sh_b"))
    l.join(r, Seq("bi", "block"))
      .where(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming"))
      .where(col("hamming") <= maxDist)
      .distinct()
  }

  /** Duplicate n-gram SPAN detection — the exact-substring dedup signal
    * (Lee et al., "Deduplicating Training Data Makes Language Models
    * Better", ACL'22: drop any ≥n-token substring that occurs twice in
    * the corpus). A window start position `pos` is COVERED when the
    * n-token window beginning there occurs ≥ 2 times corpus-wide (in
    * any document, its own included — self-repeats are duplication
    * too). Runs of adjacent covered starts merge into maximal spans.
    *
    * Returns (id, span_start, span_end, n_windows): 0-based token
    * indices, `span_end` = last token of the last covered window
    * (start + n − 1), `n_windows` = covered window starts in the span.
    * Downstream curation can cut or drop these spans; emitting spans
    * rather than rewritten text keeps the operator's output scalar and
    * auditable.
    *
    * Scale shape: positional shingle explode (narrow) → ONE count
    * aggregate on the shingle string (map-side partial combine; the
    * heavy-hitter shingle count is bounded by corpus size, never
    * squared) → semi-join of positions against the duplicated-shingle
    * set (equi-join on the shingle — no product anywhere) → per-doc
    * gaps-and-islands window (`pos − row_number`), partitioned by doc
    * id so span assembly parallelizes per document. A suffix-array
    * build (the paper's in-memory construction) does not distribute;
    * this positional-shingle form is the standard shared-nothing
    * equivalent for fixed minimum match length n.
    */
  def duplicateSpans(df: DataFrame, idCol: String, textCol: String,
      n: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val win = df
      .select(col(idCol).as("id"),
        posexplode(TextOps.shingles(col(textCol), n)).as(Seq("pos", "s")))
    // left-semi keeps the probe side narrow: positions flow through,
    // the duplicated-shingle set is only a filter
    val dup = win.groupBy("s").agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >= 2).select("s")
    val covered = win.join(dup, Seq("s"), "left_semi")
    val grp = col("pos") - row_number().over(
      Window.partitionBy(col("id")).orderBy(col("pos")))
    covered
      .select(col("id"), col("pos"), grp.as("grp"))
      .groupBy("id", "grp")
      .agg(
        min(col("pos")).cast("long").as("span_start"),
        (max(col("pos")) + lit(n - 1)).cast("long").as("span_end"),
        count(lit(1)).as("n_windows"))
      .select(col("id").as(idCol), col("span_start"), col("span_end"),
        col("n_windows"))
  }

  /** Companion to [[duplicateSpans]] — actually CUT the duplicated
    * spans (what the Lee et al. pipeline does with the spans it finds):
    * every token inside a covered window is removed, the survivors are
    * re-joined with single spaces in original order. The contract is
    * token-level (a normalized reconstruction), so the output carries
    * `md5` of the cleaned body rather than the body itself plus exact
    * kept/cut token counts — scalar, auditable, and joinable back to
    * the corpus by id. Every input document appears in the output,
    * including fully-cut ones (empty body, `md5('')`).
    *
    * Scale shape: same as [[duplicateSpans]] through the covered-start
    * semi-join; covered starts then expand ×n into cut token indices
    * (bounded by n × covered, never n × corpus), and ONE groupBy(id)
    * assembles counts and the ordered survivor join — `collect_list`
    * of (index, token) structs sorted per row, partitioned by doc so
    * assembly parallelizes per document.
    */
  def cutDuplicateSpans(df: DataFrame, idCol: String, textCol: String,
      n: Int = 8): DataFrame = {
    val toks = df.select(col(idCol).as("id"),
      posexplode(TextOps.tokens(col(textCol))).as(Seq("ti", "tok")))
    val win = df.select(col(idCol).as("id"),
      posexplode(TextOps.shingles(col(textCol), n)).as(Seq("pos", "s")))
    val dup = win.groupBy("s").agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >= 2).select("s")
    val cut = win.join(dup, Seq("s"), "left_semi")
      .select(col("id"),
        explode(sequence(col("pos"), col("pos") + lit(n - 1))).as("ti"))
      .distinct()
      .withColumn("c", lit(1))
    toks.join(cut, Seq("id", "ti"), "left_outer")
      .groupBy("id")
      .agg(
        md5(concat_ws(" ", transform(
          sort_array(collect_list(when(col("c").isNull,
            struct(col("ti"), col("tok"))))),
          s => s.getField("tok")))).as("clean_md5"),
        count(when(col("c").isNull, 1)).as("n_kept"),
        count(col("c")).as("n_cut"))
      .select(col("id").as(idCol), col("clean_md5"),
        col("n_kept"), col("n_cut"))
  }

  /** Dedup cluster formation: connected components over a near-dup pair
    * graph via the ALTERNATING STAR algorithm (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14) — the
    * step after candidate generation in a dedup pipeline (every member
    * of a component keeps one representative, the minimum id).
    *
    * Each round rewrites the EDGE LIST with two phases. large-star:
    * every node attaches its strictly-larger neighbors to the minimum
    * of its closed neighborhood; small-star: it attaches its
    * smaller-or-equal neighbors (and itself) to that minimum. The edge
    * set contracts toward one star per component, centered at the
    * component's min id — convergence is O(log²) guaranteed, ~log₂(n)+1
    * observed, INDEPENDENT of how ids are placed on the graph.
    *
    * This replaced a min-label-propagation loop with a stale pointer
    * jump: that jump only doubles reach when the current minimum sits
    * at the propagation frontier (ids assigned along the chain — the
    * battery's happy case). ScaleStressSpec's randomized-id chain
    * showed the truth: ~n/2 rounds, i.e. O(diameter), a scale killer
    * on giant chained components.
    *
    * Both phases are node-keyed groupBy + equi-join over the current
    * edge frame, AQE-planned. Each round localCheckpoints (lineage
    * truncation — persist alone leaves Catalyst replanning a plan that
    * nests every prior round and goes quadratic; measured on the sf0.1
    * graph). The convergence probe is a count fast-path plus ONE
    * one-sided `exceptAll` when counts match (both frames are distinct
    * sets, so equal size + empty difference IS equality) — and the
    * frame SHRINKS every round. `maxIter` bounds the loop;
    * non-convergence throws rather than returning a half-contracted
    * graph.
    *
    * Returns one row per node in `nodes`: (idCol, cluster) where
    * cluster = min id of the node's component (singletons label
    * themselves).
    */
  def connectedComponents(nodes: DataFrame, idCol: String,
      pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 25): DataFrame =
    connectedComponentsWithStats(nodes, idCol, pairs, aCol, bCol, maxIter)._1

  /** Fold one batch's new edges into an incrementally-maintained
    * cluster-map SNAPSHOT — the shared engine of
    * [[IncrementalCurateOps.ingestShard]] and
    * [[IncrementalDedupOps.ingestEmbeddingShard]]. The snapshot holds
    * only NON-TRIVIAL rows (doc_id → component-min cluster where
    * cluster ≠ doc_id); an id absent from the map is its own
    * representative.
    *
    * [[connectedComponents]] runs over the CONDENSED graph — the new
    * edges with endpoints remapped through the previous snapshot's reps
    * — so its input is O(this batch's edges), never the accumulated
    * edge history; composing the condensed labels back onto the
    * previous map is one join against the (non-singleton-only) prior
    * snapshot. Remap correctness: prev reps are their clusters' global
    * min ids, so the condensed component's min IS the merged
    * component's min, and labels stay canonical by induction.
    *
    * `newIds` = ids introduced this batch (so new singletons that later
    * edges touch are known nodes); `edges` = (doc_a, doc_b) pairs
    * gained this batch (new∕new + new∕old).
    */
  private[graft] def foldClusterSnapshot(prevSnap: Option[DataFrame],
      newIds: DataFrame, edges: DataFrame): DataFrame = prevSnap match {
    case None =>
      connectedComponents(newIds, "doc_id", edges, "doc_a", "doc_b")
        .where(col("cluster") =!= col("doc_id"))
    case Some(prev) =>
      // non-trivial rows only: an id absent from the map is its own
      // rep, which coalesce() supplies on both remap legs
      val condensed = edges
        .join(prev.select(col("doc_id").as("doc_a"), col("cluster").as("ca")),
          Seq("doc_a"), "left")
        .join(prev.select(col("doc_id").as("doc_b"), col("cluster").as("cb")),
          Seq("doc_b"), "left")
        .select(coalesce(col("ca"), col("doc_a")).as("doc_a"),
          coalesce(col("cb"), col("doc_b")).as("doc_b"))
        .where(col("doc_a") =!= col("doc_b"))
      val condNodes = newIds
        .unionAll(condensed.select(col("doc_a").as("doc_id")))
        .unionAll(condensed.select(col("doc_b").as("doc_id")))
        .distinct()
      val cond = connectedComponents(
          condNodes, "doc_id", condensed, "doc_a", "doc_b")
        .select(col("doc_id").as("rep"), col("cluster").as("new_cluster"))
      // prev members follow their rep's move; touched reps (old or
      // new ids — disjoint from prev's member ids) gain a row iff
      // they stopped being their own min
      val remapped = prev
        .join(cond, prev("cluster") === cond("rep"), "left")
        .select(prev("doc_id"),
          coalesce(col("new_cluster"), prev("cluster")).as("cluster"))
      remapped.unionAll(cond.where(col("new_cluster") =!= col("rep"))
        .select(col("rep").as("doc_id"), col("new_cluster").as("cluster")))
  }

  /** [[connectedComponents]] plus the number of alternating-star rounds
    * it took — the observable for convergence-bound tests (the
    * algorithm promises ~log₂(component size) + 1 rounds regardless of
    * id placement; a spec holds it to that).
    */
  private[graft] def connectedComponentsWithStats(nodes: DataFrame, idCol: String,
      pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 25): (DataFrame, Int) = {
    // one bidirectional adjacency per phase, shared by the min
    // aggregate and the attach join (building it separately for each
    // consumer would double the per-round scans)
    def adjacency(edges: DataFrame): DataFrame =
      edges.select(col("u").as("node"), col("v").as("nbr"))
        .union(edges.select(col("v").as("node"), col("u").as("nbr")))
    def closedMin(adj: DataFrame): DataFrame =
      adj.groupBy("node").agg(min(col("nbr")).as("mn"))
        .select(col("node"), least(col("mn"), col("node")).as("m"))
    // large-star: (nbr > node) → (m, nbr); small-star: (nbr < node) and
    // the node itself → (m, ·). Output stays canonical because m is the
    // closed-neighborhood minimum: m ≤ node, so m < every emitted
    // partner (for large-star m < nbr follows from m ≤ node < nbr).
    // DELIBERATE deviation from Kiveris et al.'s small-star, which
    // attaches to the min over {smaller neighbors} ∪ {self}: both
    // phases here use the GLOBAL closed-neighborhood minimum. That is a
    // valid strengthening (the attach target is ≤ the paper's, still in
    // the same component, so connectivity and monotone convergence are
    // preserved) and lets one closedMin aggregate serve both phases —
    // do not "fix" it back to the paper's subset form without thought.
    def largeStar(edges: DataFrame): DataFrame = {
      val adj = adjacency(edges)
      adj.join(closedMin(adj), Seq("node"))
        .where(col("nbr") > col("node"))
        .select(col("m").as("u"), col("nbr").as("v")).distinct()
    }
    def smallStar(edges: DataFrame): DataFrame = {
      val adj = adjacency(edges)
      val m = closedMin(adj)
      adj.join(m, Seq("node"))
        .where(col("nbr") < col("node") && col("nbr") =!= col("m"))
        .select(col("m").as("u"), col("nbr").as("v"))
        .union(m.where(col("node") =!= col("m"))
          .select(col("m").as("u"), col("node").as("v")))
        .distinct()
    }

    var edges = pairs
      .select(least(col(aCol), col(bCol)).as("u"),
        greatest(col(aCol), col(bCol)).as("v"))
      .where(col("u") =!= col("v") && col("u").isNotNull)
      .distinct()
      .localCheckpoint()
    var edgeCount = edges.count()
    var iter = 0
    var converged = edgeCount == 0
    while (!converged && iter < maxIter) {
      // checkpoint the mid-phase too: small-star reads its input three
      // times (adjacency both ways + the min join) — without
      // materialization each read would replay the whole large-star
      val ls = largeStar(edges).localCheckpoint()
      val next = smallStar(ls).localCheckpoint()
      iter += 1
      // both frames are distinct sets, so equal counts plus an empty
      // one-sided difference IS set equality; the count fast-path skips
      // the exceptAll on every round where the size still moved
      val nextCount = next.count()
      converged = nextCount == edgeCount && next.exceptAll(edges).isEmpty
      edges = next
      edgeCount = nextCount
    }
    require(converged,
      s"connectedComponents did not converge in $maxIter iterations")
    // final edges are stars: u = component min, v = member
    val labels = nodes.select(col(idCol).as("node")).distinct()
      .join(edges.select(col("v").as("node"), col("u").as("star")), Seq("node"), "left")
      .select(col("node").as(idCol),
        coalesce(col("star"), col("node")).as("cluster"))
    (labels, iter)
  }

  /** The composed-builtin SimHash (16 interpreted array folds) — kept as
    * the differential-test twin of the native expression.
    */
  private[graft] def simhash16Composed(text: Column): Column = {
    val hashes = transform(TextOps.tokens(text), t => md5(t))
    // bit b lives in hex char (b / 4), position (3 - b % 4) of its nibble
    def bitOf(h: Column, b: Int): Column =
      shiftright(conv(substring(h, 1 + b / 4, 1), 16, 10).cast("int"), 3 - (b % 4))
        .bitwiseAND(1)
    val terms = (0 until 16).map { b =>
      val s = aggregate(hashes, lit(0),
        (acc, h) => acc + when(bitOf(h, b) === 1, 1).otherwise(-1))
      when(s > 0, lit(1 << b)).otherwise(lit(0))
    }
    terms.reduce(_ + _)
  }
}
