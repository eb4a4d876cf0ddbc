package graft.ops

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.SparkTestSession

class DedupOpsSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Brute-force oracle: word-3-gram distinct shingle sets, all pairs. */
  private def bruteForce(docs: Seq[(Long, String)], t: Double): Set[(Long, Long, Double)] = {
    def sh(s: String): Set[String] = {
      val toks = s.trim.split("\\s+").toSeq
      if (toks.size < 3) Set.empty
      else toks.sliding(3).map(_.mkString(" ")).toSet
    }
    val sets = docs.map { case (id, text) => id -> sh(text) }.filter(_._2.nonEmpty)
    (for {
      (a, sa) <- sets; (b, sb) <- sets if a < b
      j = (sa & sb).size.toDouble / (sa | sb).size
      if j >= t
    } yield (a, b, j)).toSet
  }

  test("ngramJaccardPairs matches brute force incl. hot-shingle docs") {
    // doc 1/2: near-dups; doc 3: unrelated; doc 4/5: share only a hot
    // shingle ("the cat sat" appears in 4 docs) — prefix filtering must
    // still find every qualifying pair and no sub-threshold pair.
    val docs = Seq(
      1L -> "the cat sat on the red mat today",
      2L -> "the cat sat on the red mat yesterday",
      3L -> "completely different words entirely here now",
      4L -> "the cat sat under a blue tree",
      5L -> "the cat sat under a blue bush",
      6L -> "to short",
      7L -> "")
    val got = DedupOps
      .ngramJaccardPairs(docs.toDF("doc_id", "text"), "doc_id", "text",
        shingleN = 3, threshold = 0.5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == bruteForce(docs, 0.5))
    assert(got.map(p => (p._1, p._2)) == Set((1L, 2L), (4L, 5L)))
  }

  test("bucketPairs: streamed big-bucket path emits the identical pair " +
      "set as the in-row path (the oversized-bucket enforcement)") {
    // buckets straddling any cap: sizes 2, 3, 5, 50
    val buckets = Seq(
      Seq("a", "b"),
      Seq("c", "d", "e"),
      Seq("p1", "p2", "p3", "p4", "p5"),
      (1 to 50).map(i => f"z$i%02d"))
    val df = buckets.toDF("m")
    def pairs(cap: Int): Set[(String, String)] =
      DedupOps.bucketPairs(df, cap).collect()
        .map(r => (r.getString(0), r.getString(1)))
        .map { case (x, y) => if (x < y) (x, y) else (y, x) }.toSet
    val expected = buckets.flatMap(m =>
      for (i <- m.indices; j <- i + 1 until m.size)
        yield (m(i), m(j))).map { case (x, y) =>
      if (x < y) (x, y) else (y, x) }.toSet
    // cap=2 forces every bucket but the first through the streamed
    // shape; a huge cap keeps everything in-row; both equal brute force
    assert(pairs(2) == expected)
    assert(pairs(1000000) == expected)
    // pair COUNT is exact too (no dup/loss across the union branches)
    assert(DedupOps.bucketPairs(df, 2).count() ==
      buckets.map(m => m.size.toLong * (m.size - 1) / 2).sum)
  }

  test("simhashPairs banding loses no pair vs brute force, for several maxDist") {
    // 1/4 exact dups (Hamming 0, must always surface); 2 a one-token
    // variant of 1 (small but fingerprint-dependent distance); 3
    // unrelated. The expected set is brute-forced from the SAME
    // fingerprint expression (its correctness is pinned separately by
    // the d3/d7 DuckDB oracles), so this test isolates exactly the
    // banding claim: the (block_idx, block_value) equi-join finds every
    // pair the quadratic scan finds.
    val docs = Seq(
      1L -> "the quick brown fox jumps over the lazy dog again and again today",
      2L -> "the quick brown fox jumps over the lazy dog again and again tomorrow",
      3L -> "completely unrelated text about astrophysics and galactic rotation",
      4L -> "the quick brown fox jumps over the lazy dog again and again today")
    val df = docs.toDF("doc_id", "text")
    val sh = df.select($"doc_id", DedupOps.simhash64($"text").as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (maxDist <- Seq(1, 3, 7)) {
      val expect = (for {
        a <- sh.keys; b <- sh.keys if a < b
        h = java.lang.Long.bitCount(sh(a) ^ sh(b)) if h <= maxDist
      } yield (a, b, h)).toSet
      val got = DedupOps.simhashPairs(df, "doc_id", "text", maxDist)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(got == expect, s"maxDist=$maxDist")
      assert(got.exists(p => p._1 == 1L && p._2 == 4L && p._3 == 0),
        s"exact dup not found at maxDist=$maxDist")
    }
  }

  test("simhash64's low 16 bits equal simhash16 (shared bit layout)") {
    val df = Seq("a b c", "the cat sat on the mat", " padded  ", "")
      .toDF("text")
    df.select(DedupOps.simhash16($"text").cast("long").as("s16"),
        DedupOps.simhash64($"text").as("s64"))
      .collect()
      .foreach(r => assert((r.getLong(1) & 0xFFFFL) == r.getLong(0)))
  }

  test("ngramJaccardPairs at threshold 1.0 finds only exact shingle-set dups") {
    val docs = Seq(
      1L -> "a b c d",
      2L -> "a b c d",
      3L -> "a b c e")
    val got = DedupOps
      .ngramJaccardPairs(docs.toDF("doc_id", "text"), "doc_id", "text",
        shingleN = 3, threshold = 1.0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 2L)))
  }

  test("duplicateSpans + cutDuplicateSpans match brute force on random corpora") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val rnd = new scala.util.Random(42)
    val vocab = Seq("a", "b", "c", "d") // tiny vocab forces collisions
    for (trial <- 1 to 3) {
      val docs = (1L to 30L).map { id =>
        id -> Seq.fill(5 + rnd.nextInt(11))(vocab(rnd.nextInt(vocab.size)))
          .mkString(" ")
      }
      val n = 3
      // brute force: corpus-wide window counts → covered starts → spans
      val wins = docs.flatMap { case (id, t) =>
        t.split(" ").toSeq.sliding(n).zipWithIndex
          .filter(_._1.size == n)
          .map { case (w, i) => (id, i, w.mkString(" ")) }
      }
      val counts = wins.groupBy(_._3).view.mapValues(_.size).toMap
      val covered = wins.filter(w => counts(w._3) >= 2)
      val spans = covered.groupBy(_._1).flatMap { case (id, ws) =>
        val starts = ws.map(_._2).sorted
        val runs = starts.foldLeft(List.empty[List[Int]]) {
          case (acc, p) if acc.nonEmpty && acc.head.head == p - 1 =>
            (p :: acc.head) :: acc.tail
          case (acc, p) => List(p) :: acc
        }
        runs.map(r => (id, r.min.toLong, (r.max + n - 1).toLong, r.size.toLong))
      }.toSet
      val df = docs.toDF("doc_id", "text")
      val gotSpans = DedupOps.duplicateSpans(df, "doc_id", "text", n)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSet
      assert(gotSpans == spans, s"trial $trial spans")
      // cut: every token inside a covered window goes; md5 + counts
      val cutIdx = covered.groupBy(_._1).view
        .mapValues(_.flatMap(w => w._2 until w._2 + n).toSet).toMap
      val expCut = docs.map { case (id, t) =>
        val toks = t.split(" ").toSeq
        val cut = cutIdx.getOrElse(id, Set.empty)
        val kept = toks.zipWithIndex.collect { case (tk, i) if !cut(i) => tk }
        id -> ((md5hex(kept.mkString(" ")), kept.size.toLong, cut.size.toLong))
      }.toMap
      val gotCut = DedupOps.cutDuplicateSpans(df, "doc_id", "text", n)
        .collect().map(r => r.getLong(0) ->
          ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
      assert(gotCut == expCut, s"trial $trial cut")
    }
  }

  test("connectedComponents labels chains, merges, and singletons by min id") {
    // components: {1,2,3,4} (a chain), {5,6,9} (merged via two pairs),
    // {7} (singleton, no edges), {8} (appears only as a node)
    val nodes = (1L to 9L).map(Tuple1(_)).toDF("id")
    val pairs = Seq((2L, 1L), (2L, 3L), (4L, 3L), (5L, 6L), (9L, 6L), (7L, 7L))
      .toDF("a", "b")
    val got = DedupOps.connectedComponents(nodes, "id", pairs, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 5L, 6L -> 5L, 9L -> 5L, 7L -> 7L, 8L -> 8L))
  }

  test("duplicateSpans merges adjacent covered windows; counts self-repeats") {
    // doc 1 and 2 share the 3-gram windows at positions 0 and 1 → one
    // merged span [0,3] in each; doc 3 repeats "p q r s" internally →
    // TWO disjoint spans (self-repeats count toward corpus frequency);
    // doc 4's single window is unique; doc 5 is below the window width.
    val docs = Seq(
      1L -> "a b c d e f g",
      2L -> "a b c d x y z",
      3L -> "p q r s p q r s",
      4L -> "u v w",
      5L -> "only two")
    val got = DedupOps
      .duplicateSpans(docs.toDF("doc_id", "text"), "doc_id", "text", n = 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got == Set(
      (1L, 0L, 3L, 2L),
      (2L, 0L, 3L, 2L),
      (3L, 0L, 3L, 2L),
      (3L, 4L, 7L, 2L)))
  }

  test("cutDuplicateSpans removes covered tokens; fully-cut and short docs kept") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    // same corpus as the duplicateSpans test: docs 1/2 lose tokens 0-3,
    // doc 3's self-repeat covers ALL its tokens (empty survivor must
    // still appear), docs 4/5 are untouched
    val docs = Seq(
      1L -> "a b c d e f g",
      2L -> "a b c d x y z",
      3L -> "p q r s p q r s",
      4L -> "u v w",
      5L -> "only two")
    val got = DedupOps
      .cutDuplicateSpans(docs.toDF("doc_id", "text"), "doc_id", "text", n = 3)
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got == Map(
      1L -> ((md5hex("e f g"), 3L, 4L)),
      2L -> ((md5hex("x y z"), 3L, 4L)),
      3L -> ((md5hex(""), 0L, 8L)),
      4L -> ((md5hex("u v w"), 3L, 0L)),
      5L -> ((md5hex("only two"), 2L, 0L))))
  }

  test("connectedComponents throws instead of returning half-propagated labels") {
    // a 6-node path needs ~5 rounds; maxIter=2 must refuse, not lie
    val nodes = (1L to 6L).map(Tuple1(_)).toDF("id")
    val pairs = (1L to 5L).map(i => (i, i + 1)).toDF("a", "b")
    intercept[IllegalArgumentException] {
      DedupOps.connectedComponents(nodes, "id", pairs, "a", "b", maxIter = 2)
    }
  }

  test("deletionNeighborhood enumerates exactly the <=k-deletion variants") {
    val got1 = Seq(Tuple1("abc")).toDF("p")
      .select(DedupOps.deletionNeighborhood(col("p"), 1).as("n"))
      .collect().head.getSeq[String](0).toSet
    assert(got1 == Set("abc", "bc", "ac", "ab"))
    val got2 = Seq(Tuple1("abc")).toDF("p")
      .select(DedupOps.deletionNeighborhood(col("p"), 2).as("n"))
      .collect().head.getSeq[String](0).toSet
    assert(got2 == Set("abc", "bc", "ac", "ab", "a", "b", "c"))
    // empty string: neighborhood is just itself (no descending-range trap)
    val gotE = Seq(Tuple1("")).toDF("p")
      .select(DedupOps.deletionNeighborhood(col("p"), 2).as("n"))
      .collect().head.getSeq[String](0).toSet
    assert(gotE == Set(""))
  }

  test("editDistanceJoin finds exactly the brute-force levenshtein pairs") {
    // seed strings + controlled mutations: substitution, deletion,
    // insertion, double edits, and an ed-3 decoy that must NOT appear
    val strs = Seq(
      1L -> "the quick brown fox jumps",
      2L -> "the quick brown fox jumps",   // ed 0 to 1
      3L -> "the quick brawn fox jumps",   // ed 1 (sub)
      4L -> "the quick brown fox jump",    // ed 1 (del)
      5L -> "the quick browwn fox jumps",  // ed 1 (ins)
      6L -> "the quack brawn fox jumps",   // ed 2 from 1
      7L -> "the quack brawn fox jump",    // ed 3 from 1 (excluded vs 1)
      8L -> "completely different string",
      9L -> "xyz",
      10L -> "xy")
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val expected = (for {
      (ia, sa) <- strs; (ib, sb) <- strs if ia < ib
      dd = lev(sa, sb) if dd <= 2
    } yield (ia, ib, dd)).toSet
    assert(expected.nonEmpty && expected.exists(_._3 == 2),
      "fixture must exercise dist 0, 1 and 2")
    val got = DedupOps.editDistanceJoin(
        strs.toDF("doc_id", "p"), "doc_id", "p", maxDist = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == expected)
    assert(!got.exists(p => p._1 == 1L && p._2 == 7L), "ed-3 decoy leaked in")
  }

  test("editDistanceJoin k=1 is the k<=1 subset") {
    val strs = Seq(1L -> "abcd", 2L -> "abed", 3L -> "abef", 4L -> "abcd")
    val got = DedupOps.editDistanceJoin(
        strs.toDF("doc_id", "p"), "doc_id", "p", maxDist = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == Set((1L, 2L, 1), (2L, 3L, 1), (1L, 4L, 0), (2L, 4L, 1)))
  }

  test("DeletionHashes is the string neighborhood's homomorphic image: " +
      "same distinct count per string, shared-variant iff shared-hash") {
    import graft.functions.DeletionHashes
    import org.apache.spark.unsafe.types.UTF8String
    val rnd = new scala.util.Random(53)
    // short alphabet so different strings genuinely share variants
    def str() = (1 to (rnd.nextInt(8) + 1))
      .map(_ => ('a' + rnd.nextInt(3)).toChar).mkString
    def variants(s: String, k: Int): Set[String] = {
      def d1(x: String) = x.indices.map(i =>
        x.substring(0, i) + x.substring(i + 1)).toSet
      val t1 = d1(s)
      if (k == 1) t1 + s else t1 ++ t1.flatMap(d1) + s
    }
    for (k <- Seq(1, 2)) {
      val strs = (1 to 60).map(_ => str())
      val hashes = strs.map(s => s -> DeletionHashes
        .compute(UTF8String.fromString(s), k).toLongArray().toSet).toMap
      val vars = strs.map(s => s -> variants(s, k)).toMap
      for (s <- strs)
        assert(hashes(s).size == vars(s).size,
          s"'$s' k=$k: ${hashes(s).size} hashes vs ${vars(s).size} variants")
      for (a <- strs; b <- strs) {
        val shareV = (vars(a) & vars(b)).nonEmpty
        val shareH = (hashes(a) & hashes(b)).nonEmpty
        assert(shareV == shareH,
          s"'$a'/'$b' k=$k: variant-share $shareV but hash-share $shareH")
      }
    }
    // empty string: just itself
    assert(DeletionHashes.compute(UTF8String.fromString(""), 2)
      .toLongArray().length == 1)
  }

  test("DeletionHashes deletes CODE POINTS: astral chars cost one " +
      "deletion, matching Spark levenshtein/substring semantics") {
    import graft.functions.DeletionHashes
    import org.apache.spark.unsafe.types.UTF8String
    // code-point deletion model (the semantics Spark's string fns use)
    def cps(s: String): Vector[Int] = {
      val b = Vector.newBuilder[Int]
      var off = 0
      while (off < s.length) {
        val c = s.codePointAt(off); b += c; off += Character.charCount(c)
      }
      b.result()
    }
    def variants(s: String, k: Int): Set[String] = {
      def d1(x: Vector[Int]) =
        x.indices.map(i => x.take(i) ++ x.drop(i + 1)).toSet
      val v = cps(s)
      val t1 = d1(v)
      val all = if (k == 1) t1 + v else t1 ++ t1.flatMap(d1) + v
      all.map(c => new String(c.toArray, 0, c.length))
    }
    // emoji (U+1F600, 2 UTF-16 units) and astral CJK mixed with BMP
    val astral = Seq("a😀b", "😀😁",
      "x😀", "café😀", "😀")
    for (k <- Seq(1, 2); s <- astral) {
      val hashes = DeletionHashes
        .compute(UTF8String.fromString(s), k).toLongArray().toSet
      val vars = variants(s, k)
      assert(hashes.size == vars.size,
        s"'$s' k=$k: ${hashes.size} hashes vs ${vars.size} code-point variants")
    }
    // shared-variant iff shared-hash across the astral fixture, so the
    // candidate-completeness contract holds for non-BMP text
    for (k <- Seq(1, 2); a <- astral; b <- astral) {
      val ha = DeletionHashes.compute(UTF8String.fromString(a), k)
        .toLongArray().toSet
      val hb = DeletionHashes.compute(UTF8String.fromString(b), k)
        .toLongArray().toSet
      val shareV = (variants(a, k) & variants(b, k)).nonEmpty
      assert(((ha & hb).nonEmpty) == shareV,
        s"'$a'/'$b' k=$k: variant-share $shareV but hash-share ${(ha & hb).nonEmpty}")
    }
    // end-to-end: a pair differing by ONE astral char must be found
    // (Spark levenshtein counts it as distance 1; pre-fix candidate
    // generation priced it at 2 deletions and dropped the pair at k=1)
    val docs = Seq(1L -> "hello😀world", 2L -> "helloworld",
      3L -> "hello😁world").toDF("doc_id", "p")
    val got = DedupOps.editDistanceJoin(docs, "doc_id", "p", maxDist = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == Set((1L, 2L, 1), (2L, 3L, 1), (1L, 3L, 1)))
  }
}
