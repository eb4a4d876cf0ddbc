package graft.functions

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** GPT-2-style BYTE-level BPE: a regex pre-tokenizer (contraction
  * suffixes, letter runs, digit runs, punctuation runs — each with an
  * optional leading space) and BYTES as the merge alphabet, so any
  * UTF-8 input survives tokenization losslessly — accents, CJK, emoji
  * become multi-byte base tokens instead of unmergeable char runs, and
  * punctuation never glues to words. This is what production token
  * counts look like; the whitespace/char-level [[BpeModel]] remains the
  * oracle-pinned contract for the x22/x9b family.
  *
  * Tokens are represented as latin-1 strings (one char per byte,
  * U+0000–U+00FF) — concatenation of tokens = concatenation of bytes,
  * so the merge machinery is [[BpeModel]]'s greedy loop verbatim over a
  * different alphabet. The merge table must be learned-shape (every
  * multi-byte component is the output of an earlier merge), validated
  * at construction exactly like [[BpeModel]].
  */
object BytePreTok {
  /** The GPT-2 pre-tokenization pattern (Java regex; no capturing
    * groups — callers extract group 0).
    */
  val PatternString: String =
    "'s|'t|'re|'ve|'m|'ll|'d| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+(?!\\S)|\\s+"

  private val P = java.util.regex.Pattern.compile(PatternString)

  /** Pre-tokenize: every character of the input lands in exactly one
    * pre-token (the alternation covers letters, digits, other, and
    * whitespace), so encode-then-concat is lossless.
    */
  def pretokenize(text: String): Array[String] = {
    val m = P.matcher(text)
    val out = new scala.collection.mutable.ArrayBuffer[String]()
    while (m.find()) out += m.group()
    out.toArray
  }
}

final class ByteBpeModel(val merges: Seq[(String, String)]) extends Serializable {
  require(merges.nonEmpty, "empty merge table")
  // learned-shape validation: creator-before-user (components are
  // latin-1 byte strings; a 1-char component is a single byte)
  locally {
    val created = scala.collection.mutable.Set.empty[String]
    merges.zipWithIndex.foreach { case ((l, r), i) =>
      Seq(l, r).foreach { c =>
        require(c.length == 1 || created.contains(c),
          s"merge $i: component is neither a single byte nor the output " +
            "of an earlier merge — not a learned-shape table")
      }
      created += l + r
    }
  }

  private val ranks: java.util.HashMap[(String, String), Integer] = {
    val m = new java.util.HashMap[(String, String), Integer]()
    merges.zipWithIndex.foreach { case (p, i) => m.put(p, i) }
    m
  }

  /** Pre-token memo (same bounded clear-on-full discipline as
    * [[BpeModel]] — pre-token vocabularies are tiny next to corpus
    * size).
    */
  @transient private lazy val memo =
    new java.util.concurrent.ConcurrentHashMap[String, Array[String]]()
  private val MemoCap = 1 << 16

  /** Greedy byte-level BPE encode of one pre-token. Same O(L²)
    * pathological-length guard as [[BpeModel.encode]], on BYTES.
    */
  def encodePreToken(pt: String): Array[String] = {
    if (pt.isEmpty) return Array.empty
    val cached = memo.get(pt)
    if (cached != null) return cached
    val bytes = pt.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    if (bytes.length > BpeModel.MaxWordChars) {
      // segment on byte boundaries (deterministic, order-preserving;
      // merges never cross segments) — latin-1 round-trips any bytes
      return bytes.grouped(BpeModel.MaxWordChars)
        .flatMap(seg => encodePreToken(
          new String(seg, java.nio.charset.StandardCharsets.ISO_8859_1)))
        .toArray
    }
    var toks: Array[String] = bytes.map(b => String.valueOf((b & 0xff).toChar))
    var done = false
    while (!done && toks.length > 1) {
      var best = Int.MaxValue
      var i = 0
      while (i < toks.length - 1) {
        val r = ranks.get((toks(i), toks(i + 1)))
        if (r != null && r < best) best = r
        i += 1
      }
      if (best == Int.MaxValue) done = true
      else {
        val (l, r) = merges(best)
        val out = new scala.collection.mutable.ArrayBuffer[String](toks.length)
        var j = 0
        while (j < toks.length) {
          if (j < toks.length - 1 && toks(j) == l && toks(j + 1) == r) {
            out += l + r; j += 2
          } else {
            out += toks(j); j += 1
          }
        }
        toks = out.toArray
      }
    }
    if (memo.size >= MemoCap) memo.clear()
    memo.put(pt, toks)
    toks
  }

  /** Encode full text: pre-tokenize, encode each pre-token, concat
    * (merges never cross pre-token boundaries — the regex IS the word
    * boundary contract). Tokens come back as latin-1 byte strings.
    */
  def encodeText(text: String): Array[String] = {
    val pts = BytePreTok.pretokenize(text)
    val out = new scala.collection.mutable.ArrayBuffer[String]()
    var i = 0
    while (i < pts.length) { out ++= encodePreToken(pts(i)); i += 1 }
    out.toArray
  }

  def countText(text: String): Long = {
    val pts = BytePreTok.pretokenize(text)
    var n = 0L
    var i = 0
    while (i < pts.length) { n += encodePreToken(pts(i)).length; i += 1 }
    n
  }
}

/** Byte-level fixture vocabulary: 48 merges learned by
  * [[graft.ops.BpeTrainOps.bpeTrainBytes]] (max-frequency byte pair,
  * bytewise-lexicographic tie-break, GPT-2 pre-tokenization) over the
  * sf0.1 documents. The same table is inlined in the x32 oracle SQL —
  * the table IS the parity contract, like [[BpeVocab.DefaultMerges]].
  */
object ByteBpeVocab {
  // filled from the trained table (ByteBpeSpec retrains and compares it)
  val DefaultMerges: Seq[(String, String)] = ByteBpeVocabTable.Merges

  val Default: ByteBpeModel = new ByteBpeModel(DefaultMerges)

  /** Merge table as SQL VALUES (rank, l, r) for the DuckDB oracles —
    * latin-1 byte strings are printable for this ASCII-trained table;
    * single quotes are doubled for SQL.
    */
  def mergesValuesSql: String = DefaultMerges.zipWithIndex
    .map { case ((l, r), i) =>
      s"(${i + 1},'${l.replace("'", "''")}','${r.replace("'", "''")}')"
    }
    .mkString(", ")
}

/** Byte-BPE token count per row — narrow, codegen'd, memoized. */
case class ByteBpeCountText(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "byte_bpe_count_text"

  protected override def nullSafeEval(input: Any): Any =
    ByteBpeCountText.compute(input.asInstanceOf[UTF8String])

  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ByteBpeCountText.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): ByteBpeCountText =
    copy(child = newChild)
}

object ByteBpeCountText {
  def compute(text: UTF8String): Long =
    ByteBpeVocab.Default.countText(text.toString)
}

/** Full byte-BPE token stream per row (array<string>, latin-1 byte
  * strings), pre-token-boundary preserving order.
  */
case class ByteBpeTokensText(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "byte_bpe_tokens_text"

  protected override def nullSafeEval(input: Any): Any =
    ByteBpeTokensText.compute(input.asInstanceOf[UTF8String])

  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ByteBpeTokensText.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): ByteBpeTokensText =
    copy(child = newChild)
}

object ByteBpeTokensText {
  def compute(text: UTF8String): ArrayData = {
    val toks = ByteBpeVocab.Default.encodeText(text.toString)
    val out = new Array[Any](toks.length)
    var i = 0
    while (i < toks.length) { out(i) = UTF8String.fromString(toks(i)); i += 1 }
    new GenericArrayData(out)
  }
}
