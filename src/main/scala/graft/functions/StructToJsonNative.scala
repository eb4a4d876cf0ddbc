package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.SpecializedGetters
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** `to_json(struct)` as ONE static-call serializer invoked from the
  * whole-stage-codegen span — the kf FHIR builders' serialization
  * kernel. The built-in `StructsToJson` runs Jackson's
  * `WriterBasedJsonGenerator` over a `CharArrayWriter` per row: every
  * `UTF8String` value is first materialized as a `java.lang.String`
  * (UTF-8 → UTF-16 copy), escaped char-by-char through Jackson's
  * writer, accumulated in a char buffer, then the whole document is
  * copied back to UTF-8 (`fromString`). Stack samples showed it as
  * the kf family's top remaining CPU after r18's codegen cache fix:
  * `JacksonGenerator.writeFields` / `StructsToJsonEvaluator`.
  * `NativeJsonSpec` pins this replacement byte-for-byte against it.
  *
  * This expression compiles the (statically known) schema once into an
  * emitter tree and serializes straight from `InternalRow`/`ArrayData`
  * bytes into one reused UTF-8 buffer — no String materialization, no
  * char transposition, no Jackson.
  *
  * Byte-exactness contract (differentially spec'd against `to_json`
  * over the FULL corpus by `NativeJsonSpec`, and pinned by the 16
  * hash-checked kf content oracles):
  *   - struct fields with null values are dropped (Spark's
  *     `ignoreNullFields` default), an all-null struct prints `{}`; a
  *     session that sets `spark.sql.jsonGenerator.ignoreNullFields=false`
  *     fails analysis instead of getting different bytes;
  *   - a `NullType` field is always null, so it is always dropped; an
  *     `array<null>` prints each element as `null`;
  *   - array elements print in order, null elements as literal `null`;
  *   - strings escape exactly Jackson's default set: `"`, `\`, and
  *     control chars < 0x20 (short forms `\b \t \n \f \r`, the rest as
  *     uppercase `\u00XX`) — no `/` escaping, no non-ASCII escaping;
  *   - precondition: string values are valid UTF-8. A string cast
  *     from arbitrary binary can hold invalid byte sequences; those are
  *     copied verbatim, where `to_json` decodes them to U+FFFD, so only
  *     such input can give different bytes;
  *   - int/long/short/byte print as decimal; booleans as
  *     `true`/`false`; float/double as `Float.toString` /
  *     `Double.toString` (Jackson's default `String.valueOf` path),
  *     with non-finite values quoted (`"NaN"`, `"Infinity"`,
  *     `"-Infinity"`) per Jackson's `QUOTE_NON_NUMERIC_NUMBERS`
  *     default;
  *   - a null top-level struct yields a null result row (the built-in
  *     is null-intolerant the same way).
  *
  * Unsupported leaf types (temporal, decimal, map, binary, …) are
  * rejected at ANALYSIS time — callers with such schemas must keep
  * `to_json`, never get silently-different bytes.
  */
case class StructToJsonNative(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "struct_to_json_native"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _ if !SQLConf.get.jsonGeneratorIgnoreNullFields =>
      TypeCheckResult.TypeCheckFailure(
        "struct_to_json_native drops null fields, but " +
          s"${SQLConf.JSON_GENERATOR_IGNORE_NULL_FIELDS.key}=false — " +
          "keep to_json for this session")
    case s: StructType if JsonEmit.supported(s) => TypeCheckResult.TypeCheckSuccess
    case s: StructType => TypeCheckResult.TypeCheckFailure(
      s"struct_to_json_native: unsupported leaf type in schema " +
        s"${s.simpleString.take(200)} — keep to_json for this builder")
    case other => TypeCheckResult.TypeCheckFailure(
      s"struct_to_json_native needs a struct input, got ${other.simpleString}")
  }

  @transient private lazy val emitter: JsonEmit.StructEmitter =
    JsonEmit.compile(child.dataType.asInstanceOf[StructType])

  protected override def nullSafeEval(input: Any): Any =
    JsonEmit.serialize(emitter, input.asInstanceOf[InternalRow])

  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val em = ctx.addReferenceObj("jsonEmitter", emitter,
      classOf[JsonEmit.StructEmitter].getName)
    defineCodeGen(ctx, ev, c => s"graft.functions.JsonEmit.serialize($em, $c)")
  }

  override protected def withNewChildInternal(
      newChild: Expression): StructToJsonNative = copy(child = newChild)
}

object JsonEmit {

  /** One emitter per schema node; `emit` reads ordinal `i` of `in`. */
  sealed abstract class Emitter extends Serializable {
    def emit(out: Buf, in: SpecializedGetters, i: Int): Unit
  }

  /** Field names are pre-escaped, pre-quoted, colon-suffixed bytes. */
  final class StructEmitter(names: Array[Array[Byte]],
      fields: Array[Emitter]) extends Emitter {
    private val n = fields.length
    override def emit(out: Buf, in: SpecializedGetters, i: Int): Unit =
      writeStruct(out, in.getStruct(i, n))
    def writeStruct(out: Buf, row: InternalRow): Unit = {
      out.byte('{')
      var first = true
      var i = 0
      while (i < n) {
        if (!row.isNullAt(i)) {
          if (!first) out.byte(',')
          first = false
          out.bytes(names(i))
          fields(i).emit(out, row, i)
        }
        i += 1
      }
      out.byte('}')
    }
  }

  private final class ArrayEmitter(elem: Emitter) extends Emitter {
    override def emit(out: Buf, in: SpecializedGetters, i: Int): Unit = {
      val arr: ArrayData = in.getArray(i)
      out.byte('[')
      val n = arr.numElements()
      var j = 0
      while (j < n) {
        if (j > 0) out.byte(',')
        if (arr.isNullAt(j)) out.ascii("null") else elem.emit(out, arr, j)
        j += 1
      }
      out.byte(']')
    }
  }

  private object StringEmitter extends Emitter {
    override def emit(out: Buf, in: SpecializedGetters, i: Int): Unit =
      out.escaped(in.getUTF8String(i))
  }
  private object IntEmitter extends Emitter {
    override def emit(out: Buf, in: SpecializedGetters, i: Int): Unit =
      out.longVal(in.getInt(i).toLong)
  }
  private object LongEmitter extends Emitter {
    override def emit(out: Buf, in: SpecializedGetters, i: Int): Unit =
      out.longVal(in.getLong(i))
  }
  private object ShortEmitter extends Emitter {
    override def emit(out: Buf, in: SpecializedGetters, i: Int): Unit =
      out.longVal(in.getShort(i).toLong)
  }
  private object ByteEmitter extends Emitter {
    override def emit(out: Buf, in: SpecializedGetters, i: Int): Unit =
      out.longVal(in.getByte(i).toLong)
  }
  private object BoolEmitter extends Emitter {
    override def emit(out: Buf, in: SpecializedGetters, i: Int): Unit =
      out.ascii(if (in.getBoolean(i)) "true" else "false")
  }
  private object DoubleEmitter extends Emitter {
    override def emit(out: Buf, in: SpecializedGetters, i: Int): Unit = {
      val d = in.getDouble(i)
      // Jackson QUOTE_NON_NUMERIC_NUMBERS (default on) quotes these
      if (java.lang.Double.isNaN(d) || java.lang.Double.isInfinite(d))
        out.quotedAscii(java.lang.Double.toString(d))
      else out.ascii(java.lang.Double.toString(d))
    }
  }
  private object FloatEmitter extends Emitter {
    override def emit(out: Buf, in: SpecializedGetters, i: Int): Unit = {
      val f = in.getFloat(i)
      if (java.lang.Float.isNaN(f) || java.lang.Float.isInfinite(f))
        out.quotedAscii(java.lang.Float.toString(f))
      else out.ascii(java.lang.Float.toString(f))
    }
  }

  // never reached: a NullType value is always null, so the struct
  // drops it and the array prints `null` before asking the element
  private object NullEmitter extends Emitter {
    override def emit(out: Buf, in: SpecializedGetters, i: Int): Unit =
      out.ascii("null")
  }

  def supported(dt: DataType): Boolean = dt match {
    case s: StructType => s.fields.forall(f => supported(f.dataType))
    case a: ArrayType => supported(a.elementType)
    case StringType | IntegerType | LongType | ShortType | ByteType |
         BooleanType | DoubleType | FloatType | NullType => true
    case _ => false
  }

  def compile(schema: StructType): StructEmitter = {
    val names = schema.fields.map { f =>
      val b = new Buf
      b.escaped(UTF8String.fromString(f.name))
      b.byte(':')
      java.util.Arrays.copyOf(b.arr, b.len)
    }
    new StructEmitter(names, schema.fields.map(f => of(f.dataType)))
  }

  private def of(dt: DataType): Emitter = dt match {
    case s: StructType => compile(s)
    case a: ArrayType => new ArrayEmitter(of(a.elementType))
    case StringType => StringEmitter
    case IntegerType => IntEmitter
    case LongType => LongEmitter
    case ShortType => ShortEmitter
    case ByteType => ByteEmitter
    case BooleanType => BoolEmitter
    case DoubleType => DoubleEmitter
    case FloatType => FloatEmitter
    case NullType => NullEmitter
    case other => throw new IllegalArgumentException(
      s"struct_to_json_native: unsupported type $other")
  }

  // one reused buffer per thread; serialize() copies the exact bytes
  // out before returning, so no caller can observe a later overwrite
  private val bufs: ThreadLocal[Buf] =
    ThreadLocal.withInitial(() => new Buf)

  def serialize(root: StructEmitter, row: InternalRow): UTF8String = {
    val b = bufs.get()
    b.len = 0
    root.writeStruct(b, row)
    UTF8String.fromBytes(java.util.Arrays.copyOf(b.arr, b.len))
  }

  private val Hex = "0123456789ABCDEF".getBytes

  /** Growable UTF-8 output buffer with Jackson-default escaping. */
  final class Buf extends Serializable {
    var arr = new Array[Byte](1 << 13)
    var len = 0

    private def ensure(extra: Int): Unit =
      if (len + extra > arr.length) {
        var cap = arr.length << 1
        while (cap < len + extra) cap <<= 1
        arr = java.util.Arrays.copyOf(arr, cap)
      }

    def byte(b: Int): Unit = { ensure(1); arr(len) = b.toByte; len += 1 }

    def bytes(bs: Array[Byte]): Unit = {
      ensure(bs.length)
      System.arraycopy(bs, 0, arr, len, bs.length)
      len += bs.length
    }

    def ascii(s: String): Unit = {
      val n = s.length
      ensure(n)
      var i = 0
      while (i < n) { arr(len + i) = s.charAt(i).toByte; i += 1 }
      len += n
    }

    def quotedAscii(s: String): Unit = { byte('"'); ascii(s); byte('"') }

    def longVal(v: Long): Unit = ascii(java.lang.Long.toString(v))

    /** `"..."` with Jackson's default escape set; all other bytes
      * (incl. multi-byte UTF-8 sequences) pass through verbatim.
      */
    def escaped(s: UTF8String): Unit = {
      val n = s.numBytes()
      ensure(2 + n) // common case: nothing to escape
      arr(len) = '"'; len += 1
      val base = s.getBaseObject
      val off = s.getBaseOffset
      var i = 0
      while (i < n) {
        val b = Platform.getByte(base, off + i)
        if (b == '"' || b == '\\') {
          ensure(2 + (n - i)); arr(len) = '\\'; arr(len + 1) = b; len += 2
        } else if ((b & 0xFF) >= 0x20) {
          ensure(1 + (n - i)); arr(len) = b; len += 1
        } else {
          ensure(6 + (n - i))
          b match {
            case 0x08 => arr(len) = '\\'; arr(len + 1) = 'b'; len += 2
            case 0x09 => arr(len) = '\\'; arr(len + 1) = 't'; len += 2
            case 0x0A => arr(len) = '\\'; arr(len + 1) = 'n'; len += 2
            case 0x0C => arr(len) = '\\'; arr(len + 1) = 'f'; len += 2
            case 0x0D => arr(len) = '\\'; arr(len + 1) = 'r'; len += 2
            case _ =>
              arr(len) = '\\'; arr(len + 1) = 'u'
              arr(len + 2) = '0'; arr(len + 3) = '0'
              arr(len + 4) = Hex((b >> 4) & 0xF); arr(len + 5) = Hex(b & 0xF)
              len += 6
          }
        }
        i += 1
      }
      byte('"')
    }
  }
}
