package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{FunctionIdentifier, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Generator, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Fused segment-and-parse `Generator`: one byte walk over a packed
  * fixed-width row emits the TYPED fields of every record directly —
  * no intermediate per-record string, no per-field `substring` slices.
  *
  * The unfused pipeline ([[FixedWidthExplode]] → `FixedWidth.parseRecord`)
  * materializes each 520-char record as a UTF8String and then 11 more
  * substring slices per record before casting — ~12 allocations and ~1 KB
  * of garbage per record, i.e. tens of millions of young-gen objects per
  * GB of packed data, which is exactly the churn that taxes every later
  * query in a long-lived executor. This generator parses longs, trimmed
  * strings, and yyyyMMdd dates straight out of the packed row's byte
  * array (allocating only what the output row keeps), with null semantics
  * identical to the declarative `cast`/`rtrim`/`to_date` path — equivalence
  * is spec-locked (FixedWidthSpec) on adversarial records.
  *
  * Pure-ASCII records (the reference format, /root/reference/main.py:56)
  * parse entirely at byte offsets; a record containing any multibyte char
  * falls back to code-point-correct slicing for that record only.
  *
  * Layout is passed as a foldable string `name:start:len:kind;...` so the
  * generator registers as a plain SQL function
  * `parse_fixed_width(str, width, layout)`.
  */
case class FixedWidthParseExplode(child: Expression, widthExpr: Expression,
                                  layoutExpr: Expression)
    extends Generator with CodegenFallback {

  override def children: Seq[Expression] = Seq(child, widthExpr, layoutExpr)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (child.dataType == StringType &&
        widthExpr.foldable && widthExpr.dataType == IntegerType &&
        layoutExpr.foldable && layoutExpr.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        "parse_fixed_width(str, width, layout) expects (string, foldable int, foldable string)")
  }

  @transient private lazy val width: Int = widthExpr.eval(null).asInstanceOf[Int]

  @transient private lazy val specs: Array[FixedWidthParseExplode.Spec] =
    FixedWidthParseExplode.parseLayout(
      layoutExpr.eval(null).asInstanceOf[UTF8String].toString)

  override def elementSchema: StructType = StructType(
    StructField("pos", IntegerType, nullable = false) +:
    specs.map { s =>
      s.kind match {
        case 'l' => StructField(s.name, LongType, nullable = true)
        case 'd' => StructField(s.name, DateType, nullable = true)
        case _   => StructField(s.name, StringType, nullable = true)
      }
    }.toSeq)

  /** The records of one packed input, emitted lazily.
    *
    * Reuse contract: every emitted element is the SAME mutable
    * `SpecificInternalRow`, overwritten on each `next()`. A consumer makes
    * one pass and copies (or projects) each row before advancing —
    * GenerateExec does, projecting every row to a fresh UnsafeRow. Anything
    * that buffers the iterator (`eval(r).iterator.toSeq`) sees every element
    * aliased to the last record, so a direct test goes through the SQL
    * engine or copies every row.
    */
  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val s = child.eval(input).asInstanceOf[UTF8String]
    if (s == null || s.numBytes == 0) return Nil
    val bytes = s.getBytes
    val n = bytes.length
    // Lazy record-at-a-time emission: the downstream consumer (GenerateExec
    // → partial agg) retires each row immediately, so materializing all
    // n/width rows up front would only add a row-buffer's worth of live set
    // to an already allocation-heavy stage.
    //
    // ONE mutable output row per packed input row, REUSED across its
    // records (r18, guide §4/§5 allocation-rate): GenerateExec's
    // iterator path projects every emitted row to a fresh UnsafeRow
    // (`rows.map(proj)`) before the iterator advances, so a single
    // SpecificInternalRow can carry each record's fields — primitive
    // setters, no per-record GenericInternalRow/Array[Any] and no boxed
    // Long per numeric field. Before: ~10 allocations per record beyond
    // the kept output (StageBench: 6.1 s GC inside the 30 CPU-s fused
    // explode+parse stage at sf0.1); after, the per-record allocations
    // are the two kept output strings. The row is created per eval()
    // call, so concurrent tasks never share one.
    val row = new org.apache.spark.sql.catalyst.expressions.SpecificInternalRow(
      // physical slot types: a date is its epoch-day int
      elementSchema.map(_.dataType match {
        case DateType => IntegerType
        case t => t
      }))
    new Iterator[InternalRow] {
      private var start = 0      // byte offset of current record start
      private var chars = 0      // chars seen in current record
      private var multibyte = false
      private var i = 0
      private var pos = 0
      private var done = false

      override def hasNext: Boolean = !done

      override def next(): InternalRow = {
        while (i < n) {
          val b = bytes(i)
          if ((b & 0xc0) != 0x80) { // char start
            if (chars == width) {
              writeRecord(bytes, start, i, pos, multibyte, row)
              pos += 1; start = i; chars = 1; multibyte = b < 0
              i += 1
              return row
            }
            chars += 1
            if (b < 0) multibyte = true
          }
          i += 1
        }
        done = true
        writeRecord(bytes, start, n, pos, multibyte, row) // short tail kept
        row
      }
    }
  }

  /** Parse one record's fields from `bytes[recStart, recEnd)` into `row`. */
  private def writeRecord(bytes: Array[Byte], recStart: Int, recEnd: Int,
                          pos: Int, multibyte: Boolean, row: InternalRow): Unit = {
    row.setInt(0, pos)
    if (!multibyte) {
      // ASCII: char offsets ARE byte offsets — parse in place
      var f = 0
      while (f < specs.length) {
        val sp = specs(f)
        val fs = recStart + sp.start
        val fe = math.min(fs + sp.len, recEnd)
        if (fs >= recEnd) FixedWidthParseExplode.writeEmpty(row, f + 1, sp.kind)
        else FixedWidthParseExplode.writeField(bytes, fs, fe, sp.kind, row, f + 1)
        f += 1
      }
    } else {
      // multibyte record: code-point-correct slicing for this record only
      val rec = UTF8String.fromBytes(java.util.Arrays.copyOfRange(bytes, recStart, recEnd))
      var f = 0
      while (f < specs.length) {
        val sp = specs(f)
        val slice = rec.substringSQL(sp.start + 1, sp.len)
        val sb = slice.getBytes
        if (sb.length == 0) FixedWidthParseExplode.writeEmpty(row, f + 1, sp.kind)
        else FixedWidthParseExplode.writeField(sb, 0, sb.length, sp.kind, row, f + 1)
        f += 1
      }
    }
  }

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0), widthExpr = newChildren(1), layoutExpr = newChildren(2))

  override def prettyName: String = "parse_fixed_width"
}

object FixedWidthParseExplode {
  val Name = "parse_fixed_width"

  final case class Spec(name: String, start: Int, len: Int, kind: Char)

  /** `name:start:len:kind;...` (kind ∈ long|str|date). */
  def parseLayout(s: String): Array[Spec] =
    s.split(';').filter(_.nonEmpty).map { part =>
      val Array(name, st, len, kind) = part.split(':')
      Spec(name, st.toInt, len.toInt, kind.head)
    }

  def layoutString(specs: Seq[(String, Int, Int, String)]): String =
    specs.map { case (n, s, l, k) => s"$n:$s:$l:$k" }.mkString(";")

  /** Value of a field whose range lies entirely beyond the record end —
    * matches `substring` yielding "" then cast/rtrim/to_date: long → null,
    * str → "", date → null.
    */
  def emptyValue(kind: Char): Any =
    if (kind == 's') UTF8String.EMPTY_UTF8 else null

  /** [[emptyValue]] written into a mutable row slot. */
  def writeEmpty(row: InternalRow, i: Int, kind: Char): Unit =
    if (kind == 's') row.update(i, UTF8String.EMPTY_UTF8) else row.setNullAt(i)

  /** Parse `bytes[fs, fe)` into `row` slot `i` WITHOUT boxing the numeric
    * kinds — the per-record hot path (r18). Null semantics mirror the
    * declarative path over fixed-width numerics: long = space-trimmed,
    * optional sign, all digits, else null (`cast` additionally accepts
    * decimal-point forms, which zero-padded fixed-width fields never
    * contain); str = `rtrim(x)` (trailing ASCII spaces); date =
    * `to_date(x, 'yyyyMMdd')` (exactly 8 digits, valid calendar date,
    * else null). [[parseField]] delegates here so the two entry points
    * cannot drift.
    */
  def writeField(bytes: Array[Byte], fs: Int, fe: Int, kind: Char,
                 row: InternalRow, i: Int): Unit = kind match {
    case 'l' =>
      var a = fs
      var b = fe
      while (a < b && bytes(a) == ' ') a += 1
      while (b > a && bytes(b - 1) == ' ') b -= 1
      if (a == b) row.setNullAt(i)
      else {
        var neg = false
        if (bytes(a) == '-' || bytes(a) == '+') { neg = bytes(a) == '-'; a += 1 }
        if (a == b) row.setNullAt(i)
        else {
          // accumulate NEGATIVE so Long.MinValue (whose magnitude exceeds
          // MaxValue) parses exactly; overflow → null, matching the
          // declarative path's try_cast-to-long semantics
          var v = 0L
          var ok = true
          var j = a
          while (j < b && ok) {
            val d = bytes(j) - '0'
            if (d < 0 || d > 9) ok = false
            else if (v < (java.lang.Long.MIN_VALUE + d) / 10) ok = false
            else v = v * 10 - d
            j += 1
          }
          if (!ok) row.setNullAt(i)
          else if (neg) row.setLong(i, v)
          else if (v == java.lang.Long.MIN_VALUE) row.setNullAt(i)
          else row.setLong(i, -v)
        }
      }
    case 's' =>
      var b = fe
      while (b > fs && bytes(b - 1) == ' ') b -= 1
      row.update(i, UTF8String.fromBytes(java.util.Arrays.copyOfRange(bytes, fs, b)))
    case 'd' =>
      if (fe - fs != 8) row.setNullAt(i)
      else {
        var allDigits = true
        var j = fs
        while (j < fe && allDigits) {
          if (bytes(j) < '0' || bytes(j) > '9') allDigits = false
          j += 1
        }
        if (!allDigits) row.setNullAt(i)
        else {
          val y = (bytes(fs) - '0') * 1000 + (bytes(fs + 1) - '0') * 100 +
                  (bytes(fs + 2) - '0') * 10 + (bytes(fs + 3) - '0')
          val m = (bytes(fs + 4) - '0') * 10 + (bytes(fs + 5) - '0')
          val d = (bytes(fs + 6) - '0') * 10 + (bytes(fs + 7) - '0')
          try row.setInt(i, java.time.LocalDate.of(y, m, d).toEpochDay.toInt)
          catch { case _: java.time.DateTimeException => row.setNullAt(i) }
        }
      }
  }

  /** Boxed single-field form (spec/API surface) — delegates to
    * [[writeField]] via a one-slot row so there is exactly one parse
    * implementation.
    */
  def parseField(bytes: Array[Byte], fs: Int, fe: Int, kind: Char): Any = {
    val row = new org.apache.spark.sql.catalyst.expressions.SpecificInternalRow(
      Seq(kind match {
        case 'l' => LongType
        case 'd' => IntegerType
        case _   => StringType
      }))
    writeField(bytes, fs, fe, kind, row, 0)
    if (row.isNullAt(0)) null
    else kind match {
      case 'l' => java.lang.Long.valueOf(row.getLong(0))
      case 'd' => java.lang.Integer.valueOf(row.getInt(0))
      case _   => row.getUTF8String(0)
    }
  }

  private val info = new ExpressionInfo(classOf[FixedWidthParseExplode].getName, Name)
  private val builder: Seq[Expression] => Expression = {
    case Seq(s, w, l) => FixedWidthParseExplode(s, w, l)
    case other => throw new IllegalArgumentException(
      s"$Name expects 3 arguments, got ${other.length}")
  }

  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier(Name), info, builder)

  def inject(ext: org.apache.spark.sql.SparkSessionExtensions): Unit =
    ext.injectFunction((FunctionIdentifier(Name), info, builder))
}
