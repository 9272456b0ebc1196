package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Segment-and-parse `Generator`: one byte walk over a packed fixed-width
  * row cuts it into `width`-char records (code-point boundaries, short tail
  * kept — the reference's T1 segmentation, main.py:409-412 and 560-565) and
  * emits each record's fields as typed values — no intermediate per-record
  * string, no per-field `substring` slices.
  *
  * The declarative form — `explode(transform(sequence(0, n/w), i ->
  * substring(s, i*w+1, w)))` — is O(n²) on long inputs because UTF8String
  * char-offset substring is a linear scan from the string start; a
  * 520k-char packed row (pack factor 1000 × 520) costs ~260M byte scans
  * per row. This generator walks the UTF-8 bytes once.
  *
  * The unfused pipeline (`FixedWidth.explodeFixedWidth` → `parseRecord`)
  * materializes each 520-char record as a UTF8String and then 11 more
  * substring slices per record before casting — ~12 allocations and ~1 KB
  * of garbage per record. With typed fields this generator parses longs,
  * trimmed strings, and yyyyMMdd dates straight out of the packed row's
  * byte array (allocating only what the output row keeps), with null
  * semantics identical to the declarative `cast`/`rtrim`/`to_date` path —
  * equivalence is spec-locked (FixedWidthSpec) on adversarial records. A
  * raw field ('r') is the record's bytes verbatim: `FixedWidth.explodeFixedWidth`
  * is this generator with one raw field covering the whole record.
  *
  * Pure-ASCII records (the reference format) parse entirely at byte
  * offsets; a record containing any multibyte char falls back to
  * code-point-correct slicing for that record only.
  */
case class FixedWidthParseExplode(child: Expression, width: Int,
                                  specs: Seq[FixedWidthParseExplode.Spec])
    extends Generator with CodegenFallback {

  override def children: Seq[Expression] = Seq(child)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects a string argument")

  @transient private lazy val fields: Array[FixedWidthParseExplode.Spec] = specs.toArray

  override def elementSchema: StructType = StructType(
    StructField("pos", IntegerType, nullable = false) +:
    specs.map { s =>
      s.kind match {
        case 'l' => StructField(s.name, LongType, nullable = true)
        case 'd' => StructField(s.name, DateType, nullable = true)
        case 'r' => StructField(s.name, StringType, nullable = false)
        case _   => StructField(s.name, StringType, nullable = true)
      }
    })

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
      while (f < fields.length) {
        val sp = fields(f)
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
      while (f < fields.length) {
        val sp = fields(f)
        val slice = rec.substringSQL(sp.start + 1, sp.len)
        val sb = slice.getBytes
        if (sb.length == 0) FixedWidthParseExplode.writeEmpty(row, f + 1, sp.kind)
        else FixedWidthParseExplode.writeField(sb, 0, sb.length, sp.kind, row, f + 1)
        f += 1
      }
    }
  }

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0))

  override def prettyName: String = "parse_fixed_width"
}

object FixedWidthParseExplode {

  /** One field: `start`/`len` in chars from the record start; `kind` is
    * 'l' (long), 's' (right-trimmed string), 'd' (yyyyMMdd date) or 'r'
    * (raw string, copied verbatim).
    */
  final case class Spec(name: String, start: Int, len: Int, kind: Char)

  /** DataFrame-API entry: explode the string column `text` into `pos` plus
    * one column per spec, cutting every `width` chars.
    */
  def column(text: Column, width: Int, specs: Seq[Spec]): Column =
    ColumnBridge.column(FixedWidthParseExplode(ColumnBridge.expression(text), width, specs))

  /** A field whose range lies entirely beyond the record end — matches
    * `substring` yielding "" then cast/rtrim/to_date: long → null,
    * date → null, str/raw → "".
    */
  def writeEmpty(row: InternalRow, i: Int, kind: Char): Unit =
    if (kind == 'l' || kind == 'd') row.setNullAt(i) else row.update(i, UTF8String.EMPTY_UTF8)

  /** Parse `bytes[fs, fe)` into `row` slot `i` WITHOUT boxing the numeric
    * kinds — the per-record hot path (r18). Null semantics mirror the
    * declarative path over fixed-width numerics: long = space-trimmed,
    * optional sign, all digits, else null (`cast` additionally accepts
    * decimal-point forms, which zero-padded fixed-width fields never
    * contain); str = `rtrim(x)` (trailing ASCII spaces); raw = `x` as it
    * is; date = `to_date(x, 'yyyyMMdd')` (exactly 8 digits, valid calendar
    * date, else null). [[parseField]] delegates here so the two entry points
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
    case 'r' =>
      row.update(i, UTF8String.fromBytes(java.util.Arrays.copyOfRange(bytes, fs, fe)))
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
}
