package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.plans.FixedWidthParseExplode

/** Fixed-width POS record operators — the reference's core transforms
  * (SURVEY.md §2.3):
  *
  *  - T1 segmentation: one decoded blob string → N `width`-char records
  *    (/root/reference/main.py:409-412), keeping the final short tail
  *    (main.py:560-565).
  *  - T3 ordered pack: 1000 consecutive records → one row
  *    (main.py:414-423), order-preserving with a final partial group.
  *  - Field-spec projection: positional layout → typed columns (the
  *    reconstruction of SP_Process_Daily_SKU_Data_Temp's parse, §2.11);
  *    the same spec drives formatting, so parse ∘ format = id is testable.
  *
  * All operators are pure Column expressions / native aggregations —
  * codegen-friendly, no UDFs, no driver-side loops — so they distribute
  * untouched on a real cluster.
  */
object FixedWidth {

  val RecordWidth = 520
  val PackFactor  = 1000

  /** T1: array of `width`-char slices of `s`, short tail kept, empty input →
    * empty array. Pure SQL expression (codegen'd, whole-stage friendly).
    */
  def sliceRecords(s: Column, width: Int = RecordWidth): Column = {
    val nRecs = ceil(length(s).cast("double") / lit(width.toDouble)).cast("int")
    filter(
      transform(sequence(lit(0), greatest(nRecs - lit(1), lit(0))),
                i => s.substr(i * width + 1, lit(width))),
      r => length(r) > lit(0))
  }

  /** T1 as a DataFrame op: explode `textCol` into (`rec_idx`, `record`),
    * preserving the record index for downstream ordered operators
    * (posexplode ≈ the reference's implicit sequential order).
    *
    * The single-pass [[FixedWidthParseExplode]] Generator with one raw
    * field covering the whole record: the declarative substring form is
    * O(n²) on long packed rows (UTF-8 char-offset substring re-scans from
    * the start) — 24 s vs 1 s on the bench roundtrip. [[sliceRecords]]
    * remains the expression form for short strings.
    */
  def explodeFixedWidth(df: DataFrame, textCol: String,
                        width: Int = RecordWidth): DataFrame =
    df.select(col("*"),
        FixedWidthParseExplode.column(col(textCol), width,
            Seq(FixedWidthParseExplode.Spec("record", 0, width, 'r')))
          .as(Seq("rec_idx", "record")))
      .drop(textCol)

  /** Fused segment-and-parse: packed rows → typed record fields in ONE
    * generator pass ([[FixedWidthParseExplode]]) — no intermediate record
    * strings, no per-field substring slices. Output columns are `pos` plus
    * one typed column per spec field; equivalent to `explodeFixedWidth` →
    * `parseRecord` (spec-locked in FixedWidthSpec) at roughly 1/12th the
    * allocation rate.
    */
  def explodeParseFixedWidth(df: DataFrame, textCol: String,
                             specs: Seq[FieldSpec],
                             width: Int = RecordWidth): DataFrame =
    df.select(col("*"),
        FixedWidthParseExplode.column(col(textCol), width,
            specs.map(f => FixedWidthParseExplode.Spec(f.name, f.start, f.len, f.kind.head))))
      .drop(textCol)

  /** Rows-per-key ceiling for the window pack: above this, one part-key's
    * entire stream no longer sorts safely/fast on a single reducer and
    * [[pack]] switches to [[packScalable]]. 2M × 520-char records ≈ 1 GB of
    * single-task sort — the conservative edge of one executor's comfort.
    */
  val WindowMaxRowsPerKey = 2000000L

  /** T3: order-preserving pack of `n` consecutive records into one string
    * row `packed` per (`partCols`, `pack_id`). Ordering is explicit over
    * `orderCols` — never implicit row order (SURVEY.md §7.5) — and the
    * in-group concat sorts a (rn, record) struct array, so the result is
    * deterministic under any partitioning. Final partial group is emitted
    * (main.py:421-423).
    *
    * The record is an EXPRESSION, not a column name — the
    * late-materialization form. Placement is the point: a caller that
    * materializes a derived record (e.g. [[formatRecord]] over typed
    * columns) with `withColumn` before packing hands Catalyst a Project at
    * the SCAN, so the wide strings are built at source parallelism (=
    * parquet row-group count, often tiny) and then shipped through BOTH
    * pack exchanges. Passing the expression here instead evaluates it
    * inside the aggregation — which sits ABOVE the pinned pre-agg
    * repartition — so every shuffle moves only the narrow typed columns and
    * the wide strings first exist in the final, fully-parallel stage.
    * Measured at sf0.1: the scan-stage exchange drops 36.6→5 MB and the
    * roundtrip's format CPU moves from 3 row-group-bound tasks onto all 32
    * slots.
    *
    * Path selection is ADAPTIVE on measured data, the same way Spark picks
    * broadcast vs shuffle joins: one narrow column-pruned job counts rows
    * per part-key; if the heaviest key exceeds [[WindowMaxRowsPerKey]], the
    * scalable two-phase path runs — a hot key never ceilings at one
    * reducer's sort — otherwise the cheaper single-shuffle window form.
    * The probe is one extra narrow job on every call (~0.3 s at sf0.1,
    * measured in q_pack_stats vs a direct packWindow call) — the price of
    * never letting a hot key reach an unsortable single reducer. (A
    * non-numeric leading order column always takes the window form —
    * quantile bucketing needs a numeric column.)
    */
  def pack(df: DataFrame, record: Column,
           partCols: Seq[String], orderCols: Seq[String],
           n: Int = PackFactor): DataFrame = {
    val numericOrd = df.schema(orderCols.head).dataType
      .isInstanceOf[org.apache.spark.sql.types.NumericType]
    val maxKeyRows =
      if (!numericOrd) 0L
      else df.groupBy(partCols.map(col): _*).count()
        .agg(max(col("count"))).head() match {
          case r if r.isNullAt(0) => 0L
          case r                  => r.getLong(0)
        }
    if (maxKeyRows > WindowMaxRowsPerKey)
      packScalable(df, record, partCols, orderCols, n)
    else
      packWindow(df, record, partCols, orderCols, n)
  }

  /** T3 small-input path: `row_number` over a per-key window. One shuffle,
    * but each part-key's ENTIRE record stream sorts on one reducer — fine
    * while every key fits one executor's sort, a ceiling at scale (which is
    * why [[pack]] switches to [[packScalable]] past [[WindowMaxRowsPerKey]]).
    */
  private[graft] def packWindow(df: DataFrame, record: Column,
                                partCols: Seq[String], orderCols: Seq[String],
                                n: Int = PackFactor): DataFrame = {
    val w = Window.partitionBy(partCols.map(col): _*).orderBy(orderCols.map(col): _*)
    orderedConcat(df.withColumn("_rn", row_number().over(w).cast("long") - 1),
                  record, partCols, n)
  }

  /** T3 scale path (behind [[pack]] once a key outgrows the window form):
    * the same global per-key row numbers as the window form, computed with
    * full parallelism and entirely on Tungsten rows — and with the same
    * number of full-data shuffles as the window form (one clustering
    * shuffle + the concat-agg shuffle), so the parallelism is not bought
    * with extra passes over the records.
    *
    * The row numbers come from the shared two-phase prefix-sum scaffold
    * ([[graft.plans.PrefixSum]] — quantile bucketing, driver-prefixed
    * per-run offsets, run-contiguous clustering, stateful codegen'd
    * accumulation) applied to value = 1: `row_number() − 1` IS the
    * exclusive running count of prior rows. The record's source columns
    * prune away from both of the scaffold's narrow pre-jobs.
    *
    * Output is identical to [[packWindow]] (equivalence-tested in
    * FixedWidthSpec) because (partCols, orderCols) is a total order. Part
    * keys must be non-null, the leading order column numeric and `df`
    * deterministic (all hold for the reference's fixed-width records,
    * main.py:414-423).
    */
  private[graft] def packScalable(df: DataFrame, record: Column,
                                  partCols: Seq[String], orderCols: Seq[String],
                                  n: Int = PackFactor): DataFrame =
    orderedConcat(
      graft.plans.PrefixSum.exclusiveRunningSum(df, lit(1L), partCols, orderCols, out = "_rn"),
      record, partCols, n)

  /** The ordered-concat tail both pack paths share: `_rn` (0-based per-key
    * row number) → `pack_id` = rn / n, then one concat per (partCols,
    * pack_id) that sorts its (rn, record) pairs.
    *
    * The pinned pre-agg repartition satisfies the aggregation's required
    * distribution (so the planner inserts no second exchange) while
    * pinning the partition count — AQE would otherwise coalesce the agg
    * output to a handful of byte-sized partitions, starving downstream
    * fan-out consumers (a 1000x explode) of parallelism. Both halves of the
    * aggregation (and `record`'s evaluation inside it) run post-exchange at
    * full width; partial aggregation loses nothing, since ordered concat
    * cannot shrink bytes map-side anyway.
    */
  private def orderedConcat(numbered: DataFrame, record: Column,
                            partCols: Seq[String], n: Int): DataFrame = {
    val keys = (partCols :+ "pack_id").map(col)
    numbered.withColumn("pack_id", (col("_rn") / n).cast("long"))
      .repartition(numbered.sparkSession.sessionState.conf.numShufflePartitions, keys: _*)
      .groupBy(keys: _*)
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("_rn"), record.as("_r")))),
                  x => x.getField("_r")),
        "").as("packed"))
  }

  /** Positional field layout: `start` is 0-based char offset. `kind` is one
    * of "long" (zero-padded), "str" (space right-padded), "date" (yyyyMMdd).
    */
  final case class FieldSpec(name: String, start: Int, len: Int, kind: String)

  /** The synthetic POS layout used by the parity queries (FIXTURES.md §B) —
    * lineitem re-expressed as a 520-char record. The reference never declares
    * a layout (SURVEY.md §1.3); this one is ours, chosen to roundtrip every
    * lineitem column losslessly (money in cents, rates in basis points).
    */
  val LineitemLayout: Seq[FieldSpec] = Seq(
    FieldSpec("f_orderkey",   0,  12, "long"),
    FieldSpec("f_linenumber", 12,  4, "long"),
    FieldSpec("f_sku",        16, 12, "long"),
    FieldSpec("f_suppkey",    28, 12, "long"),
    FieldSpec("f_qty_cents",  40, 12, "long"),
    FieldSpec("f_price_cents", 52, 14, "long"),
    FieldSpec("f_discount_bp", 66,  6, "long"),
    FieldSpec("f_tax_bp",      72,  6, "long"),
    FieldSpec("f_returnflag",  78,  1, "str"),
    FieldSpec("f_linestatus",  79,  1, "str"),
    FieldSpec("f_shipdate",    80,  8, "date"))

  /** Format typed columns into one fixed-width record string (the inverse of
    * [[parseRecord]]; used to synthesize reference-shaped input from the
    * fixtures). Input column names must equal the spec names.
    */
  def formatRecord(specs: Seq[FieldSpec], width: Int = RecordWidth): Column = {
    val parts = specs.map { f =>
      f.kind match {
        case "long" => lpad(col(f.name).cast("string"), f.len, "0")
        case "str"  => rpad(col(f.name).cast("string"), f.len, " ")
        case "date" => date_format(col(f.name), "yyyyMMdd")
      }
    }
    rpad(concat(parts: _*), width, " ")
  }

  /** Parse a fixed-width record into typed columns per the spec — pure
    * substring+cast projections, fully codegen'd.
    */
  def parseFields(rec: Column, specs: Seq[FieldSpec]): Seq[Column] =
    specs.map { f =>
      val raw = substring(rec, f.start + 1, f.len)
      (f.kind match {
        case "long" => raw.try_cast("long")
        case "str"  => rtrim(raw)
        case "date" => try_to_date(raw, "yyyyMMdd")
      }).as(f.name)
    }

  /** Full parse: records DataFrame → typed DataFrame (keeps `keep` cols). */
  def parseRecord(df: DataFrame, recCol: String, specs: Seq[FieldSpec],
                  keep: Seq[String] = Nil): DataFrame =
    df.select(keep.map(col) ++ parseFields(col(recCol), specs): _*)
}
