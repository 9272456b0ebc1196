package graft.ops

import java.util.zip.{ZipEntry, ZipOutputStream}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.etl.{FixedWidth, Sources}
import graft.util.Spread

/** Oracle-checkable queries over the fixed-width ingestion core
  * (SURVEY.md §2.1–§2.3). The fixtures carry no POS file, so the pipeline is
  * exercised as roundtrips: lineitem → 520-char records (formatRecord) →
  * [pack 1000] → [explode] → parse → aggregate, with the oracle aggregating
  * lineitem directly. A symmetric format/parse bug cannot hide: positions
  * and short-tail semantics are additionally pinned by FixedWidthSpec.
  */
object Ingestion {
  import FixedWidth._

  /** lineitem projected onto the fixed-width layout's typed columns.
    * Money in cents / rates in basis points so the record roundtrip is
    * lossless integers.
    */
  def lineitemTyped(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir).select(
      col("l_orderkey").as("f_orderkey"),
      col("l_linenumber").cast("long").as("f_linenumber"),
      col("l_partkey").as("f_sku"),
      col("l_suppkey").as("f_suppkey"),
      round(col("l_quantity") * 100).cast("long").as("f_qty_cents"),
      round(col("l_extendedprice") * 100).cast("long").as("f_price_cents"),
      round(col("l_discount") * 10000).cast("long").as("f_discount_bp"),
      round(col("l_tax") * 10000).cast("long").as("f_tax_bp"),
      col("l_returnflag").as("f_returnflag"),
      col("l_linestatus").as("f_linestatus"),
      to_date(col("l_shipdate")).as("f_shipdate"))

  /** Typed rows → 520-char record strings (plus pack/order keys). */
  def lineitemRecords(spark: SparkSession, dir: String): DataFrame =
    lineitemTyped(spark, dir)
      .withColumn("record", formatRecord(LineitemLayout))
      .select("f_returnflag", "f_orderkey", "f_linenumber", "record")

  /** The shared "parse back and aggregate per flag" tail. */
  private def parsedAgg(parsed: DataFrame): DataFrame =
    parsed.groupBy(col("f_returnflag").as("returnflag"))
      .agg(
        count(lit(1)).as("n_records"),
        sum("f_qty_cents").as("sum_qty_cents"),
        sum("f_price_cents").as("sum_price_cents"),
        countDistinct("f_orderkey").as("n_orders"),
        countDistinct("f_shipdate").as("n_ship_dates"),
        max("f_shipdate").as("max_ship_date"))
      .orderBy("returnflag")

  val parsedAggOracle: String =
    """SELECT l_returnflag AS returnflag,
      |       COUNT(*) AS n_records,
      |       CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_qty_cents,
      |       CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_cents,
      |       COUNT(DISTINCT l_orderkey) AS n_orders,
      |       COUNT(DISTINCT CAST(l_shipdate AS DATE)) AS n_ship_dates,
      |       MAX(CAST(l_shipdate AS DATE)) AS max_ship_date
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  /** format → parse → aggregate (field-spec projection correctness).
    *
    * The format+parse projection collapses into the scan stage, whose
    * parallelism is the parquet row-group count (3 at sf0.1) — far below
    * the session's cores. One narrow re-spread ([[Spread.forCpu]]) before
    * the CPU-heavy projection fixes that; skipped when the source already
    * has enough splits (the 100-TB case), where it would be a pure extra
    * shuffle.
    */
  def fixedWidthParse(spark: SparkSession, dir: String): DataFrame = {
    val recs = Spread.forCpu(lineitemTyped(spark, dir))
      .withColumn("record", formatRecord(LineitemLayout))
      .select("record")
    parsedAgg(parseRecord(recs, "record", LineitemLayout))
  }

  /** format → pack(1000) → length stats per flag; oracle is pure arithmetic
    * over lineitem group counts (520 chars × pack-factor bookkeeping,
    * main.py:414-423 semantics incl. final partial group).
    */
  def packStats(spark: SparkSession, dir: String): DataFrame =
    pack(lineitemRecords(spark, dir), col("record"),
         partCols = Seq("f_returnflag"),
         orderCols = Seq("f_orderkey", "f_linenumber"))
      .groupBy(col("f_returnflag").as("returnflag"))
      .agg(
        count(lit(1)).as("n_packed_rows"),
        sum(length(col("packed"))).as("total_chars"),
        max(length(col("packed"))).as("max_chars"),
        min(length(col("packed"))).as("min_chars"))
      .orderBy("returnflag")

  val packStatsOracle: String =
    """SELECT l_returnflag AS returnflag,
      |       CAST(CEIL(COUNT(*) / 1000.0) AS BIGINT) AS n_packed_rows,
      |       520 * COUNT(*) AS total_chars,
      |       520 * LEAST(1000, COUNT(*)) AS max_chars,
      |       520 * (CASE WHEN COUNT(*) % 1000 = 0 THEN 1000
      |                   ELSE COUNT(*) % 1000 END) AS min_chars
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  /** [[packStats]] with the two-phase scalable pack FORCED (the adaptive
    * dispatch picks the window form at fixture scale, so this query keeps
    * the large-input path visible — and honestly priced — in the driver
    * bench). Same semantics, same oracle as q_pack_stats.
    */
  def packScalableStats(spark: SparkSession, dir: String): DataFrame =
    FixedWidth.packScalable(lineitemRecords(spark, dir), col("record"),
        partCols = Seq("f_returnflag"),
        orderCols = Seq("f_orderkey", "f_linenumber"))
      .groupBy(col("f_returnflag").as("returnflag"))
      .agg(
        count(lit(1)).as("n_packed_rows"),
        sum(length(col("packed"))).as("total_chars"),
        max(length(col("packed"))).as("max_chars"),
        min(length(col("packed"))).as("min_chars"))
      .orderBy("returnflag")

  /** The full T3∘T1 roundtrip: format → pack → fused explode+parse →
    * aggregate. Proves segmentation conserves records and fields across the
    * pack seam. The segment-and-parse step is the fused
    * [[graft.plans.FixedWidthParseExplode]] generator (one byte walk, no
    * intermediate record strings); its equivalence to the unfused
    * explode→parse pipeline is spec-locked in FixedWidthSpec, and the
    * unfused declarative parse stays benched via q_fixedwidth_parse.
    */
  def packExplodeRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    // the record expression, not a pre-formatted column: both pack
    // exchanges ship narrow typed rows and the format CPU runs at full
    // width (see pack's scaladoc; the sf0.1 scan-stage shuffle 36.6→5 MB)
    val packed = pack(lineitemTyped(spark, dir), formatRecord(LineitemLayout),
                      partCols = Seq("f_returnflag"),
                      orderCols = Seq("f_orderkey", "f_linenumber"))
    // No re-spread needed before the 1000x explode fan-out: pack pins its
    // output partition count (pinned pre-agg repartition in FixedWidth),
    // so AQE cannot coalesce the 520 KB-row packed table down to a handful
    // of partitions and starve the explode+parse of parallelism.
    parsedAgg(explodeParseFixedWidth(packed.select("packed"), "packed",
                                     LineitemLayout))
  }

  // ---- JSONL source (schema-on-read + corrupt-record audit) -----------------

  /** Corrupt-line modulus for [[stageJsonl]]: every
    * `doc_id % JsonlCorruptMod == 0` line is written TRUNCATED
    * (structurally invalid JSON) — the predicate is shared text with the
    * oracle, so the corrupt audit is exact.
    */
  val JsonlCorruptMod = 97L

  /** Deterministic staging of a JSONL corpus drop from `documents` — the
    * format LLM training corpora actually ship in. Proper lines are
    * engine-escaped (`to_json`, so embedded quotes/newlines round-trip);
    * every [[JsonlCorruptMod]]-th doc is cut mid-object — the damaged-
    * shard case a PERMISSIVE read must survive, not crash on. Input-
    * fixture staging (the [[stageZip]] class: synthesizes the INPUT the
    * query ingests, runs inside the consumer).
    */
  def stageJsonl(spark: SparkSession, dir: String): String = {
    val safe = dir.replaceAll("[^A-Za-z0-9.]", "_")
    val out = s"target/tmp/jsonl_$safe"
    if (!new java.io.File(out, "_SUCCESS").exists()) {
      val line = to_json(struct(col("doc_id"), col("lang"), col("source"), col("text")))
      Tables.documents(spark, dir)
        .select(when(col("doc_id") % JsonlCorruptMod === 0, substring(line, 1, 19))
          .otherwise(line).as("value"))
        .write.mode("overwrite").text(out)
    }
    out
  }

  /** q_jsonl_ingest: schema-on-read JSONL ingest with a corrupt-record
    * audit — the missing-from-nothing source format every training-data
    * pipeline starts at: a declared schema (no inference pass over 100 TB),
    * `PERMISSIVE` mode so one damaged shard cannot kill the run, malformed
    * lines captured in `_corrupt_record` and audited as their own
    * partition next to the per-source rollup (docs, char mass, and an
    * exact id checksum so a silently null-ed field fails the gate).
    *
    * Scale shape: the JSON text source splits by file/line like any text
    * scan; parsing is per-row codegen (JacksonParser inside the scan); the
    * only shuffle is the #sources+1-group rollup, map-side combined.
    */
  def jsonlIngest(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val path = stageJsonl(spark, dir)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("lang", StringType),
      StructField("source", StringType), StructField("text", StringType),
      StructField("_corrupt_record", StringType)))
    spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)
      .select(
        when(col("_corrupt_record").isNotNull, lit("__corrupt"))
          .otherwise(col("source")).as("source"),
        when(col("_corrupt_record").isNotNull, lit(0L))
          .otherwise(length(col("text")).cast("long")).as("n_chars"),
        // gated like the other columns, NOT bare coalesce: with
        // spark.sql.json.enablePartialResults (default since 3.4.1) some
        // malformed shapes RETAIN fields parsed before the cut — an
        // ungated doc_id would leak a truncated row's id into the
        // __corrupt checksum, diverging from the oracle's hardcoded 0
        when(col("_corrupt_record").isNotNull, lit(0L))
          .otherwise(coalesce(col("doc_id"), lit(0L))).as("id"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
           sum("n_chars").as("sum_chars"),
           sum("id").as("id_checksum"))
      .orderBy("source")
  }

  /** The FAILFAST contrast of [[jsonlIngest]] — strict schema-on-read:
    * any malformed line ABORTS the scan instead of landing in a corrupt
    * audit (the S5 strict-decode duality: PERMISSIVE survives and audits a
    * damaged shard, FAILFAST refuses to emit from one). Same staged input,
    * same good-line rollup columns, so on a clean corpus the two modes
    * agree row-for-row; on the planted truncated line this one throws.
    * Spec-locked in ExtensionsSpec ("jsonlIngestStrict aborts on the
    * planted corrupt line") rather than oracle-gated: an abort has no
    * result relation for DuckDB to compare.
    */
  def jsonlIngestStrict(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val path = stageJsonl(spark, dir)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("lang", StringType),
      StructField("source", StringType), StructField("text", StringType)))
    spark.read.schema(schema)
      .option("mode", "FAILFAST")
      .json(path)
      .select(col("source"),
              length(col("text")).cast("long").as("n_chars"),
              coalesce(col("doc_id"), lit(0L)).as("id"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
           sum("n_chars").as("sum_chars"),
           sum("id").as("id_checksum"))
      .orderBy("source")
  }

  /** Oracle: the good-line rollup and the corrupt partition re-derived
    * from `documents` with the shared corrupt predicate. A PERMISSIVE
    * corrupt row carries NO parsed fields, so its chars/checksum are 0 by
    * construction on both sides.
    */
  val jsonlIngestOracle: String =
    s"""SELECT * FROM (
       |  SELECT source, COUNT(*) AS n_docs,
       |         CAST(SUM(length(text)) AS BIGINT) AS sum_chars,
       |         CAST(SUM(doc_id) AS BIGINT) AS id_checksum
       |  FROM documents WHERE doc_id % $JsonlCorruptMod <> 0 GROUP BY 1
       |  UNION ALL
       |  SELECT '__corrupt', COUNT(*), 0, 0
       |  FROM documents WHERE doc_id % $JsonlCorruptMod = 0
       |  HAVING COUNT(*) > 0)
       |ORDER BY source""".stripMargin

  // ---- zip source end-to-end (S1/S2/S3/S5 + P3) ----------------------------

  /** Deterministic staging of a reference-shaped daily zip from `documents`:
    * one UTF-8 text member, records = rpad(substr(text,1,520), 520) in
    * doc_id order, archive named R520.20240115_000000.20240115000000.zip.
    * Idempotent; staged under target/tmp (inside the repo).
    */
  def stageZip(spark: SparkSession, dir: String): String = {
    val safe = dir.replaceAll("[^A-Za-z0-9.]", "_")
    val outDir = new java.io.File(s"target/tmp/zip_$safe")
    val outFile = new java.io.File(outDir, "R520.20240115_000000.20240115000000.zip")
    if (!outFile.exists()) {
      outDir.mkdirs()
      val docs = Tables.documents(spark, dir)
        .select(col("doc_id"), rpad(substring(col("text"), 1, 520), 520, " ").as("rec"))
        .orderBy("doc_id")
        .collect() // staging a single daily input file, not a query operator
      val text = docs.iterator.map(_.getString(1)).mkString
      val tmp = java.io.File.createTempFile("stage", ".zip", outDir)
      val zos = new ZipOutputStream(new java.io.FileOutputStream(tmp))
      zos.putNextEntry(new ZipEntry("pos_data.txt"))
      zos.write(text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      zos.closeEntry(); zos.close()
      tmp.renameTo(outFile)
    }
    outFile.getAbsolutePath
  }

  /** binaryFile → zip extract (first entry) → strict decode → explode520 →
    * per-record stats, with the business date parsed from the filename
    * (main.py:358-364). Oracle recomputes from `documents` directly.
    */
  def zipIngest(spark: SparkSession, dir: String): DataFrame = {
    val path = stageZip(spark, dir)
    val txt = Sources.readZipText(spark, path)
      .withColumn("business_date", Sources.filenameDate(col("path")))
    explodeFixedWidth(txt, "text")
      .groupBy(col("business_date"))
      .agg(
        count(lit(1)).as("n_records"),
        sum(length(rtrim(col("record")))).as("sum_trimmed_len"),
        countDistinct(substring(col("record"), 1, 20)).as("n_distinct_heads"))
      .orderBy("business_date")
  }

  val zipIngestOracle: String =
    """SELECT DATE '2024-01-15' AS business_date,
      |       COUNT(*) AS n_records,
      |       CAST(SUM(LENGTH(RTRIM(SUBSTRING(text, 1, 520)))) AS BIGINT) AS sum_trimmed_len,
      |       COUNT(DISTINCT SUBSTRING(RPAD(SUBSTRING(text, 1, 520), 520, ' '), 1, 20))
      |         AS n_distinct_heads
      |FROM documents""".stripMargin
}
