package graft.etl

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.FixedWidth._
import graft.util.Retry

/** The complete daily run — the reference's flagship entry point
  * (/root/reference/main.py:425-636, SURVEY.md §3.1) re-expressed as one
  * Spark job. A user of the reference points this at the same daily drop
  * directory and gets the same outputs:
  *
  *  1. S1  find today's `R520.<yyyyMMdd>*` file (take-first)
  *  2. S2-S5  binary read → first zip entry → strict UTF-8 decode
  *  3. T1  fixed-width explode (custom Generator; short tail kept)
  *  4. parse  positional field-spec → typed rows (SP_…_Temp reconstruction)
  *  5. land  typed rows → date-partitioned parquet "temp" landing zone
  *     (stand-in for the raw JDBC table; no setting selects a database —
  *     `Sinks.jdbcWriter` is the batchsize-150 JDBC writer a database
  *     landing would call instead)
  *  6. promote  temp → final via anti-join upsert on the natural key —
  *     idempotent like the per-batch proc loop (§2.11)
  *  7. aggregate  daily SKU / sales rollups from the final table
  *     (SP_Process_Daily_Sales_Data reconstruction)
  *  8. K5  retention: drop final-table days older than `retentionDays`
  *  9. K3  archive the input into `Daily/YYYY/YYYYMMDD/`
  * 10. K4  metrics (rows/bytes via observe) → notification, never throws
  *
  * Failure at any stage produces a failure notification and rethrows
  * (main.py:624-636 semantics, minus the silent swallow).
  */
object DailyIngest {

  final case class Layout(dirs: String) {
    val temp    = s"$dirs/temp"
    val finalT  = s"$dirs/final"
    val skuAgg  = s"$dirs/agg/sku_daily"
    val salesAgg = s"$dirs/agg/sales_daily"
    val archive = s"$dirs/archive"
  }

  val NaturalKey = Seq("f_orderkey", "f_linenumber")

  /** The reference's run SLA (functionTimeout 02:30:00, host.json:15) in
    * seconds — notifications flag runs that exceed it (G3).
    */
  val SlaSeconds: Double = 150.0 * 60

  /** [[run]] under the cross-process single-flight lock (C2 — the
    * distributed upgrade of the reference's in-process `etl_lock`,
    * main.py:17-18, 433): None when another run holds the lock for this
    * workDir; the skipped run sends no notification (parity with the
    * reference, where the lock just blocks).
    */
  def runLocked(spark: SparkSession, inputDir: String, date: java.time.LocalDate,
                workDir: String, retentionDays: Int = 4,
                poster: Map[String, String] => Boolean = _ => true): Option[Notify.RunMetrics] =
    graft.util.SingleFlight.tryLocked(spark, s"$workDir/.graft_ingest.lock") {
      run(spark, inputDir, date, workDir, retentionDays, poster)
    }

  /** Run the full pipeline for `date`. Returns the success metrics (and has
    * notified via `poster`). */
  def run(spark: SparkSession, inputDir: String, date: java.time.LocalDate,
          workDir: String, retentionDays: Int = 4,
          poster: Map[String, String] => Boolean = _ => true): Notify.RunMetrics = {
    val lay = Layout(workDir)
    val t0 = System.nanoTime()
    var file = "<none>" // named in the failure payload until the lookup finds one
    try {
      file = Sources.dailyFile(spark, inputDir, date).getOrElse(
        throw new IllegalStateException(s"no daily file for $date under $inputDir"))

      // 2-4: read → explode → parse (observe rows/bytes on the record stream)
      val txt = Sources.readZipText(spark, file)
        .withColumn("business_date", Sources.filenameDate(col("path")))
      val (records, rowsBytes) = Notify.observed(explodeFixedWidth(txt, "text"), "record")
      val typed = parseRecord(records, "record", LineitemLayout,
                              keep = Seq("business_date"))
      // temp and final hold rows parsed by this same layout: every re-read
      // below takes this schema instead of a footer-reading inference job
      val schema = typed.schema

      // 5: land temp (parquet always; a JDBC raw landing would replace this
      //    write with Sinks.jdbcWriter(typed, url, table) — see SinksSpec's
      //    Derby test)
      Retry.withBackoff() {
        typed.write.mode(SaveMode.Overwrite).parquet(lay.temp)
      }

      // 6: promote temp -> final, idempotent anti-join upsert on the key;
      //    the final table is laid out `f_shipdate=YYYY-MM-DD/` so step 8's
      //    retention is a pure partition drop, never a table rewrite. A
      //    crash inside the previous run's final swap can leave the table
      //    under its aside with `final` missing; settle it first, or this run
      //    would promote the new day alone over the retained history
      val temp = spark.read.schema(schema).parquet(lay.temp)
      val finalP = new org.apache.hadoop.fs.Path(lay.finalT)
      val fs = finalP.getFileSystem(spark.sparkContext.hadoopConfiguration)
      Sinks.settleAside(fs, finalP)
      val promoted = if (fs.exists(finalP)) {
        val finalT = spark.read.schema(schema).parquet(lay.finalT)
        finalT.unionByName(temp.join(finalT.select(NaturalKey.map(col): _*),
                                     NaturalKey, "left_anti"))
      } else temp
      val staged = s"${lay.finalT}_staged"
      Sinks.writeDatePartitioned(promoted, "f_shipdate", staged)
      Sinks.replaceDir(spark, staged, lay.finalT)

      // 7: rollups from the promoted table
      val finalT = spark.read.schema(schema).parquet(lay.finalT)
      finalT.groupBy(col("f_sku").as("sku"), col("f_shipdate").as("business_date"))
        .agg(sum("f_qty_cents").as("qty_cents"),
             sum("f_price_cents").as("price_cents"),
             count(lit(1)).as("n_lines"))
        .write.mode(SaveMode.Overwrite).parquet(lay.skuAgg)
      finalT.groupBy(col("f_shipdate").as("business_date"))
        .agg(sum("f_price_cents").as("price_cents"),
             countDistinct("f_orderkey").as("n_orders"))
        .write.mode(SaveMode.Overwrite).parquet(lay.salesAgg)

      // 8: retention on the final table (exclusive < asOf - days) — a pure
      //    partition drop on the date layout: kept days are never rewritten.
      //    asOf is the newest partition directory name, the cleanup job's
      //    rule (partitionBy writes a directory only for a date with rows).
      //    The expired days are deleted without counting their rows: only
      //    Cleanup.run reports a deleted rowcount
      val asOf = Cleanup.deriveAsOf(spark, lay.finalT, "f_shipdate", partitioned = true)
      Sinks.expiredPartitions(spark, lay.finalT, "f_shipdate", asOf, retentionDays)
        .foreach(fs.delete(_, true))

      // 9: archive the input
      Sinks.archiveFile(spark, file, lay.archive)

      // 10: notify success with observed metrics
      val (rows, bytes) = rowsBytes()
      val m = Notify.RunMetrics(file.split("/").last, isFileFailed = false, "",
        rows, bytes, (System.nanoTime() - t0) / 1e9, slaSeconds = SlaSeconds)
      Notify.notify(m, "graft@local", "ops@local")(poster)
      m
    } catch {
      case scala.util.control.NonFatal(e) =>
        val m = Notify.RunMetrics(file.split("/").last,
          isFileFailed = true, String.valueOf(e.getMessage), 0L, 0L,
          (System.nanoTime() - t0) / 1e9, slaSeconds = SlaSeconds)
        Notify.notify(m, "graft@local", "ops@local")(poster)
        throw e
    }
  }
}
