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
  *     (stand-in for the raw JDBC table; `Sinks.jdbcWriter` is the
  *     batchsize-150 JDBC path when a database is configured)
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
    val fileName = Sources.dailyFile(spark, inputDir, date)
    try {
      val file = fileName.getOrElse(
        throw new IllegalStateException(s"no daily file for $date under $inputDir"))

      // 2-4: read → explode → parse (observe rows/bytes on the record stream)
      val obs = org.apache.spark.sql.Observation("daily_ingest_" + System.nanoTime())
      val txt = Sources.readZipText(spark, file)
        .withColumn("business_date", Sources.filenameDate(col("path")))
      val records = explodeFixedWidth(txt, "text")
        .observe(obs, count(lit(1)).as("n_rows"),
                 sum(octet_length(col("record"))).as("n_bytes"))
      val typed = parseRecord(records, "record", LineitemLayout,
                              keep = Seq("business_date"))

      // 5: land temp (date-partitioned; JDBC raw landing would be
      //    Sinks.jdbcWriter(packed, url, table) — see SinksSpec Derby test)
      Retry.withBackoff() {
        typed.write.mode(SaveMode.Overwrite).parquet(lay.temp)
      }

      // 6: promote temp -> final, idempotent anti-join upsert on the key;
      //    the final table is laid out `f_shipdate=YYYY-MM-DD/` so step 8's
      //    retention is a pure partition drop, never a table rewrite
      val temp = spark.read.parquet(lay.temp)
      val promoted = if (exists(spark, lay.finalT)) {
        val finalT = spark.read.parquet(lay.finalT)
        finalT.unionByName(temp.join(finalT.select(NaturalKey.map(col): _*),
                                     NaturalKey, "left_anti"))
      } else temp
      val staged = s"${lay.finalT}_staged"
      Sinks.writeDatePartitioned(promoted, "f_shipdate", staged)
      Sinks.replaceDir(spark, staged, lay.finalT)

      // 7: rollups from the promoted table
      val finalT = spark.read.parquet(lay.finalT)
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
      //    rule (partitionBy writes a directory only for a date with rows)
      val asOf = Cleanup.deriveAsOf(spark, lay.finalT, "f_shipdate", partitioned = true)
      Sinks.retentionDropPartitions(spark, lay.finalT, "f_shipdate", asOf, retentionDays)

      // 9: archive the input
      Sinks.archiveFile(spark, file, lay.archive)

      // 10: notify success with observed metrics
      val row = obs.get
      val m = Notify.RunMetrics(file.split("/").last, isFileFailed = false, "",
        row("n_rows").asInstanceOf[Long], row("n_bytes").asInstanceOf[Long],
        (System.nanoTime() - t0) / 1e9, slaSeconds = SlaSeconds)
      Notify.notify(m, "graft@local", "ops@local")(poster)
      m
    } catch {
      case scala.util.control.NonFatal(e) =>
        val m = Notify.RunMetrics(fileName.getOrElse("<none>").split("/").last,
          isFileFailed = true, String.valueOf(e.getMessage), 0L, 0L,
          (System.nanoTime() - t0) / 1e9, slaSeconds = SlaSeconds)
        Notify.notify(m, "graft@local", "ops@local")(poster)
        throw e
    }
  }

  private def exists(spark: SparkSession, dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }
}
