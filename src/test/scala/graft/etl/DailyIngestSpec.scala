package graft.etl

import java.nio.file.Files
import java.util.zip.{ZipEntry, ZipOutputStream}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}
import graft.ops.Ingestion

/** End-to-end spec for the complete daily run (SURVEY.md §3.1): a
  * reference-shaped zip of 520-char lineitem records flows through find →
  * unzip → explode → parse → promote → aggregate → retention → archive →
  * notify, and every stage's output is checked against the fixture.
  */
class DailyIngestSpec extends SparkSpec {

  /** Stage the fixture's lineitem records (those `keep` selects) as the
    * daily zip for `day` (yyyyMMdd).
    */
  private def stageLineitemZip(inputDir: String, day: String = "20240115",
                               keep: Column = lit(true)): String = {
    val recs = Ingestion.lineitemRecords(spark, sf0001).filter(keep)
      .orderBy("f_orderkey", "f_linenumber")
      .select("record").collect().map(_.getString(0))
    val text = recs.mkString
    val name = s"R520.${day}_000000.${day}000000.zip"
    val f = new java.io.File(inputDir, name)
    val zos = new ZipOutputStream(new java.io.FileOutputStream(f))
    zos.putNextEntry(new ZipEntry("pos.txt"))
    zos.write(text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    zos.closeEntry(); zos.close()
    f.getAbsolutePath
  }

  test("full daily run produces promoted, aggregated, retained, archived output + success notify") {
    val in = Files.createTempDirectory("daily_in").toFile.getAbsolutePath
    val work = Files.createTempDirectory("daily_work").toFile.getAbsolutePath
    stageLineitemZip(in)
    val li = Tables.lineitem(spark, sf0001)
    val nLineitem = li.count()

    var posted: Option[Map[String, String]] = None
    val m = DailyIngest.run(spark, in, java.time.LocalDate.of(2024, 1, 15), work,
      poster = p => { posted = Some(p); true })

    // metrics: every record counted, 520 bytes each (ASCII layout)
    assert(m.totalRows == nLineitem)
    assert(m.totalBytes == nLineitem * 520)
    assert(!m.isFileFailed && posted.exists(_("Subject").contains("succeeded")))

    // final table: retention keeps shipdate >= max - 4d (exclusive delete)
    val expectKept = {
      val asOf = li.agg(max(to_date(col("l_shipdate")))).head().getDate(0)
      li.filter(to_date(col("l_shipdate")) >= date_sub(lit(asOf), 4)).count()
    }
    val finalT = spark.read.parquet(s"$work/final")
    assert(finalT.count() == expectKept)

    // aggregates reconcile with the PROMOTED table: rollups run before the
    // retention cleanup, like the reference (procs at ingest 21:45,
    // retention at 00:30 — function_app.py:11,52)
    val sku = spark.read.parquet(s"$work/agg/sku_daily")
    assert(sku.agg(sum("n_lines")).head().getLong(0) == nLineitem)
    val sales = spark.read.parquet(s"$work/agg/sales_daily")
    assert(sales.count() > 0)

    // input archived into Daily/YYYY/YYYYMMDD and removed from the drop dir
    assert(new java.io.File(s"$work/archive/Daily/2024/20240115").listFiles().nonEmpty)
    assert(new java.io.File(in).listFiles().forall(!_.getName.startsWith("R520.")))

    // second run: file gone -> failure notification, error rethrown
    var failPosted: Option[Map[String, String]] = None
    intercept[IllegalStateException] {
      DailyIngest.run(spark, in, java.time.LocalDate.of(2024, 1, 15), work,
        poster = p => { failPosted = Some(p); true })
    }
    assert(failPosted.exists(_("Subject").contains("FAILED")))

    // idempotent promotion: re-staging the same file and re-running leaves
    // the final table unchanged (anti-join upsert + retention fixed point)
    stageLineitemZip(in)
    DailyIngest.run(spark, in, java.time.LocalDate.of(2024, 1, 15), work)
    assert(spark.read.parquet(s"$work/final").count() == expectKept)
  }

  test("a failing daily-file lookup still posts exactly one FAILED notification") {
    val work = Files.createTempDirectory("daily_work").toFile.getAbsolutePath
    val posted = scala.collection.mutable.ArrayBuffer.empty[Map[String, String]]
    intercept[java.io.IOException] {
      DailyIngest.run(spark, "nosuchscheme://drop", java.time.LocalDate.of(2024, 1, 15),
        work, poster = p => { posted += p; true })
    }
    assert(posted.size == 1, posted)
    assert(posted.head("Subject") == "POS ETL FAILED: <none>", posted.head)
  }

  /** Day 1 of a two-day backfill: even order keys arrive and are run on
    * the 15th, then the odd ones are staged as the 16th's file. Returns
    * (input dir, work dir).
    */
  private def runFirstOfTwoDays(): (String, String) = {
    val in = Files.createTempDirectory("daily_in").toFile.getAbsolutePath
    val work = Files.createTempDirectory("daily_work").toFile.getAbsolutePath
    stageLineitemZip(in, "20240115", col("f_orderkey") % 2 === 0)
    DailyIngest.run(spark, in, java.time.LocalDate.of(2024, 1, 15), work)
    stageLineitemZip(in, "20240116", col("f_orderkey") % 2 === 1)
    (in, work)
  }

  test("a rerun after a crash inside the final swap keeps the retained history") {
    def backfill(crash: Boolean): Seq[org.apache.spark.sql.Row] = {
      val (in, work) = runFirstOfTwoDays()
      // the state a crash between replaceDir's two renames leaves behind:
      // the live table sits under its aside and `final` is missing
      if (crash) assert(new java.io.File(s"$work/final")
        .renameTo(new java.io.File(s"$work/.final_old")))
      DailyIngest.run(spark, in, java.time.LocalDate.of(2024, 1, 16), work)
      assert(!new java.io.File(s"$work/.final_old").exists())
      val t = spark.read.parquet(s"$work/final")
      t.orderBy(t.columns.map(col): _*).collect().toSeq
    }
    val clean = backfill(crash = false)
    assert(clean.exists(_.getAs[Long]("f_orderkey") % 2 == 0), "day 1 rows retained")
    assert(backfill(crash = true) == clean)
  }

  test("a warm daily run that expires partitions submits only the jobs that do its work") {
    // day 2 of the two-day backfill: every fixture date older than the
    // newest minus 4 days expires
    val (in, work) = runFirstOfTwoDays()

    // count only this thread's jobs: the run's jobs inherit the local
    // property, other suites' jobs do not carry it
    val key = "graft.spec.jobs"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val drained = scala.concurrent.Promise[Unit]()
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty(key)).orNull match {
          case "daily" => jobs.incrementAndGet()
          case "drain" => drained.trySuccess(())
          case _ =>
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(counter)
    try {
      sc.setLocalProperty(key, "daily")
      DailyIngest.run(spark, in, java.time.LocalDate.of(2024, 1, 16), work)
      // the listener queue delivers in order: once the drain job's start
      // arrives, every job the run submitted has been counted
      sc.setLocalProperty(key, "drain")
      sc.parallelize(Seq(1), 1).count()
      scala.concurrent.Await.result(drained.future,
        scala.concurrent.duration.Duration(60, "s"))
    } finally {
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(counter)
    }
    // land 1, promote 3, sku_daily 2, sales_daily 3, plus one parallel
    // listing of the ~1,760 ship-date directories the rollups read (the
    // fixture spans seven years; a real day lands a handful, listed on the
    // driver). No schema inference for a table the run wrote itself, no
    // count of the expired rows
    assert(jobs.get == 10, s"${jobs.get} jobs")

    val shipdates = Tables.lineitem(spark, sf0001)
      .select(to_date(col("l_shipdate"))).distinct().collect().map(_.getDate(0).toLocalDate)
    val asOf = shipdates.maxBy(_.toEpochDay)
    val kept = spark.read.parquet(s"$work/final").select("f_shipdate").distinct()
      .collect().map(_.getDate(0).toLocalDate).toSet
    assert(kept == shipdates.filterNot(_.isBefore(asOf.minusDays(4))).toSet)
    assert(shipdates.exists(_.isBefore(asOf.minusDays(4))), "nothing expired")
  }
}
