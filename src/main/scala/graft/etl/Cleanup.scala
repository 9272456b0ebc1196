package graft.etl

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.util.Clock

/** The daily retention cleanup job — G2 parity with the reference's second
  * timer trigger (/root/reference/function_app.py:52-61 →
  * daily_cleanup.py:19-79): delete rows whose business date is strictly
  * older than `asOf − days` (exclusive `<`, daily_cleanup.py:30), then
  * report deleted rowcount + duration through the notification sink
  * (daily_cleanup.py:35-49); failures send a failure notification (which
  * never throws) and re-raise (daily_cleanup.py:51-79).
  *
  * Path selection: on a `dateCol=`-partitioned table this is a TRUE
  * partition drop ([[Sinks.retentionDropPartitions]]) — kept days are never
  * read or rewritten, so cleanup cost is O(expired data) at any scale. A
  * non-partitioned table falls back to filter + staged rewrite + atomic
  * [[Sinks.replaceDir]] swap.
  *
  * `asOf` defaults to max(dateCol) in the data, never the wall clock —
  * the one-clock fix for the reference's local-server-clock bug
  * (daily_cleanup.py:22, SURVEY.md §4.4-g). Backfills pass it explicitly.
  */
object Cleanup {

  final case class Result(deletedRows: Long, droppedPartitions: Long,
                          seconds: Double, partitionDrop: Boolean)

  /** True if `tableDir` is laid out `dateCol=YYYY-MM-DD/…`. */
  def isDatePartitioned(spark: SparkSession, tableDir: String, dateCol: String): Boolean =
    Sinks.datePartitions(spark, tableDir, dateCol).nonEmpty

  /** Data-derived `asOf` (max business date present). On a partitioned
    * table the max comes from the partition DIRECTORY NAMES — no data files
    * are read, preserving the partition-drop path's O(expired) cost claim.
    * The non-partitioned fallback scans (it must rewrite anyway). An empty
    * table fails fast with a clear message instead of surfacing as an NPE
    * inside retention.
    */
  def deriveAsOf(spark: SparkSession, tableDir: String, dateCol: String,
                 partitioned: Boolean): java.sql.Date =
    if (partitioned) {
      val dates = Sinks.datePartitions(spark, tableDir, dateCol).flatMap(_._2)
      require(dates.nonEmpty,
        s"cannot derive asOf: no $dateCol=<date> partitions under $tableDir")
      java.sql.Date.valueOf(dates.maxBy(_.toEpochDay))
    } else {
      // collect the max date as an ISO string, not java.sql.Date — the
      // driver-side date row decode (`toJavaDate`) is JVM-sensitive
      val r = spark.read.parquet(tableDir)
        .agg(max(col(dateCol)).cast("string")).head()
      require(!r.isNullAt(0), s"cannot derive asOf: $tableDir has no rows")
      java.sql.Date.valueOf(java.time.LocalDate.parse(r.getString(0)))
    }

  /** Run retention on `tableDir`; notify success/failure via `poster`
    * (never throws from the notification itself); re-raise on failure.
    */
  def run(spark: SparkSession, tableDir: String, dateCol: String,
          asOf: Option[java.sql.Date] = None, days: Int = 4,
          poster: Map[String, String] => Boolean = _ => true): Result = {
    val t0 = System.nanoTime()
    try {
      val partitioned = isDatePartitioned(spark, tableDir, dateCol)
      val effAsOf = asOf.getOrElse(deriveAsOf(spark, tableDir, dateCol, partitioned))
      val result =
        if (partitioned) {
          val (rows, parts) =
            Sinks.retentionDropPartitions(spark, tableDir, dateCol, effAsOf, days)
          Result(rows, parts, (System.nanoTime() - t0) / 1e9, partitionDrop = true)
        } else {
          // non-partitioned fallback: staged rewrite + atomic swap
          val df = spark.read.parquet(tableDir)
          val total = df.count()
          val kept = df.filter(Clock.retentionKeep(col(dateCol), lit(effAsOf), days))
          val staged = s"${tableDir}_retained"
          kept.write.mode(SaveMode.Overwrite).parquet(staged)
          val nKept = spark.read.schema(df.schema).parquet(staged).count()
          Sinks.replaceDir(spark, staged, tableDir)
          Result(total - nKept, 0L, (System.nanoTime() - t0) / 1e9, partitionDrop = false)
        }
      val m = Notify.RunMetrics(tableDir.split("/").last, isFileFailed = false, "",
        totalRows = result.deletedRows, totalBytes = 0L,
        totalTimeSeconds = result.seconds)
      Notify.notify(m, "graft@local", "ops@local")(poster)
      result
    } catch {
      case scala.util.control.NonFatal(e) =>
        val m = Notify.RunMetrics(tableDir.split("/").last, isFileFailed = true,
          String.valueOf(e.getMessage), 0L, 0L, (System.nanoTime() - t0) / 1e9)
        Notify.notify(m, "graft@local", "ops@local")(poster)
        throw e
    }
  }
}
