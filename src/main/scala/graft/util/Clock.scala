package graft.util

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Business-date / timezone policy — the one-clock fix for the reference's
  * three-clock bug (SURVEY.md §4.4-g): ingest used UTC+05:30
  * (/root/reference/main.py:444), cleanup the local server clock
  * (daily_cleanup.py:22), email JST (email_sender.py:43-45). Here the
  * session is pinned to UTC and every derived date is an explicit, pure
  * column function of an event timestamp — never the JVM clock, so plans
  * are deterministic and cluster-timezone-independent.
  */
object Clock {

  /** The reference's target-date offset: UTC+05:30 (main.py:444). */
  val BusinessOffsetMinutes = 330

  /** Business date of a UTC timestamp under the +05:30 offset. */
  def businessDate(ts: Column, offsetMinutes: Int = BusinessOffsetMinutes): Column =
    to_date(ts + expr(s"INTERVAL $offsetMinutes MINUTES"))

  def businessDateSql(tsSql: String, offsetMinutes: Int = BusinessOffsetMinutes): String =
    s"CAST($tsSql + INTERVAL '$offsetMinutes minutes' AS DATE)"

  /** Driver-side JST date render for notification bodies
    * (email_sender.py:43-45: strftime %Y-%m-%d in Asia/Tokyo).
    */
  def jstDate(instant: java.time.Instant): String =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd")
      .format(instant.atZone(java.time.ZoneId.of("Asia/Tokyo")))

  /** Retention cutoff: strictly-less-than `days` before `asOf` (exclusive
    * bound, daily_cleanup.py:30: `WHERE 当稼動日 < ?`).
    */
  def retentionKeep(dateCol: Column, asOf: Column, days: Int = 4): Column = {
    require(days >= 0, s"retention days must be >= 0, got $days")
    dateCol >= date_sub(asOf, days)
  }
}
