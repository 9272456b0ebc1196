package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Run-metrics + notification surface (SURVEY.md §2.4 K4, §2.3 T6/T7).
  *
  * The reference accumulates counters in driver variables
  * (/root/reference/main.py:466-469, 492, 504-506), computes MB totals
  * (main.py:603) and POSTs an HTML email through a Logic App
  * (email_sender.py:23-93), swallowing every error. Spark-side:
  *
  *  - metrics ride the job itself via `Dataset.observe` — collected by the
  *    executors during the action, no second pass, no driver loops;
  *  - the notification payload is a pure function of the metrics row
  *    (testable); delivery is a pluggable `poster` so the library never
  *    hard-codes an endpoint (no egress here; production wires an HTTP
  *    client or a SparkListener);
  *  - `notify` never throws (parity with email_sender.py:85-93), and the
  *    success/failure subject honors the flag — fixing the reference bug
  *    where the argument was shadowed (SURVEY.md §4.4-e).
  */
object Notify {

  /** `slaSeconds`: the run-duration SLA (G3 — the reference's
    * functionTimeout 02:30:00, host.json:15). Infinity = no SLA; when the
    * run exceeds it, the notification subject and body carry an explicit
    * SLA-EXCEEDED marker (the Functions host would have killed the run; the
    * library surfaces the breach instead of silently running long).
    */
  final case class RunMetrics(
      fileName: String,
      isFileFailed: Boolean,
      errorMessage: String,
      totalRows: Long,
      totalBytes: Long,
      totalTimeSeconds: Double,
      slaSeconds: Double = Double.PositiveInfinity) {
    def slaExceeded: Boolean = totalTimeSeconds > slaSeconds
  }

  /** Attach observed metrics to a DataFrame: row count + UTF-8 payload
    * bytes of `payloadCol` (T6/T7 — the reference's running totals),
    * collected during whatever action runs the returned DataFrame. The
    * returned reader waits for that action and yields (rows, bytes).
    */
  def observed(df: DataFrame, payloadCol: String): (DataFrame, () => (Long, Long)) = {
    val obs = org.apache.spark.sql.Observation("graft_metrics_" + System.nanoTime())
    val out = df.observe(obs,
      count(lit(1)).as("n_rows"),
      sum(octet_length(col(payloadCol))).as("n_bytes"))
    (out, () => {
      val row = obs.get
      (row("n_rows").asInstanceOf[Long], row("n_bytes").asInstanceOf[Long])
    })
  }

  /** The notification payload (email_sender.py:32-78 shape): subject picks
    * the success/failure variant from the FLAG (bug §4.4-e fixed), body
    * carries rows / MB (main.py:603 rounding) / minutes (email_sender.py:40)
    * and the send date rendered in Asia/Tokyo (email_sender.py:43-45).
    * `sentAt` is injectable for testability; callers default to now().
    */
  def payload(m: RunMetrics, emailFrom: String, emailTo: String,
              sentAt: java.time.Instant = java.time.Instant.now()): Map[String, String] = {
    val slaSuffix = if (m.slaExceeded) " [SLA EXCEEDED]" else ""
    val subject =
      (if (m.isFileFailed) s"POS ETL FAILED: ${m.fileName}"
       else s"POS ETL succeeded: ${m.fileName}") + slaSuffix
    val mb = math.round(m.totalBytes / 1048576.0 * 100) / 100.0
    val minutes = math.round(m.totalTimeSeconds / 60.0 * 100) / 100.0
    val slaLine =
      if (m.slaExceeded) {
        // report the OVERAGE, not the total: a 166.67-min run against a
        // 150-min bound is 16.67 min over, not 166.67
        val overMin = math.round((m.totalTimeSeconds - m.slaSeconds) / 60.0 * 100) / 100.0
        s"<p>SLA: EXCEEDED — $overMin min over a ${math.round(m.slaSeconds / 60.0 * 100) / 100.0} min bound</p>"
      } else ""
    Map(
      "EmailFrom" -> emailFrom,
      "EmailTo"   -> emailTo,
      "Subject"   -> subject,
      "Body" ->
        s"""<html><body>
           |<p>File: ${m.fileName}</p>
           |<p>Status: ${if (m.isFileFailed) "FAILED — " + m.errorMessage else "SUCCESS"}</p>
           |<p>Rows processed: ${m.totalRows}</p>
           |<p>Data processed: $mb MB</p>
           |<p>Duration: $minutes minutes</p>$slaLine
           |<p>Sent: ${graft.util.Clock.jstDate(sentAt)} (JST)</p>
           |</body></html>""".stripMargin)
  }

  /** Deliver via `poster` — NEVER throws (email_sender.py:85-93 parity).
    * Returns true on confirmed delivery.
    */
  def notify(m: RunMetrics, emailFrom: String, emailTo: String,
             sentAt: java.time.Instant = java.time.Instant.now())(
      poster: Map[String, String] => Boolean): Boolean =
    try poster(payload(m, emailFrom, emailTo, sentAt))
    catch { case scala.util.control.NonFatal(_) => false }
}
