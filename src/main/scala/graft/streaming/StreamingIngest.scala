package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

import graft.etl.FixedWidth

/** Structured-Streaming parity for the reference's ingest loop
  * (SURVEY.md §2.5-§2.7, §7.6).
  *
  * The reference streams one daily file in 100 MB chunks with a byte-offset
  * checkpoint (/root/reference/main.py:289-351) and carries sub-record
  * leftovers across chunk seams (main.py:472-485, 521-565). Spark-native:
  *
  *  - [[fileStreamRecords]]: file-source stream + `Trigger.AvailableNow` +
  *    `checkpointLocation` — Spark's offset log + commit log replace the
  *    hand-rolled checkpoint blob (C1) and give exactly-once per file into
  *    transactional sinks (C3); each micro-batch drains all available
  *    files, the streaming analogue of the daily cron (G1).
  *  - [[reassembleChunks]]: the T2 leftover-carry as
  *    `flatMapGroupsWithState` — per-file string buffer state, emitting
  *    only complete `width`-char records until the group times out, then
  *    the short tail (main.py:560-565).
  *  - [[hourlyCounts]]: the watermarked event-time tumbling window over the
  *    events stream — late data beyond 2 hours dropped, results identical
  *    to the batch q_events_hourly on closed windows.
  */
object StreamingIngest {

  // ---- file-source ingest (S4/C1 parity) ------------------------------------

  /** Stream text files from `dir`, explode fixed-width records, tag the
    * business date from each filename. Start with
    * `.writeStream.trigger(Trigger.AvailableNow()).option("checkpointLocation", …)`.
    */
  def fileStreamRecords(spark: SparkSession, dir: String,
                        width: Int = FixedWidth.RecordWidth): DataFrame = {
    val raw = spark.readStream
      .format("text")
      .option("wholetext", "true") // one row per daily file, like the reference
      .load(dir)
      .select(col("value"), input_file_name().as("path"))
    FixedWidth.explodeFixedWidth(
        raw.withColumn("business_date", graft.etl.Sources.filenameDate(col("path"))),
        "value", width = width)
  }

  /** Run an AvailableNow pass to parquet and block until drained. */
  def runAvailableNow(records: DataFrame, outDir: String, checkpointDir: String): Unit =
    records.writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()

  // ---- T2 leftover-carry as flatMapGroupsWithState --------------------------

  /** One arriving chunk of a logical stream (`key` = file identity, `seq` =
    * chunk order within the file, `isLast` marks the final chunk).
    */
  final case class Chunk(key: String, seq: Long, data: String, isLast: Boolean)

  /** Carry state: `buffer` holds the sub-record leftover, `emitted` the
    * record index, `nextSeq` the next chunk expected in order, `pending`
    * any chunks that arrived ahead of a gap (keyed by seq), `lastSeq` the
    * final chunk's seq once seen (−1 until then).
    */
  final case class CarryState(buffer: String, emitted: Long, nextSeq: Long,
                              pending: Map[Long, String], lastSeq: Long)

  final case class Record(key: String, idx: Long, record: String)

  /** The reference's cross-chunk leftover carry (main.py:472-485): emit
    * complete `width`-char records from buffer+chunk, keep the remainder in
    * state; on the last chunk also emit the short tail (main.py:560-565).
    * Delivery order is NOT assumed: chunks ahead of a sequence gap are held
    * in the `pending` state map and drained strictly in `seq` order as gaps
    * fill — so any chunked source (multi-part uploads, parallel fetchers,
    * cross-batch reordering) reassembles byte-identically to the in-order
    * daily file. Held-back bytes are bounded by the source's reorder window
    * (one chunk for the reference's sequential reader).
    *
    * Widths count Unicode CODE POINTS, not UTF-16 units — matching the batch
    * [[graft.plans.FixedWidthParseExplode]] and Python slicing, so streaming
    * reassembly and batch segmentation agree on non-BMP text. A chunk seam
    * may split a surrogate pair; a trailing high surrogate is held back in
    * the carry until its low half arrives, never consumed as a record char.
    */
  def carve(buffer: String, width: Int): (Seq[String], String) = {
    // never let an unpaired trailing high surrogate count as a code point
    val safeLen =
      if (buffer.nonEmpty && Character.isHighSurrogate(buffer.charAt(buffer.length - 1)))
        buffer.length - 1
      else buffer.length
    val total = buffer.codePointCount(0, safeLen)
    val full = total / width
    val recs = scala.collection.mutable.ArrayBuffer.empty[String]
    var start = 0
    var i = 0
    while (i < full) {
      val end = buffer.offsetByCodePoints(start, width)
      recs += buffer.substring(start, end)
      start = end
      i += 1
    }
    (recs.toSeq, buffer.substring(start))
  }

  /** [[carve]] per key, with the carry in `GroupState`. Limitation: a
    * chunk redelivered after its file completed recreates carry state for
    * that key that never drains (its seq-0 chunk never arrives again).
    */
  def reassembleChunks(chunks: Dataset[Chunk],
                       width: Int = FixedWidth.RecordWidth): Dataset[Record] = {
    import chunks.sparkSession.implicits._
    chunks
      .groupByKey(_.key)
      .flatMapGroupsWithState[CarryState, Record](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, it: Iterator[Chunk], state: GroupState[CarryState]) =>
          val s0 = state.getOption.getOrElse(CarryState("", 0L, 0L, Map.empty, -1L))
          var buf = s0.buffer
          var idx = s0.emitted
          var nextSeq = s0.nextSeq
          var lastSeq = s0.lastSeq
          val pending = scala.collection.mutable.Map.empty[Long, String] ++ s0.pending
          val out = scala.collection.mutable.ArrayBuffer.empty[Record]
          it.foreach { c =>
            // at-least-once guard: a chunk with seq < nextSeq was already
            // drained — inserting it would park an undrainable entry in
            // `pending` forever (state growth), and a stale isLast
            // redelivery would regress lastSeq below nextSeq mid-drain
            if (c.seq >= nextSeq) {
              pending(c.seq) = c.data
              if (c.isLast) lastSeq = c.seq
            }
          }
          // drain strictly in seq order; anything past a gap stays pending
          while (pending.contains(nextSeq)) {
            buf += pending.remove(nextSeq).get
            val (recs, rest) = carve(buf, width)
            recs.foreach { r => out += Record(key, idx, r); idx += 1 }
            buf = rest
            nextSeq += 1
          }
          if (lastSeq >= 0 && nextSeq > lastSeq) {
            if (buf.nonEmpty) { out += Record(key, idx, buf); idx += 1 } // short tail kept
            state.remove()
          } else {
            state.update(CarryState(buf, idx, nextSeq, pending.toMap, lastSeq))
          }
          out.iterator
      }
  }

  // ---- watermarked event-time window (north-star streaming agg) -------------

  /** Hourly tumbling counts with a 2-hour watermark — the streaming twin of
    * graft.ops.Temporal.eventsHourly. On closed windows the results match
    * the batch rollup exactly.
    */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("w.start").as("hour_start"), col("event_type"), col("n_events"))
}
