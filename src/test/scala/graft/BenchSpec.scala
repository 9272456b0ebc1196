package graft

import org.scalatest.funsuite.AnyFunSuite

/** Locks the Bench harness's failure contract (r11 verdict item 6): a
  * query that throws is recorded in the failed list — loudly, to stderr —
  * never silently timed as a near-zero success that flatters the total.
  * A JVM-fatal error additionally aborts the run (r12 advice): timings
  * taken after an OOM are unreliable, so none are taken.
  */
class BenchSpec extends AnyFunSuite {

  test("timeQueries records a throwing query in the failed list and keeps timing the rest") {
    var cleanups = 0
    val (timings, failed, fatal) = Bench.timeQueries(
      Seq(
        "q_ok_first" -> (() => ()),
        "q_boom" -> (() => sys.error("forced bench failure")),
        "q_ok_last" -> (() => ())),
      cleanup = () => cleanups += 1)
    assert(failed == Seq("q_boom"), failed.mkString(","))
    assert(fatal.isEmpty)
    // the suite keeps going: every query reports a timing, failed or not
    assert(timings.map(_.name) == Seq("q_ok_first", "q_boom", "q_ok_last"))
    assert(timings.forall(_.wall >= 0.0))
    // cleanup stays untimed but still runs after a failed query
    assert(cleanups == 3)
  }

  test("timeQueries with no failures returns an empty failed list (no spurious \"failed\" key)") {
    val (timings, failed, fatal) = Bench.timeQueries(Seq("q_ok" -> (() => ())))
    assert(failed.isEmpty && fatal.isEmpty && timings.length == 1)
  }

  test("preWarm runs untimed before each query, and a throwing warm pass never fails the timed query") {
    // the adjacent JIT-warm contract (r14): the hook fires per query BEFORE
    // the clock starts; a broken warm pass is swallowed so the failure
    // surfaces (or not) in the timed run itself, never masked by warmup
    val order = scala.collection.mutable.ListBuffer.empty[String]
    val (timings, failed, _) = Bench.timeQueries(
      Seq(
        "q_warmed" -> (() => { order += "run:q_warmed"; () }),
        "q_cold" -> (() => { order += "run:q_cold"; () })),
      preWarm = name => {
        order += s"warm:$name"
        if (name == "q_cold") sys.error("forced warm failure")
      })
    assert(failed.isEmpty, "a throwing preWarm must not fail the timed query")
    assert(order.toList == List(
      "warm:q_warmed", "run:q_warmed", "warm:q_cold", "run:q_cold"),
      order.mkString(","))
    assert(timings.map(_.name) == Seq("q_warmed", "q_cold"))
  }

  test("a JVM-fatal error in preWarm aborts like the timed path: timings kept, query never timed") {
    // an OOM in the warm pass must not propagate uncaught (which would
    // discard every completed timing with no tainted record) NOR be
    // silently swallowed (the JVM is wedged) — it gets the timed path's
    // flush-and-abort treatment
    var ranTimed = false
    val (timings, failed, fatal) = Bench.timeQueries(
      Seq(
        "q_ok_first" -> (() => ()),
        "q_warm_oom" -> (() => { ranTimed = true })),
      preWarm = name =>
        if (name == "q_warm_oom") throw new OutOfMemoryError("forced warm fatal"))
    assert(fatal.contains("OutOfMemoryError at q_warm_oom (preWarm)"), fatal.toString)
    assert(failed == Seq("q_warm_oom"))
    assert(!ranTimed, "the timed query ran in a wedged JVM")
    // completed timings flush; the aborted query reports none
    assert(timings.map(_.name) == Seq("q_ok_first"))
  }

  test("timeQueries aborts on a JVM-fatal error: completed timings kept, later queries never run") {
    var ranLast = false
    var cleanups = 0
    val (timings, failed, fatal) = Bench.timeQueries(
      Seq(
        "q_ok_first" -> (() => ()),
        // synthetic, never allocation-driven: constructing and throwing an
        // OOM object is safe; timeQueries must still treat it as fatal
        "q_oom" -> (() => throw new OutOfMemoryError("forced fatal")),
        "q_never" -> (() => { ranLast = true })),
      cleanup = () => cleanups += 1)
    assert(fatal.contains("OutOfMemoryError at q_oom"), fatal.toString)
    assert(failed == Seq("q_oom"))
    // partial timings beat total loss: the completed + fatal entries flush
    assert(timings.map(_.name) == Seq("q_ok_first", "q_oom"))
    assert(!ranLast, "a query after the fatal error was still run")
    // no best-effort cleanup pass in a possibly-wedged JVM
    assert(cleanups == 1)
  }

  test("stealJiffies reads a cumulative non-negative counter on Linux, -1 where unavailable") {
    val s = Bench.stealJiffies()
    assert(s >= -1L)
    if (s >= 0) assert(Bench.stealJiffies() >= s, "steal counter must be monotonic")
  }

  test("stealTotalJson emits the run-total steal CPU-s, or nothing where unavailable") {
    def t(steal: Double) = Bench.Timing("q", 1.0, 1.0, steal)
    // the sum of the per-query steal_s: the timed window and nothing else
    assert(Bench.stealTotalJson(Seq(t(1.0), t(0.5))) == ""","steal_total":1.5000""")
    assert(Bench.stealTotalJson(Seq(t(0.0))) == ""","steal_total":0.0000""")
    // any query's steal unavailable: no field, never a partial sum
    assert(Bench.stealTotalJson(Seq(t(-1.0), t(2.5))) == "")
    assert(Bench.stealTotalJson(Seq(t(1.0), t(-1.0))) == "")
  }

  // --- per-query explanation: wall, process CPU-s, steal CPU-s ------------

  test("each timing carries process CPU-s that tells a busy query from a waiting one") {
    // the rule every Bench timing is read by: a wall that rises with flat
    // cpu_s and rising steal_s is a contended host; a wall that rises with
    // cpu_s is slower code. A spinner and a sleeper of the same wall must
    // therefore read far apart on cpu. Margins hold on a loaded 4-core box.
    def spin(): Unit = {
      val end = System.nanoTime() + 300000000L
      while (System.nanoTime() < end) ()
    }
    // no System.gc() cleanup between the two: the GC work it leaves
    // running concurrently reads as ~0.4 CPU-s in the sleeper's window
    val (timings, failed, fatal) = Bench.timeQueries(
      Seq("q_spin" -> (() => spin()), "q_sleep" -> (() => Thread.sleep(300))))
    assert(failed.isEmpty && fatal.isEmpty)
    assert(timings.map(_.name) == Seq("q_spin", "q_sleep"))
    val Seq(spinner, sleeper) = timings
    // the primary number is the timed wall
    assert(timings.forall(_.wall >= 0.3), timings.toString)
    assert(spinner.cpu >= 0.15 && spinner.cpu >= spinner.wall / 2, spinner.toString)
    assert(sleeper.cpu >= 0.0 && sleeper.cpu < 0.10, sleeper.toString)
    // steal is the per-query /proc/stat delta, or the -1 unavailable marker
    assert(timings.forall(t => t.steal >= 0.0 || t.steal == -1.0), timings.toString)
    // bench_out.json carries both per-query maps, keyed exactly like "queries"
    val line = s"""{"queries":{}${Bench.cpuStealJson(timings)}}"""
    def keysOf(field: String): Seq[String] = {
      val body = s""""$field":\\{([^}]*)\\}""".r.findFirstMatchIn(line)
        .getOrElse(fail(s"no $field in $line")).group(1)
      """"([^"]+)":""".r.findAllMatchIn(body).map(_.group(1)).toSeq
    }
    assert(keysOf("cpu_s") == Seq("q_spin", "q_sleep"), line)
    assert(keysOf("steal_s") == Seq("q_spin", "q_sleep"), line)
  }

  test("the stdout line keeps the slowest entries within 1700 chars and sums the rest") {
    // 198 names of the suite's real length (q_ + 10-24 chars) and distinct
    // times, so the slowest-first order is unambiguous
    val rnd = new scala.util.Random(7)
    val results = (1 to 198).map { i =>
      val name = "q_" + Seq.fill(10 + i % 15)(('a' + rnd.nextInt(26)).toChar).mkString + i
      name -> (rnd.nextInt(300000) / 10000.0 + i * 1e-4)
    }
    def lineOf(qs: String): String =
      s"""{"metric":"total","value":1234.5678,"unit":"sec","queries":$qs,"steal_total":12.3400,"sf":"/data/sf0.01"}"""
    val line = Bench.stdoutLine(results, lineOf)
    assert(line.length <= 1700, s"${line.length} chars")
    val entries = """"(q_[^"]+)":([0-9.]+)""".r.findAllMatchIn(line)
      .map(m => m.group(1) -> m.group(2).toDouble).toSeq
    val bySlowest = results.sortBy { case (k, v) => (-v, k) }
    assert(entries.nonEmpty && entries.length < results.length)
    assert(entries.map(_._1) == bySlowest.take(entries.length).map(_._1))
    val omitted = bySlowest.drop(entries.length)
    val rest = """"rest":([0-9.]+)""".r.findFirstMatchIn(line).get.group(1).toDouble
    assert(math.abs(rest - omitted.map(_._2).sum) <= 0.00005 + 1e-9, s"rest=$rest")
    assert(""""omitted":([0-9]+)""".r.findFirstMatchIn(line).get.group(1).toInt ==
      omitted.length, line)
    // entries that all fit print the full line, unaggregated
    val few = results.take(5)
    assert(Bench.stdoutLine(few, lineOf) ==
      lineOf(few.map { case (k, v) => "\"" + k + "\":" + "%.4f".formatLocal(java.util.Locale.ROOT, v) }
        .mkString("{", ",", "}")))
  }
}
