package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's recorder: one SparkListener plus one
  * QueryExecutionListener per session, installed idempotently (the
  * `SqlStrategy.setup` pattern). It keeps, in memory until the run ends:
  *
  *  - root SQL executions (one per Spark action) with their wall interval
  *    and, for writes, the output directory;
  *  - jobs with the benchmark op that submitted them (the `perfbench.op`
  *    local property) and their SQL execution;
  *  - per-stage task totals (run time, CPU, GC, shuffle, spill, scan and
  *    output bytes) and the stage interval;
  *  - per-action planning time from `qe.tracker` (analysis + optimization
  *    + planning), stamped with its start so it can be placed in an op.
  *
  * Ops are attributed by the local property, actions by SQL execution id,
  * so attribution never depends on when the asynchronous bus delivers.
  */
object Trace {
  val OpKey = "perfbench.op"

  final case class Exec(id: Long, start: Long, var end: Long, out: String)
  final case class Job(id: Int, op: String, exec: Long, stages: Seq[Int])
  final class StageTot(val id: Int) {
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
    var scan = 0L; var written = 0L; var submit = 0L; var complete = 0L
  }
  final case class Plan(start: Long, ms: Long)

  val execs = mutable.LinkedHashMap.empty[Long, Exec]
  val jobs = mutable.ArrayBuffer.empty[Job]
  val stages = mutable.LinkedHashMap.empty[Int, StageTot]
  val plans = mutable.ArrayBuffer.empty[Plan]
  private var installed = false

  /** The output directory of a write action: the first path argument of
    * its InsertIntoHadoopFsRelationCommand node.
    */
  private def writeTarget(p: org.apache.spark.sql.execution.SparkPlanInfo): Option[String] =
    if (p.nodeName.contains("InsertIntoHadoopFsRelationCommand"))
      "[a-z]+:/[^,\\s]+".r.findFirstIn(p.simpleString)
    else p.children.iterator.flatMap(writeTarget).nextOption()

  private object Listener extends SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart if s.rootExecutionId.forall(_ == s.executionId) =>
        val out = writeTarget(s.sparkPlanInfo)
        Trace.synchronized { execs(s.executionId) = Exec(s.executionId, s.time, -1L, out.getOrElse("")) }
      case s: SparkListenerSQLExecutionEnd =>
        Trace.synchronized { execs.get(s.executionId).foreach(_.end = s.time) }
      case _ =>
    }
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      val p = Option(j.properties)
      val op = p.flatMap(x => Option(x.getProperty(OpKey))).getOrElse("")
      val exec = p.flatMap(x => Option(x.getProperty("spark.sql.execution.root.id"))
          .orElse(Option(x.getProperty("spark.sql.execution.id"))))
        .map(_.toLong).getOrElse(-1L)
      Trace.synchronized { jobs += Job(j.jobId, op, exec, j.stageIds) }
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = Trace.synchronized {
      val t = stages.getOrElseUpdate(s.stageInfo.stageId, new StageTot(s.stageInfo.stageId))
      t.submit = s.stageInfo.submissionTime.getOrElse(0L)
      t.complete = s.stageInfo.completionTime.getOrElse(0L)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
      Trace.synchronized {
        val t = stages.getOrElseUpdate(e.stageId, new StageTot(e.stageId))
        t.tasks += 1; t.runMs += m.executorRunTime; t.cpuNs += m.executorCpuTime
        t.gcMs += m.jvmGCTime
        t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        t.scan += m.inputMetrics.bytesRead
        t.written += m.outputMetrics.bytesWritten
      }
    }
  }

  private object PlanListener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases.values
      if (ph.nonEmpty) Trace.synchronized {
        plans += Plan(ph.map(_.startTimeMs).min, ph.map(_.durationMs).sum)
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def setup(spark: SparkSession): Unit = synchronized {
    if (!installed) {
      spark.sparkContext.addSparkListener(Listener)
      spark.listenerManager.register(PlanListener)
      installed = true
    }
  }

  /** Runs `body` as benchmark op `op`: every job it submits carries the id. */
  def asOp[A](spark: SparkSession, op: String)(body: => A): A = {
    spark.sparkContext.setLocalProperty(OpKey, op)
    try body finally spark.sparkContext.setLocalProperty(OpKey, null)
  }

  /** Waits until the listener bus has delivered every posted event. */
  def drain(spark: SparkSession): Unit =
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  def json: String = synchronized {
    import Json._
    obj(
      "execs" -> arr(execs.values.toSeq.map(x =>
        obj("id" -> num(x.id), "start" -> num(x.start), "end" -> num(x.end), "out" -> str(x.out)))),
      "jobs" -> arr(jobs.toSeq.map(j =>
        obj("id" -> num(j.id), "op" -> str(j.op), "exec" -> num(j.exec),
          "stages" -> arr(j.stages.map(num(_)))))),
      "stages" -> arr(stages.values.toSeq.map(t =>
        obj("id" -> num(t.id), "tasks" -> num(t.tasks), "run_ms" -> num(t.runMs),
          "cpu_ns" -> num(t.cpuNs), "gc_ms" -> num(t.gcMs), "shuffle_read" -> num(t.shuffleRead),
          "shuffle_write" -> num(t.shuffleWrite), "spill" -> num(t.spill), "scan" -> num(t.scan),
          "written" -> num(t.written), "submit" -> num(t.submit), "complete" -> num(t.complete)))),
      "plans" -> arr(plans.toSeq.map(p => obj("start" -> num(p.start), "ms" -> num(p.ms)))))
  }
}

/** Minimal JSON rendering for the result file. */
object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
  def num(v: Long): String = v.toString
  def num(v: Int): String = v.toString
  def bool(v: Boolean): String = v.toString
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: (String, String)*): String = kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
