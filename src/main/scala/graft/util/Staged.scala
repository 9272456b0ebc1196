package graft.util

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.CacheBridge

/** The write-once staged-artifact recovery scaffold shared by every
  * `stage*` function (r12 review follow-through: eight call sites had
  * hand-copied this contract, so a future fix to the recovery behavior
  * could silently miss some of them).
  *
  * Contract: warehouse DATA outlives the in-memory catalog. If the table
  * is already registered, there is nothing to do. Otherwise a FINISHED
  * on-disk stage (`_SUCCESS` present) is re-registered as an external
  * table through the caller's DDL — the one-time build is never re-paid;
  * a PARTIAL (crashed) stage is swept so the caller rebuilds from scratch.
  * StagedArtifactsSpec exercises both branches (recovery re-register on
  * the co-purchase and shingle artifacts; sweep implicitly on every
  * fresh-build test that drops the table first).
  */
object Staged {

  def warehousePath(spark: SparkSession): Path =
    new Path(spark.conf.get("spark.sql.warehouse.dir"))

  def fsOf(spark: SparkSession): FileSystem =
    warehousePath(spark).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** On-disk location of a (possibly not yet registered) staged table.
    * Spark lowercases table identifiers when it writes managed data into
    * the warehouse, so the probe path must lowercase too (r12 advice): a
    * mixed-case name would probe a path that never exists, crash-recovery
    * would silently never fire, and the artifact would rebuild every
    * session.
    */
  def locOf(spark: SparkSession, table: String): Path =
    new Path(warehousePath(spark), table.toLowerCase(java.util.Locale.ROOT))

  /** A finished stage left by a previous JVM: data present AND complete. */
  def isComplete(spark: SparkSession, table: String): Boolean =
    fsOf(spark).exists(new Path(locOf(spark, table), "_SUCCESS"))

  /** Remove a partial (crashed) stage so the caller can rebuild. */
  def sweep(spark: SparkSession, table: String): Unit = {
    val fs = fsOf(spark)
    val loc = locOf(spark, table)
    if (fs.exists(loc)) fs.delete(loc, true)
  }

  /** Single-table scaffold: runs `build` (a fresh stage, or a swept
    * partial) unless the table is already registered or a finished on-disk
    * stage was just re-registered through `registerDdl` (which receives the
    * location string to interpolate into its `LOCATION` clause).
    */
  def stage(spark: SparkSession, table: String)
           (registerDdl: String => String)(build: => Unit): Unit =
    if (spark.catalog.tableExists(table)) ()
    else if (isComplete(spark, table)) spark.sql(registerDdl(locOf(spark, table).toString))
    else {
      sweep(spark, table)
      pinFree(spark, table)(build)
    }

  /** Pair scaffold for tables that stage-or-recover TOGETHER (the
    * bucketed-join and IVF pairs): runs `build`, which writes both, unless
    * both are registered or finished on disk; `register` re-registers ONE
    * named table from its finished on-disk stage (called once per missing
    * table).
    *
    * Closes the half-staged crash hole (r12 review): a crash between the
    * pair's two writes/registers leaves exactly one table in the catalog,
    * and a first-table-only probe would short-circuit forever while
    * consumers die on the missing second table. Recovery checks DISK
    * completeness FIRST: when both halves are finished on disk, only the
    * missing catalog entries are re-registered — a finished registered
    * half is never dropped, so no recoverable data is destroyed. Only a
    * genuinely partial pair (either half incomplete) is dropped back to
    * disk, swept, and rebuilt as a unit.
    */
  def stagePair(spark: SparkSession, a: String, b: String)
               (register: String => Unit)(build: => Unit): Unit = {
    val missing = Seq(a, b).filterNot(spark.catalog.tableExists)
    if (missing.isEmpty) ()
    else if (isComplete(spark, a) && isComplete(spark, b)) missing.foreach(register)
    else {
      // partial pair: drop any registered half (a managed drop deletes its
      // files, correctly failing a later completeness probe), sweep both,
      // rebuild as a unit
      Seq(a, b).filter(spark.catalog.tableExists)
        .foreach(t => spark.sql(s"DROP TABLE $t"))
      sweep(spark, a)
      sweep(spark, b)
      pinFree(spark, s"$a/$b")(build)
    }
  }

  /** A build is a one-time write, and it must leave the session's cache
    * with no more persisted relations than it found. A pin it leaves behind
    * has been materialized by the write, so every later plan in the session
    * that contains the pinned subtree reads it as an InMemoryRelation with
    * measured statistics, and a broadcast side can flip: the consumer would
    * plan one way after this JVM built the artifact and another after a
    * later JVM re-registered it. A build that breaks the rule fails here,
    * loudly, rather than shifting plans downstream.
    */
  private def pinFree(spark: SparkSession, what: String)(build: => Unit): Unit = {
    val before = CacheBridge.cachedEntries(spark)
    build
    val left = CacheBridge.cachedEntries(spark) - before
    require(left <= 0,
      s"staging $what left $left persisted relation(s) in the session cache; " +
        "unpersist what the build pinned once its write is done")
  }
}
