package graft.etl

import org.apache.hadoop.fs.{FileSystem, FileUtil, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Sinks — the reference's write surface (SURVEY.md §2.4):
  *
  *  - K1 JDBC batch insert: 150-row array-bound batches
  *    (/root/reference/main.py:53, 213-262) → the stock JDBC writer with
  *    `batchsize=150`; Spark task retries replace the hand-rolled
  *    exponential backoff (main.py:250). Parquet is the offline stand-in
  *    (no database in this environment): same DataFrame, different format.
  *  - K3 file archive: copy → verify → delete-source = move into
  *    `Daily/<YYYY>/<YYYYMMDD>/<name>` (main.py:353-398, layout :366-368),
  *    idempotent when the destination exists (main.py:375).
  *  - K5 retention delete (daily_cleanup.py:19-79): strictly-exclusive
  *    `business_date < asOf − days` drop. On the date-partitioned layout
  *    it is a pure partition drop ([[retentionDropPartitions]], no data
  *    rewrite of kept days); [[Cleanup.run]] owns the filter + staged
  *    rewrite fallback for a non-partitioned table.
  *
  * Delivery semantics (SURVEY.md §2.5 C3): JDBC append is at-least-once —
  * exactly-once requires staging to storage and an idempotent MERGE, which
  * is what [[graft.ops.Relational.tempFinalPromotion]] models.
  */
object Sinks {

  val JdbcBatchSize = 150 // main.py:53

  /** K1: the JDBC writer, configured like the reference's insert path.
    * Caller supplies url/table/properties; `batchsize` and append mode are
    * pinned here.
    */
  def jdbcWriter(df: DataFrame, url: String, table: String,
                 props: java.util.Properties = new java.util.Properties()): Unit = {
    props.setProperty("batchsize", JdbcBatchSize.toString)
    df.write.mode(SaveMode.Append).jdbc(url, table, props)
  }

  /** C3 exactly-once JDBC delivery: the staged idempotent MERGE the plain
    * append (at-least-once under task/run replay) cannot give.
    *
    * Protocol: (1) overwrite a staging table `<table>_stage` with the batch
    * through the stock distributed JDBC writer; (2) one driver-side
    * key-matched `MERGE` statement promotes staging into the final table —
    * a single SQL statement, so the database applies it atomically; (3)
    * drop staging. Replaying the whole batch after ANY crash point is safe:
    * before the MERGE the final table is untouched; after it, the re-run's
    * MERGE matches every key and updates rows to the values they already
    * hold. Requires `keyCols` to be unique within the batch (standard MERGE
    * rejects two source rows hitting one target row).
    *
    * Scale: the data path is the parallel JDBC writer (batchsize
    * [[JdbcBatchSize]]); the driver only issues DDL/MERGE strings, never
    * rows. Run under the table's single-flight lock like the daily ingest —
    * the deterministic staging name assumes one writer per table.
    */
  def jdbcUpsert(df: DataFrame, url: String, table: String, keyCols: Seq[String],
                 props: java.util.Properties = new java.util.Properties()): Unit = {
    require(keyCols.nonEmpty && keyCols.forall(df.columns.contains),
      s"keyCols ${keyCols.mkString(",")} must be columns of the batch")
    val staging = table + "_stage"
    val stageProps = new java.util.Properties()
    stageProps.putAll(props)
    stageProps.setProperty("batchsize", JdbcBatchSize.toString)
    df.write.mode(SaveMode.Overwrite).jdbc(url, staging, stageProps)

    // the Spark JDBC writer creates staging columns as QUOTED identifiers
    // (case-sensitive); the MERGE must quote to match
    def q(c: String) = "\"" + c + "\""
    val cols = df.columns.toSeq
    val nonKey = cols.filterNot(keyCols.contains)
    val onClause = keyCols.map(k => s"t.${q(k)} = s.${q(k)}").mkString(" AND ")
    val matched =
      if (nonKey.isEmpty) ""
      else "WHEN MATCHED THEN UPDATE SET " +
           nonKey.map(c => s"${q(c)} = s.${q(c)}").mkString(", ") + " "
    val merge =
      s"MERGE INTO $table t USING $staging s ON $onClause " + matched +
      s"WHEN NOT MATCHED THEN INSERT (${cols.map(q).mkString(", ")}) " +
      s"VALUES (${cols.map(c => s"s.${q(c)}").mkString(", ")})"

    Option(props.getProperty("driver")).foreach(Class.forName)
    val conn = java.sql.DriverManager.getConnection(url, props)
    try {
      val meta = conn.getMetaData.getTables(null, null, null, Array("TABLE"))
      var exists = false
      while (!exists && meta.next())
        exists = meta.getString("TABLE_NAME").equalsIgnoreCase(table)
      val st = conn.createStatement()
      try {
        if (!exists) st.executeUpdate(
          s"CREATE TABLE $table AS SELECT * FROM $staging WITH NO DATA")
        st.executeUpdate(merge)
        st.executeUpdate(s"DROP TABLE $staging")
      } finally st.close()
    } finally conn.close()
  }

  /** Date-partitioned parquet sink — the offline K1 stand-in and the layout
    * that makes K5 a partition drop. Repartitions by the partition column
    * first so each task writes one partition directory (no small-file
    * explosion at scale).
    */
  def writeDatePartitioned(df: DataFrame, dateCol: String, outDir: String): Unit =
    df.repartition(col(dateCol))
      .write.mode(SaveMode.Overwrite)
      .partitionBy(dateCol)
      .parquet(outDir)

  /** K3: archive move `src` → `<backupDir>/Daily/<YYYY>/<YYYYMMDD>/<name>`
    * (layout main.py:366-368). Copy, then delete source on success —
    * skipped idempotently if the destination already exists (main.py:375,
    * 395-396). The business date comes from the filename (chars [5:13],
    * main.py:360); malformed names raise.
    */
  def archiveFile(spark: SparkSession, src: String, backupDir: String): String = {
    val name = src.split("/").last
    val yyyymmdd = name.slice(5, 13)
    require(yyyymmdd.matches("\\d{8}"), s"no yyyyMMdd at [5:13] of $name")
    val dst = s"$backupDir/Daily/${yyyymmdd.take(4)}/$yyyymmdd/$name"
    val conf = spark.sparkContext.hadoopConfiguration
    val srcPath = new Path(src)
    val dstPath = new Path(dst)
    val fs = FileSystem.get(srcPath.toUri, conf)
    if (!fs.exists(dstPath)) {
      fs.mkdirs(dstPath.getParent)
      FileUtil.copy(fs, srcPath, fs, dstPath, /*deleteSource=*/ false, conf)
      require(fs.exists(dstPath), s"archive copy failed: $dst")
      fs.delete(srcPath, false)
    }
    dst
  }

  /** Aside name for [[replaceDir]]'s swap: DOT-prefixed on the last path
    * segment (`.name_old`), so that when `dst` is a `date=X` partition
    * directory, a concurrent reader's partition discovery ignores the
    * aside during the swap window — a visible `date=X_old` sibling is an
    * unparseable partition value that can fail the scan or widen the
    * inferred partition-column type to string (the single-flight lock
    * serializes writers, not readers).
    */
  private[etl] def asidePath(dstP: Path): Path =
    if (dstP.getParent == null) new Path("." + dstP.getName + "_old")
    else new Path(dstP.getParent, "." + dstP.getName + "_old")

  /** Directory swap that never deletes the only live copy: rename the
    * current `dst` aside to `.<dst>_old` ([[asidePath]]), rename `src` into
    * place, then drop the old copy. A crash mid-swap leaves the data
    * recoverable under the aside or `src` (a delete-then-rename swap has a
    * window where the production table simply vanishes).
    *
    * Leftover aside handling is state-dependent: if `dst` exists, the aside
    * is stale from a prior completed swap and is cleared; if `dst` is
    * MISSING, the prior run crashed between rename(dst→aside) and
    * rename(src→dst) — the aside is the ONLY live copy and is renamed back
    * into place (recovered) before this swap proceeds. Deleting it
    * unconditionally would silently lose the table in exactly that crash
    * window.
    */
  def replaceDir(spark: SparkSession, src: String, dst: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val srcP = new Path(src)
    val dstP = new Path(dst)
    val oldP = asidePath(dstP)
    val fs = srcP.getFileSystem(conf)
    if (fs.exists(oldP)) {
      if (fs.exists(dstP)) fs.delete(oldP, true) // prior swap completed: stale
      else require(fs.rename(oldP, dstP),        // crash window: recover
        s"recover $oldP -> $dst failed")
    }
    // validate the source BEFORE moving dst aside — otherwise a missing src
    // would strand the live table under `_old` (the very window recovered
    // above)
    require(fs.exists(srcP), s"replaceDir source $src does not exist")
    val hadDst = fs.exists(dstP)
    if (hadDst) require(fs.rename(dstP, oldP), s"rename $dst -> $oldP failed")
    require(fs.rename(srcP, dstP), s"rename $src -> $dst failed")
    if (hadDst) fs.delete(oldP, true)
  }

  /** Small-file compaction for the date-partitioned layout — the
    * operational complement of [[retentionDropPartitions]] at scale: daily
    * appends and promotes accumulate files per partition, and scan cost at
    * 100 TB is dominated by file-open overhead once partitions fragment.
    * Each partition whose file count exceeds `maxFiles` is rewritten alone
    * (read -> coalesce to ceil(bytes/targetBytes) files -> staged dir ->
    * atomic [[replaceDir]] swap); compliant partitions are NEVER read or
    * touched, so cost is O(fragmented data) only, and a crash mid-compact
    * loses nothing: entry first sweeps crash leftovers — a `.<part>_old`
    * aside whose base partition is missing is the only live copy (crash
    * between the two swap renames) and is renamed back; a stale aside
    * beside a live partition and any orphaned staged dir are cleared.
    * Returns (partitionsCompacted, filesBefore, filesAfter).
    *
    * Concurrency: run under the table's single-flight lock
    * ([[graft.util.SingleFlight.tryLocked]], as `DailyIngest.runLocked`
    * does) — a writer appending to a partition between the compaction read
    * and its swap would have those rows replaced away. Multi-writer safety
    * beyond one lock is transactional-table-format territory, out of scope
    * here (SURVEY.md §7.6).
    */
  def compactDatePartitions(spark: SparkSession, tableDir: String,
                            dateCol: String, maxFiles: Int = 4,
                            targetBytes: Long = 128L * 1024 * 1024): (Long, Long, Long) = {
    val root = new Path(tableDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return (0L, 0L, 0L)
    val prefix = dateCol + "="
    // crash-leftover sweep (see scaladoc): asides are dot-prefixed
    // (`.date=X_old`, see [[asidePath]]) so partition discovery never saw
    // them mid-swap; the sweep matches that naming
    fs.listStatus(root).iterator.filter(_.isDirectory).foreach { s =>
      val n = s.getPath.getName
      if (n.startsWith("." + prefix) && n.endsWith("_old")) {
        val base = new Path(root, n.stripPrefix(".").stripSuffix("_old"))
        if (!fs.exists(base)) require(fs.rename(s.getPath, base),
          s"recover ${s.getPath} -> $base failed") // only live copy
        else fs.delete(s.getPath, true)            // stale from completed swap
      } else if (n.startsWith("." + prefix) && n.endsWith("_compact")) {
        fs.delete(s.getPath, true)                 // orphaned staging copy
      }
    }
    var compacted = 0L; var before = 0L; var after = 0L
    fs.listStatus(root).iterator
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(prefix))
      .foreach { part =>
        val dataFiles = fs.listStatus(part.getPath).filter { f =>
          val n = f.getPath.getName
          f.isFile && f.getLen > 0 && !n.startsWith("_") && !n.startsWith(".")
        }
        if (dataFiles.length > maxFiles) {
          val bytes = dataFiles.map(_.getLen).sum
          val nOut = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
          val staged = new Path(part.getPath.getParent,
            "." + part.getPath.getName + "_compact")
          spark.read.parquet(part.getPath.toString)
            .repartition(nOut)
            .write.mode(SaveMode.Overwrite).parquet(staged.toString)
          replaceDir(spark, staged.toString, part.getPath.toString)
          compacted += 1
          before += dataFiles.length
          after += nOut
        }
      }
    (compacted, before, after)
  }

  /** K5 at scale: TRUE partition drop. On a table laid out as
    * `tableDir/dateCol=YYYY-MM-DD/…`, delete only the directories whose
    * date is `< asOf - days` (exclusive bound, daily_cleanup.py:30). Kept
    * partitions' files are never read, rewritten, or touched — retention
    * cost is O(expired data), not O(table). Returns (deletedRows,
    * deletedPartitions); the deleted rowcount (reported by the reference's
    * cleanup email, daily_cleanup.py:35-49) is counted from the expired
    * directories only, before deletion.
    */
  def retentionDropPartitions(spark: SparkSession, tableDir: String,
                              dateCol: String, asOf: java.sql.Date,
                              days: Int = 4): (Long, Long) = {
    val cutoff = asOf.toLocalDate.minusDays(days)
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(tableDir)
    val fs = root.getFileSystem(conf)
    if (!fs.exists(root)) return (0L, 0L)
    val prefix = dateCol + "="
    val expired = fs.listStatus(root).iterator
      .filter(_.isDirectory)
      .map(_.getPath)
      .filter(_.getName.startsWith(prefix))
      .filter { p =>
        val v = p.getName.stripPrefix(prefix)
        scala.util.Try(java.time.LocalDate.parse(v)).toOption.exists(_.isBefore(cutoff))
      }
      .toSeq
    if (expired.isEmpty) return (0L, 0L)
    // An expired dir may hold no data files (leftover of a previously
    // interrupted delete); including it in the counting read throws
    // "unable to infer schema" and would wedge every later cleanup run.
    // Count only dirs with data; delete all expired dirs either way.
    def hasDataFiles(p: Path): Boolean = {
      val it = fs.listFiles(p, true)
      var found = false
      while (!found && it.hasNext) {
        val f = it.next()
        val n = f.getPath.getName
        found = f.getLen > 0 && !n.startsWith("_") && !n.startsWith(".")
      }
      found
    }
    val withData = expired.filter(hasDataFiles)
    val nDeleted =
      if (withData.isEmpty) 0L
      else spark.read
        .option("basePath", tableDir)
        .parquet(withData.map(_.toString): _*)
        .count()
    expired.foreach(p => fs.delete(p, true))
    (nDeleted, expired.size.toLong)
  }
}
