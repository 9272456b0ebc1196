package graft.etl

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Sink semantics (SURVEY.md §2.4): archive move layout + idempotence (K3,
  * main.py:353-398), exclusive retention bound (K5, daily_cleanup.py:30),
  * observed run metrics + never-throws notification (K4/T6/T7).
  */
class SinksSpec extends SparkSpec {

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toFile.getAbsolutePath

  test("archive move: Daily/YYYY/YYYYMMDD layout, source deleted, idempotent (main.py:366-398)") {
    val work = tmpDir("archive")
    val src = s"$work/R520.20240115_000000.20240115000000.zip"
    Files.writeString(java.nio.file.Paths.get(src), "payload")
    val dst = Sinks.archiveFile(spark, src, s"$work/backup")
    assert(dst.endsWith("/backup/Daily/2024/20240115/R520.20240115_000000.20240115000000.zip"))
    assert(new java.io.File(dst.stripPrefix("file:")).exists())
    assert(!new java.io.File(src).exists())
    // second call with destination present: no-op, no error (main.py:375)
    Files.writeString(java.nio.file.Paths.get(src), "payload2")
    Sinks.archiveFile(spark, src, s"$work/backup")
    assert(new java.io.File(src).exists(), "existing destination must skip the move")
  }

  test("archive move rejects filenames without a date at [5:13] (main.py:358-364)") {
    val work = tmpDir("archive2")
    val src = s"$work/badname.zip"
    Files.writeString(java.nio.file.Paths.get(src), "x")
    intercept[IllegalArgumentException] {
      Sinks.archiveFile(spark, src, s"$work/backup")
    }
  }

  test("retentionDropPartitions tolerates an empty expired partition dir (interrupted prior delete)") {
    import spark.implicits._
    val out = tmpDir("retentionempty") + "/t"
    val df = (6 to 10).map(d => (f"2024-01-$d%02d", d)).toDF("business_date", "v")
      .withColumn("business_date", to_date(col("business_date")))
    Sinks.writeDatePartitioned(df, "business_date", out)
    // leftover of a previously interrupted delete: expired dir, no data files
    new java.io.File(s"$out/business_date=2024-01-02").mkdirs()
    // one expired dir WITH data
    Seq(("2024-01-03", 1)).toDF("business_date", "v")
      .withColumn("business_date", to_date(col("business_date")))
      .write.mode("append").partitionBy("business_date").parquet(out)
    val (rows, parts) = Sinks.retentionDropPartitions(
      spark, out, "business_date", java.sql.Date.valueOf("2024-01-10"))
    assert(rows == 1 && parts == 2) // counted only the data dir; deleted both
    assert(!new java.io.File(s"$out/business_date=2024-01-02").exists())
    assert(!new java.io.File(s"$out/business_date=2024-01-03").exists())
    assert(spark.read.parquet(out).count() == 5)
  }

  test("compaction rewrites only fragmented partitions; content identical, compliant days untouched") {
    import spark.implicits._
    val out = tmpDir("compact") + "/t"
    // day 1: fragmented (8 files); day 2: compliant (1 file)
    (1 to 80).map(v => ("2024-01-01", v)).toDF("business_date", "v")
      .withColumn("business_date", to_date(col("business_date")))
      .repartition(8).write.partitionBy("business_date").parquet(out)
    (1 to 5).map(v => ("2024-01-02", v)).toDF("business_date", "v")
      .withColumn("business_date", to_date(col("business_date")))
      .coalesce(1).write.mode("append").partitionBy("business_date").parquet(out)
    def files(day: String) = new java.io.File(s"$out/business_date=$day").listFiles()
      .filter(f => f.isFile && f.length > 0 && !f.getName.startsWith("_") && !f.getName.startsWith("."))
    val day2Before = files("2024-01-02").map(f => (f.getName, f.length, f.lastModified)).toSet
    val sumBefore = spark.read.parquet(out).agg(sum("v")).head.getLong(0)
    val (nParts, before, after) = Sinks.compactDatePartitions(
      spark, out, "business_date", maxFiles = 4)
    assert(nParts == 1 && before == 8 && after < 8)
    assert(files("2024-01-01").length.toLong == after)
    // compliant partition byte-untouched; content conserved
    assert(files("2024-01-02").map(f => (f.getName, f.length, f.lastModified)).toSet == day2Before)
    assert(spark.read.parquet(out).agg(sum("v")).head.getLong(0) == sumBefore)
    // idempotent: second pass finds nothing fragmented
    assert(Sinks.compactDatePartitions(spark, out, "business_date", maxFiles = 4)._1 == 0)
  }

  test("compaction entry sweep recovers a partition stranded as a dot-aside by a mid-swap crash") {
    import spark.implicits._
    val out = tmpDir("compactcrash") + "/t"
    (1 to 40).map(v => ("2024-01-01", v)).toDF("business_date", "v")
      .withColumn("business_date", to_date(col("business_date")))
      .repartition(8).write.partitionBy("business_date").parquet(out)
    // simulate the crash window: partition renamed aside, staged copy orphaned
    val part = new java.io.File(s"$out/business_date=2024-01-01")
    val old = new java.io.File(s"$out/.business_date=2024-01-01_old")
    assert(part.renameTo(old))
    new java.io.File(s"$out/.business_date=2024-01-01_compact").mkdirs()
    val (nParts, _, _) = Sinks.compactDatePartitions(spark, out, "business_date", maxFiles = 4)
    assert(nParts == 1, "recovered partition must then compact")
    assert(!old.exists() && part.exists(), "stranded aside must be renamed back")
    assert(!new java.io.File(s"$out/.business_date=2024-01-01_compact").exists())
    assert(spark.read.parquet(out).agg(sum("v")).head.getLong(0) == (1 to 40).sum.toLong)
  }

  test("swap-window aside is invisible to a concurrent reader's partition discovery") {
    import spark.implicits._
    val out = tmpDir("swapvisible") + "/t"
    Seq(("2024-01-01", 1), ("2024-01-02", 2)).toDF("business_date", "v")
      .withColumn("business_date", to_date(col("business_date")))
      .write.partitionBy("business_date").parquet(out)
    // mid-swap state: one partition moved aside under the dot-prefixed name
    val part = new java.io.File(s"$out/business_date=2024-01-02")
    assert(part.renameTo(new java.io.File(s"$out/.business_date=2024-01-02_old")))
    // a plain `business_date=2024-01-02_old` sibling here would either fail
    // discovery or widen the partition column to string; the dot-aside must
    // leave the reader a clean date-typed view of the live partitions
    val seen = spark.read.parquet(out)
    assert(seen.schema("business_date").dataType.typeName == "date")
    assert(seen.select("v").collect().map(_.getInt(0)).toSeq == Seq(1))
  }

  test("replaceDir recovers the dot-aside after a crash between the two renames — never deletes the only copy") {
    val work = tmpDir("swapcrash")
    def write(path: String, content: String): Unit = {
      new java.io.File(path).mkdirs()
      Files.writeString(java.nio.file.Paths.get(s"$path/data.txt"), content)
    }
    // simulated crash state: dst renamed aside, new table never moved in
    write(s"$work/.t_old", "the only live copy")
    // next run fails before staging src: recovery must still restore dst
    intercept[IllegalArgumentException] {
      Sinks.replaceDir(spark, s"$work/staged_missing", s"$work/t")
    }
    assert(Files.readString(java.nio.file.Paths.get(s"$work/t/data.txt"))
      == "the only live copy", "crashed swap must be rolled back, not deleted")
    assert(!new java.io.File(s"$work/.t_old").exists())
    // same crash state but with a staged src: recovery then a full swap
    val work2 = tmpDir("swapcrash2")
    write(s"$work2/.t_old", "old")
    write(s"$work2/staged", "new")
    Sinks.replaceDir(spark, s"$work2/staged", s"$work2/t")
    assert(Files.readString(java.nio.file.Paths.get(s"$work2/t/data.txt")) == "new")
    assert(!new java.io.File(s"$work2/.t_old").exists())
    assert(!new java.io.File(s"$work2/staged").exists())
    // stale _old (dst live) is cleared, normal swap semantics intact
    val work3 = tmpDir("swapstale")
    write(s"$work3/t", "live")
    write(s"$work3/.t_old", "stale")
    write(s"$work3/staged", "newer")
    Sinks.replaceDir(spark, s"$work3/staged", s"$work3/t")
    assert(Files.readString(java.nio.file.Paths.get(s"$work3/t/data.txt")) == "newer")
    assert(!new java.io.File(s"$work3/.t_old").exists())
  }

  test("K1: JDBC sink roundtrips through embedded Derby with batchsize=150 (main.py:53,213-262)") {
    import spark.implicits._
    val url = "jdbc:derby:memory:graft_k1;create=true"
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    val df = (1 to 400).map(i => (i.toLong, s"record_$i")).toDF("id", "payload")
    Sinks.jdbcWriter(df, url, "raw_files_data_daily", props)
    val back = spark.read.jdbc(url, "raw_files_data_daily", props)
    assert(back.count() == 400)
    assert(back.agg(org.apache.spark.sql.functions.sum("id")).head.getLong(0) == 400L * 401 / 2)
    // append mode: a second write adds, never replaces (at-least-once, C3)
    Sinks.jdbcWriter(df.limit(10), url, "raw_files_data_daily", props)
    assert(spark.read.jdbc(url, "raw_files_data_daily", props).count() == 410)
  }

  test("C3: jdbcUpsert replays the same batch with no duplicate rows (staged MERGE, exactly-once)") {
    import spark.implicits._
    val url = "jdbc:derby:memory:graft_c3;create=true"
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    val batch = (1 to 300).map(i => (i.toLong, s"sku_$i", i * 10L)).toDF("id", "sku", "qty")
    Sinks.jdbcUpsert(batch, url, "t_day_sku_upsert", Seq("id"), props)
    val once = spark.read.jdbc(url, "t_day_sku_upsert", props)
    assert(once.count() == 300)
    // full-batch replay (the crash-recovery path): zero new rows, values intact
    Sinks.jdbcUpsert(batch, url, "t_day_sku_upsert", Seq("id"), props)
    val twice = spark.read.jdbc(url, "t_day_sku_upsert", props)
    assert(twice.count() == 300, "replayed batch must not duplicate rows")
    assert(twice.agg(sum("qty")).head.getLong(0) == (1 to 300).map(_ * 10L).sum)
    // corrected re-run: matched keys update, new keys insert
    val amended = Seq((1L, "sku_1", 999L), (301L, "sku_301", 3010L)).toDF("id", "sku", "qty")
    Sinks.jdbcUpsert(amended, url, "t_day_sku_upsert", Seq("id"), props)
    val after = spark.read.jdbc(url, "t_day_sku_upsert", props)
    assert(after.count() == 301)
    assert(after.filter(col("id") === 1L).head.getLong(2) == 999L)
    // staging table is dropped after promotion
    val names = spark.read.jdbc(url, "SYS.SYSTABLES", props)
      .select("TABLENAME").as[String].collect().map(_.toLowerCase)
    assert(!names.contains("t_day_sku_upsert_stage"), "staging table must be dropped")
  }

  test("observed metrics count rows and payload bytes in one pass (T6/T7)") {
    import spark.implicits._
    val df = Seq("ab", "cde", "").toDF("payload")
    val (observed, rowsBytes) = Notify.observed(df, "payload")
    observed.write.format("noop").mode("overwrite").save()
    val (rows, bytes) = rowsBytes()
    assert(rows == 3 && bytes == 5)
  }

  test("retry: exponential 2^n backoff, re-raise after max attempts (main.py:213-262)") {
    val delays = scala.collection.mutable.ArrayBuffer.empty[Long]
    var calls = 0
    val r = graft.util.Retry.withBackoff(maxRetries = 3, baseDelayMs = 10, sleep = delays += _) {
      calls += 1
      if (calls < 3) throw new RuntimeException("transient")
      "ok"
    }
    assert(r == "ok" && calls == 3)
    assert(delays.toSeq == Seq(10L, 20L)) // 2^0, 2^1
    var calls2 = 0
    intercept[RuntimeException] {
      graft.util.Retry.withBackoff(maxRetries = 2, baseDelayMs = 1, sleep = _ => ()) {
        calls2 += 1; throw new RuntimeException("permanent")
      }
    }
    assert(calls2 == 3) // initial + 2 retries, then re-raise
  }

  test("notification payload honors the failure flag (fixes §4.4-e) and notify never throws") {
    val ok = Notify.RunMetrics("R520.x.zip", isFileFailed = false, "", 100, 2097152, 90)
    val bad = ok.copy(isFileFailed = true, errorMessage = "boom")
    assert(Notify.payload(ok, "a@x", "b@x")("Subject").contains("succeeded"))
    assert(Notify.payload(bad, "a@x", "b@x")("Subject").contains("FAILED"))
    assert(Notify.payload(ok, "a@x", "b@x")("Body").contains("2.0 MB"))
    assert(!Notify.notify(bad, "a@x", "b@x")(_ => throw new RuntimeException("down")))
    assert(Notify.notify(ok, "a@x", "b@x")(_ => true))
  }
}
