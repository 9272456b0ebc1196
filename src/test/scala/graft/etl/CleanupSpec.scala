package graft.etl

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** G2 cleanup-job semantics (daily_cleanup.py:19-79): partition-drop
  * retention with a data-derived asOf, success/failure notifications
  * through the never-throws sink, and kept data left untouched.
  */
class CleanupSpec extends SparkSpec {

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toFile.getAbsolutePath

  /** 10 days of data, one row per day, date-partitioned. */
  private def writeTable(dir: String): Unit = {
    import spark.implicits._
    val df = (1 to 10).map(d => (f"2024-01-$d%02d", d)).toDF("business_date", "v")
      .withColumn("business_date", to_date(col("business_date")))
    Sinks.writeDatePartitioned(df, "business_date", dir)
  }

  /** (relative path -> (length, modification time)) for every data file. */
  private def fileState(dir: String): Map[String, (Long, Long)] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(new java.io.File(dir))
      .map(f => f.getAbsolutePath.stripPrefix(dir) -> (f.length(), f.lastModified()))
      .toMap
  }

  test("partition drop: expired days deleted, kept partitions byte-untouched, asOf from dir names, success notified") {
    val dir = tmpDir("cleanup") + "/sales"
    writeTable(dir)
    val keptBefore = fileState(dir).filter { case (p, _) =>
      (6 to 10).exists(d => p.contains(f"business_date=2024-01-$d%02d"))
    }
    val posts = scala.collection.mutable.ArrayBuffer.empty[Map[String, String]]
    // asOf is None: derived as 2024-01-10 from the partition directory names
    val res = Cleanup.run(spark, dir, "business_date", asOf = None, days = 4,
      poster = m => { posts += m; true })
    assert(res.partitionDrop)
    assert(res.deletedRows == 5 && res.droppedPartitions == 5) // 01..05 < 06 (exclusive)
    val days = spark.read.parquet(dir).select("business_date").distinct()
      .collect().map(_.getDate(0).toString).sorted.toSeq
    assert(days == (6 to 10).map(d => f"2024-01-$d%02d"))
    // kept partition files were never read-modified or rewritten
    val keptAfter = fileState(dir).filter { case (p, _) =>
      (6 to 10).exists(d => p.contains(f"business_date=2024-01-$d%02d"))
    }
    assert(keptAfter == keptBefore, "kept partitions must be byte-identical")
    assert(posts.size == 1 && posts.head("Subject").contains("succeeded"))
    assert(posts.head("Body").contains("5"), "deleted rowcount reported")
  }

  test("failure path: failure notification sent, original exception re-raised") {
    val posts = scala.collection.mutable.ArrayBuffer.empty[Map[String, String]]
    intercept[Exception] {
      Cleanup.run(spark, tmpDir("cleanupfail") + "/does_not_exist", "business_date",
        poster = m => { posts += m; true })
    }
    assert(posts.size == 1 && posts.head("Subject").contains("FAILED"))
  }

  test("notification failure never masks the cleanup result (poster throws)") {
    val dir = tmpDir("cleanupnp") + "/sales"
    writeTable(dir)
    val res = Cleanup.run(spark, dir, "business_date", days = 4,
      poster = _ => throw new RuntimeException("mail server down"))
    assert(res.deletedRows == 5)
  }

  test("empty/unparseable partitioned table fails fast deriving asOf (no NPE)") {
    val dir = tmpDir("cleanupempty") + "/sales"
    new java.io.File(s"$dir/business_date=notadate").mkdirs()
    val posts = scala.collection.mutable.ArrayBuffer.empty[Map[String, String]]
    val e = intercept[IllegalArgumentException] {
      Cleanup.run(spark, dir, "business_date", poster = m => { posts += m; true })
    }
    assert(e.getMessage.contains("cannot derive asOf"))
    assert(posts.size == 1 && posts.head("Subject").contains("FAILED"))
  }

  test("non-partitioned fallback: staged rewrite + swap, result counts match") {
    import spark.implicits._
    val dir = tmpDir("cleanupflat") + "/flat"
    (1 to 10).map(d => (f"2024-01-$d%02d", d)).toDF("business_date", "v")
      .withColumn("business_date", to_date(col("business_date")))
      .write.parquet(dir) // NOT date-partitioned
    val res = Cleanup.run(spark, dir, "business_date", days = 4)
    assert(!res.partitionDrop)
    assert(res.deletedRows == 5)
    assert(spark.read.parquet(dir).count() == 5)
    // exclusive bound: 01-05 < asOf − 4d = 01-06 is deleted, 01-06 is kept
    val days = spark.read.parquet(dir).select(col("business_date").cast("string"))
      .collect().map(_.getString(0)).sorted.toSeq
    assert(days == (6 to 10).map(d => f"2024-01-$d%02d"))
    assert(!new java.io.File(dir + "_retained").exists(), "staging dir swapped away")
  }
}
