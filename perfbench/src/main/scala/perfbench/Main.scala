package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{Row, SparkSession}

import graft.SparkEntry
import graft.etl.{DailyIngest, FixedWidth, Sources}

/** The benchmark's JVM side: one fresh JVM per run, one client thread,
  * closed loop. `perfbench/run.py` generates the inputs, launches this with
  *
  *   perfbench.Main <workload> <inputDir> <workDir> <seed> <seconds> <trace> <result.json>
  *
  * and turns the result file into the benchmark's metrics. Every op's
  * output is fully materialised (`collect()` of every column of every row).
  */
object Main {

  /** The `queries` workload: (query, its `graft.ops` family, fixture).
    * POS reports run over the small sf0.01 fixture, as they do over the
    * small retained table in production; the dedup/knn analytics run over
    * sf0.1, where their joins and vector kernels do real work. Fixed lists,
    * so every seed runs the same program paths; the seed changes the data
    * and the warm order.
    */
  val Queries: Seq[(String, String, String)] =
    Seq("q_sales_daily", "q_kyakusu_daily", "q_sku_daily", "q_front_sales_daily",
        "q_promote_upsert", "q_sales_cube", "q_bucketed_join").map((_, "Relational", "sf0.01")) ++
    Seq(("q_dedup_simhash_capped", "Dedup", "sf0.1"), ("q_knn_bruteforce", "Similarity", "sf0.1"),
        ("q_knn_sq", "Similarity", "sf0.1"))

  /** The staged artifacts those queries read, built during set-up. */
  val Staged: Seq[(String, String, (SparkSession, String) => Any)] = Seq(
    ("stageBucketedTables", "sf0.01", (s, d) => graft.ops.Relational.stageBucketedTables(s, d)),
    ("stageSimhashFp", "sf0.1", (s, d) => graft.ops.Dedup.stageSimhashFp(s, d)))

  final case class Op(id: String, name: String, family: String, pass: Int, startMs: Long, wall: Double,
                      ok: Boolean, err: String, extra: Seq[(String, String)] = Nil)

  private val ops = scala.collection.mutable.ArrayBuffer.empty[Op]
  private val setup = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
  private val marks = scala.collection.mutable.ArrayBuffer.empty[(String, String)]

  /** Records a phase boundary of the run: JVM uptime and the janino
    * counters (compiled classes, compile nanoseconds) at that point.
    */
  private def mark(name: String): Unit = marks += name -> Json.obj(
    "uptime_s" -> Json.num(java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0),
    "compiles" -> Json.num(org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount),
    "compile_ns" -> Json.num(org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime))

  def main(args: Array[String]): Unit = {
    val Array(workload, inputDir, workDir, seedS, secondsS, traceS, resultFile) = args
    val trace = traceS == "1"
    val k = math.min(4, Runtime.getRuntime.availableProcessors)
    deleteTree(Paths.get(workDir))
    Files.createDirectories(Paths.get(workDir))
    if (workload == "daily_backfill") {
      val t = System.nanoTime()
      val built = dayZips(inputDir)
      setup += "zips" -> Json.str(if (built) "built" else "reused")
      setup += "zips_s" -> Json.num(secs(t))
    }
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$k]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", k.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.local.dir", s"$workDir/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (trace) Trace.setup(spark)
    setup += "session_s" -> Json.num(secs(t0))
    val body = workload match {
      case "daily_backfill" => backfill(spark, inputDir, workDir, secondsS.toDouble, trace)
      case "queries" => queries(spark, inputDir, workDir, seedS.toLong, secondsS.toDouble)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    if (trace) Trace.drain(spark)
    mark("end")
    val result = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "cores" -> Json.num(k),
      "setup" -> Json.obj(setup.toSeq: _*),
      "marks" -> Json.obj(marks.toSeq: _*),
      "ops" -> Json.arr(ops.toSeq.map(o => Json.obj(Seq(
        "id" -> Json.str(o.id), "name" -> Json.str(o.name), "family" -> Json.str(o.family), "pass" -> Json.num(o.pass),
        "start_ms" -> Json.num(o.startMs), "wall_s" -> Json.num(o.wall),
        "ok" -> Json.bool(o.ok), "err" -> Json.str(o.err)) ++ o.extra: _*))),
      "rss_peak_mb" -> Json.num(rssPeakMb()),
      "heap_live_mb" -> Json.num(heapLiveMb()),
      "trace" -> (if (trace) Trace.json else "null")) ++ body: _*)
    spark.stop()
    Files.writeString(Paths.get(resultFile), result)
  }

  // ---- query workloads ------------------------------------------------------

  def queries(spark: SparkSession, fixtures: String, workDir: String,
              seed: Long, seconds: Double): Seq[(String, String)] = {
    Staged.foreach { case (name, fx, stage) =>
      val t = System.nanoTime()
      stage(spark, s"$fixtures/$fx")
      setup += s"${name}_s" -> Json.num(secs(t))
    }
    spark.catalog.clearCache()
    System.gc()
    mark("setup")
    val reference = scala.collection.mutable.Map.empty[String, Seq[String]]
    val outDir = s"$workDir/out"
    def runOp(name: String, family: String, fx: String, pass: Int): Unit = {
      val id = s"$pass:$name"
      val startMs = System.currentTimeMillis()
      val t = System.nanoTime()
      val res = Trace.asOp(spark, id) {
        try {
          val df = SparkEntry.queries(name)(spark, s"$fixtures/$fx")
          Right((df.collect(), df.schema))
        } catch { case NonFatal(e) => Left(e) }
      }
      val wall = secs(t)
      val (ok, err) = res match {
        case Left(e) => (false, e.toString)
        case Right((rows, schema)) =>
          val sig = signature(rows)
          reference.get(name) match {
            case None =>
              // first pass: the DuckDB oracle checks this copy after the run
              reference(name) = sig
              spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
                .write.parquet(s"$outDir/$fx/$name")
              (true, "")
            case Some(ref) if ref == sig => (true, "")
            case Some(_) => (false, "warm result differs from the checked first result")
          }
      }
      ops += Op(id, name, family, pass, startMs, wall, ok, err)
      spark.catalog.clearCache()
      System.gc()
    }
    Queries.foreach { case (n, f, fx) => runOp(n, f, fx, 0) }
    mark("cold")
    val warm0 = System.nanoTime()
    var pass = 1
    while (pass <= 2 || secs(warm0) < seconds) {
      val rnd = new scala.util.Random(seed * 1000 + pass)
      rnd.shuffle(Queries).foreach { case (n, f, fx) => runOp(n, f, fx, pass) }
      pass += 1
    }
    Queries.groupBy(_._3).foreach { case (fx, qs) =>
      Files.writeString(Paths.get(s"$outDir/$fx/oracle_sql.json"),
        Json.obj(qs.map { case (n, _, _) => n -> Json.str(SparkEntry.oracleSql(n)) }: _*))
    }
    Seq("out_dir" -> Json.str(outDir))
  }

  /** Order-insensitive value signature of a result: rows rendered with
    * doubles at 12 significant digits (summation-order noise stays below
    * it), then sorted.
    */
  def signature(rows: Array[Row]): Seq[String] = {
    def render(v: Any): String = v match {
      case null => "<null>"
      case d: Double if d.isNaN || d.isInfinite => d.toString
      case d: Double => new java.math.BigDecimal(d).round(new java.math.MathContext(12)).toString
      case f: Float => render(f.toDouble)
      case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
      case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
      case x => x.toString
    }
    rows.iterator.map(render).toSeq.sorted
  }

  // ---- daily backfill -------------------------------------------------------

  def backfill(spark: SparkSession, inputDir: String, workDir: String, seconds: Double,
               trace: Boolean): Seq[(String, String)] = {
    val plan = readPlan(s"$inputDir/plan.json")
    val zips = plan.dates.map(d => Paths.get(s"$inputDir/zips").resolve(zipName(d)))
    require(zips.forall(Files.exists(_)), s"day files missing under $inputDir/zips")
    mark("setup")
    val notes = scala.collection.mutable.ArrayBuffer.empty[String]
    val t1 = System.nanoTime()
    var rep = 0
    var day = s"$workDir/daily"
    while (rep < 2 || secs(t1) < seconds) {
      day = s"$workDir/daily$rep"
      val drop = s"$day/drop"
      Files.createDirectories(Paths.get(drop))
      notes.clear()
      plan.runs.zipWithIndex.foreach { case (d, i) =>
        val zip = zips(d)
        Files.copy(zip, Paths.get(drop).resolve(zip.getFileName),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        val date = java.time.LocalDate.parse(plan.dates(d))
        val startMs = System.currentTimeMillis()
        val t = System.nanoTime()
        val res = Trace.asOp(spark, s"$rep:$i") {
          try Right(DailyIngest.run(spark, drop, date, s"$day/work", plan.retention,
            poster = p => { notes += Json.obj(p.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.str(v) }: _*); true }))
          catch { case NonFatal(e) => Left(e) }
        }
        val wall = secs(t)
        val written = bytesSince(Paths.get(s"$day/work"), startMs)
        val extra = Seq("file" -> Json.str(zip.getFileName.toString), "written" -> Json.num(written),
          "records" -> Json.num(res.fold(_ => 0L, _.totalRows)),
          "input_bytes" -> Json.num(res.fold(_ => 0L, _.totalBytes)),
          "redelivery" -> Json.bool(plan.runs.take(i).contains(d))) ++
          (if (trace) directCalls(spark, zip, s"$day/work") else Nil)
        ops += Op(s"$rep:$i", s"day:${plan.dates(d)}", "etl", rep, startMs, wall, res.isRight,
          res.fold(_.toString, _ => ""), extra)
        if (rep == 0 && i == 0) mark("cold")
      }
      rep += 1
    }
    Seq("work_dir" -> Json.str(s"$day/work"), "drop_dir" -> Json.str(s"$day/drop"),
      "notifications" -> Json.arr(notes.toSeq))
  }

  /** Traced run only, untimed: the read and parse layers called directly on
    * the day file, materialised, plus the final table's size after the day.
    */
  private def directCalls(spark: SparkSession, zip: Path, work: String): Seq[(String, String)] = {
    import org.apache.spark.sql.functions.col
    val t = System.nanoTime()
    val txt = Sources.readZipText(spark, zip.toString).collect()
    val readS = secs(t)
    val t2 = System.nanoTime()
    val df = spark.createDataFrame(txt.toSeq.asJava, Sources.readZipText(spark, zip.toString).schema)
      .withColumn("business_date", Sources.filenameDate(col("path")))
    val parsed = FixedWidth.parseRecord(FixedWidth.explodeFixedWidth(df, "text"), "record",
      FixedWidth.LineitemLayout, keep = Seq("business_date"))
    parsed.collect()
    val parseS = secs(t2)
    val retained = spark.read.parquet(s"$work/final").count()
    Seq("read_s" -> Json.num(readS), "parse_s" -> Json.num(parseS), "retained_rows" -> Json.num(retained))
  }

  final case class Plan(dates: Seq[String], runs: Seq[Int], retention: Int)

  private def readPlan(file: String): Plan = {
    val j = new com.fasterxml.jackson.databind.ObjectMapper().readTree(new java.io.File(file))
    Plan(j.get("dates").elements.asScala.map(_.asText).toSeq,
      j.get("runs").elements.asScala.map(_.asInt).toSeq, j.get("retention_days").asInt)
  }

  private def zipName(date: String): String = {
    val ymd = date.replace("-", "")
    s"R520.${ymd}_013000.${ymd}013000.zip"
  }

  /** One `R520.<yyyyMMdd>_*.zip` per business date under `<inputDir>/zips`,
    * its single member the day's rows as 520-char records laid out by
    * `FixedWidth.LineitemLayout` (zero-padded numbers, space-padded text,
    * yyyyMMdd dates, as `FixedWidth.formatRecord` writes them). Built before
    * the Spark session exists, so a run that builds the files and one that
    * reuses them start measuring from the same state. Returns whether the
    * files were built.
    */
  private def dayZips(inputDir: String): Boolean = {
    val dates = readPlan(s"$inputDir/plan.json").dates
    val dir = Paths.get(s"$inputDir/zips")
    if (dates.forall(d => Files.exists(dir.resolve(zipName(d))))) return false
    val lines = Files.readAllLines(Paths.get(s"$inputDir/days.tsv")).asScala
    val header = lines.head.split("\t").zipWithIndex.toMap
    val byDay = lines.tail.map(_.split("\t")).groupBy(r => r(header("day")).toInt)
    val tmp = Paths.get(s"$inputDir/zips.tmp")
    deleteTree(tmp)
    Files.createDirectories(tmp)
    dates.indices.foreach { d =>
      val name = zipName(dates(d))
      val out = new java.util.zip.ZipOutputStream(Files.newOutputStream(tmp.resolve(name)))
      out.putNextEntry(new java.util.zip.ZipEntry(name.stripSuffix(".zip") + ".txt"))
      byDay.getOrElse(d, Nil).foreach { r =>
        val rec = FixedWidth.LineitemLayout.map { f =>
          val v = r(header(f.name))
          f.kind match {
            case "long" => v.reverse.padTo(f.len, '0').reverse
            case "str" => v.padTo(f.len, ' ')
            case "date" => v.replace("-", "")
          }
        }.mkString.padTo(FixedWidth.RecordWidth, ' ')
        out.write(rec.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
      out.closeEntry()
      out.close()
    }
    deleteTree(dir)
    Files.move(tmp, dir)
    true
  }

  // ---- helpers ---------------------------------------------------------------

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Bytes of the files under `root` modified at or after `sinceMs`. */
  private def bytesSince(root: Path, sinceMs: Long): Long =
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.iterator.asScala.filter(Files.isRegularFile(_))
        .filter(p => Files.getLastModifiedTime(p).toMillis >= sinceMs)
        .map(Files.size).sum
      finally s.close()
    }

  /** Heap still in use after a full collection: what the session retains.
    * Collected twice, half a second apart, so the blocks Spark's cleaner
    * frees after the first collection (broadcasts of the last op) are gone.
    */
  private def heapLiveMb(): Double = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private def rssPeakMb(): Double =
    try {
      val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala.find(_.startsWith("VmHWM:"))
      line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
    } catch { case NonFatal(_) => -1.0 }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator.asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
    }
}
