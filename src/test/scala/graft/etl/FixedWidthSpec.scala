package graft.etl

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** T1/T3 semantics from the reference: 520-char segmentation with short tail
  * kept (/root/reference/main.py:409-412, 560-565) and order-preserving
  * pack-of-1000 with final partial group (main.py:414-423).
  */
class FixedWidthSpec extends SparkSpec {
  import FixedWidth._

  private def explode520(s: String, width: Int = 520): Seq[String] = {
    import spark.implicits._
    val df = Seq(s).toDF("t")
    explodeFixedWidth(df, "t", width = width)
      .orderBy("rec_idx").select("record").collect().map(_.getString(0)).toSeq
  }

  test("parseField long overflow returns null, matching try_cast-to-long (19+ digit fields)") {
    import graft.plans.FixedWidthParseExplode.parseField
    def parseLong(s: String): Any = {
      val b = s.getBytes("UTF-8")
      parseField(b, 0, b.length, 'l')
    }
    // boundary values parse exactly
    assert(parseLong(Long.MaxValue.toString) == Long.MaxValue)
    assert(parseLong(Long.MinValue.toString) == Long.MinValue)
    assert(parseLong("  42 ") == 42L)
    // one past the boundary overflows -> null (try_cast semantics), never a
    // silently wrapped value
    assert(parseLong("9223372036854775808") == null)
    assert(parseLong("-9223372036854775809") == null)
    assert(parseLong("99999999999999999999") == null)
    // and the Spark-side equivalence the generator claims: try_cast agrees
    import spark.implicits._
    val vals = Seq(Long.MaxValue.toString, Long.MinValue.toString,
      "9223372036854775808", "-9223372036854775809", "99999999999999999999", "7")
    val viaCast = vals.toDF("s").selectExpr("try_cast(s AS long)")
      .collect().map(r => if (r.isNullAt(0)) null else r.getLong(0))
    val viaParse = vals.map(parseLong)
    assert(viaParse.zip(viaCast).forall { case (a, b) => a == b },
           s"parseField=$viaParse try_cast=${viaCast.toSeq}")
  }

  test("exact multiple: n x 520 chars -> n records, all width 520") {
    for (n <- Seq(0, 1, 3)) {
      val s = "ab" * 260 * n // 520*n chars
      val recs = explode520(s)
      assert(recs.length == n)
      assert(recs.forall(_.length == 520))
    }
  }

  test("short tail is kept with its own length (main.py:560-565)") {
    val s = ("x" * 520) + ("y" * 137)
    val recs = explode520(s)
    assert(recs.length == 2)
    assert(recs(0) == "x" * 520)
    assert(recs(1) == "y" * 137)
  }

  test("tail shorter than width alone") {
    val recs = explode520("hello")
    assert(recs == Seq("hello"))
  }

  test("property: concat(explode(s)) == s and count == ceil(len/w)") {
    // seeded generator — property-style sweep without an external bridge dep
    val rnd = new scala.util.Random(42)
    for (_ <- 0 until 60) {
      val w = 1 + rnd.nextInt(17)
      val s = rnd.alphanumeric.take(rnd.nextInt(400)).mkString
      val recs = explode520(s, w)
      assert(recs.mkString == s, s"w=$w len=${s.length}")
      assert(recs.length == math.ceil(s.length.toDouble / w).toInt)
      assert(recs.dropRight(1).forall(_.length == w))
    }
  }

  test("generator splits on char boundaries for multi-byte UTF-8") {
    // 2- and 3-byte chars: width counts CHARS, never bytes (parity with
    // Python str slicing in the reference, main.py:411)
    val s = "é中a" * 10 // 30 chars, 60 bytes
    val recs = explode520(s, 7)
    assert(recs.mkString == s)
    assert(recs.length == math.ceil(30.0 / 7).toInt)
    assert(recs.dropRight(1).forall(_.length == 7))
  }

  test("generator output equals the declarative sliceRecords expression") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val alnum = (0 until 20).map(_ => rnd.alphanumeric.take(rnd.nextInt(2000)).mkString)
    // 2-, 3- and 4-byte (non-BMP, surrogate-pair) chars mixed with ASCII:
    // both sides must cut on code points and keep the short tail
    val pool = Seq("a", "Z", "7", " ", "é", "中", "\u20ac", "\ud83d\ude00", "\ud800\udf48")
    val multibyte = (0 until 20).map(_ =>
      Seq.fill(rnd.nextInt(500))(pool(rnd.nextInt(pool.length))).mkString)
    val df = (alnum ++ multibyte).zipWithIndex.toDF("t", "id")
    def rows(d: org.apache.spark.sql.DataFrame): Seq[(Int, Int, String)] =
      d.select("id", "rec_idx", "record").as[(Int, Int, String)].collect().toSeq.sorted
    val viaExpr = rows(df.select(col("id"),
      posexplode(sliceRecords(col("t"), 37)).as(Seq("rec_idx", "record"))))
    val viaGen = rows(explodeFixedWidth(df, "t", width = 37))
    assert(viaExpr.map(_._3).exists(r => r.exists(_ > 0x7f)))
    assert(viaGen == viaExpr)
  }

  test("pack preserves order and emits final partial group") {
    import spark.implicits._
    val df = (0 until 25).map(i => ("g", i, f"$i%03d")).toDF("g", "i", "rec")
    val packed = pack(df, col("rec"), Seq("g"), Seq("i"), n = 10)
      .orderBy("pack_id").select("packed").collect().map(_.getString(0))
    assert(packed.length == 3)
    assert(packed(0) == (0 until 10).map(i => f"$i%03d").mkString)
    assert(packed(1) == (10 until 20).map(i => f"$i%03d").mkString)
    assert(packed(2) == (20 until 25).map(i => f"$i%03d").mkString)
  }

  test("pack ordering survives adversarial partitioning") {
    import spark.implicits._
    val df = (0 until 100).map(i => ("g", i, f"<$i%04d>")).toDF("g", "i", "rec")
      .repartition(7) // scramble physical order
    val packed = pack(df, col("rec"), Seq("g"), Seq("i"), n = 30)
      .orderBy("pack_id").select("packed").collect().map(_.getString(0))
    assert(packed.mkString == (0 until 100).map(i => f"<$i%04d>").mkString)
  }

  test("packScalable (two-phase global row-number) equals the window pack") {
    import spark.implicits._
    val df = (0 until 257).map(i => (s"g${i % 3}", i, f"[$i%05d]"))
      .toDF("g", "i", "rec").repartition(7)
    val a = packWindow(df, col("rec"), Seq("g"), Seq("i"), n = 25)
      .orderBy("g", "pack_id").collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    // 5 buckets / pinned partitions: not the session's 4
    val parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "5")
    val b =
      try packScalable(df, col("rec"), Seq("g"), Seq("i"), n = 25)
        .orderBy("g", "pack_id").collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
      finally spark.conf.set("spark.sql.shuffle.partitions", parts)
    assert(a.toSeq == b.toSeq)
  }

  test("adaptive pack: forced-scalable route equals the window pack on multi-column keys") {
    import spark.implicits._
    val df = (0 until 300).map(i => (s"k${i % 2}", s"m${i % 5}", i, f"(${i}%04d)"))
      .toDF("k", "m", "i", "rec").repartition(9)
    val a = packWindow(df, col("rec"), Seq("k", "m"), Seq("i"), n = 17)
      .orderBy("k", "m", "pack_id").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getString(3)))
    // the route the probe takes past WindowMaxRowsPerKey, forced
    val b = packScalable(df, col("rec"), Seq("k", "m"), Seq("i"), n = 17)
      .orderBy("k", "m", "pack_id").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getString(3)))
    assert(a.toSeq == b.toSeq)
    // and the default probe picks the window path for small keys — same rows
    val c = pack(df, col("rec"), Seq("k", "m"), Seq("i"), n = 17)
      .orderBy("k", "m", "pack_id").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getString(3)))
    assert(c.toSeq == a.toSeq)
  }

  test("scalable pack row numbers (KeyedOffsetRunningSum): interpreted eval equals the codegen path") {
    import spark.implicits._
    val df = (0 until 201).map(i => (s"g${i % 3}", i, f"[$i%05d]"))
      .toDF("g", "i", "rec").repartition(6)
    def run(): Seq[(String, Long, String)] =
      packScalable(df, col("rec"), Seq("g"), Seq("i"), n = 20)
        .orderBy("g", "pack_id").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq
    val withCodegen = run()
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try assert(run() == withCodegen)
    finally {
      spark.conf.unset("spark.sql.codegen.wholeStage")
      spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }

  test("format/parse roundtrip on the lineitem layout") {
    import spark.implicits._
    val row = Seq((42L, 3L, 7L, 9L, 1250L, 99999L, 500L, 25L, "R", "F",
                   java.sql.Date.valueOf("1997-03-15")))
      .toDF("f_orderkey", "f_linenumber", "f_sku", "f_suppkey", "f_qty_cents",
            "f_price_cents", "f_discount_bp", "f_tax_bp", "f_returnflag",
            "f_linestatus", "f_shipdate")
    val rec = row.select(formatRecord(LineitemLayout).as("record"))
    assert(rec.select(length(col("record"))).head.getInt(0) == 520)
    val back = parseRecord(rec, "record", LineitemLayout).head()
    assert(back.getLong(0) == 42L && back.getLong(1) == 3L)
    assert(back.getLong(4) == 1250L && back.getLong(5) == 99999L)
    assert(back.getString(8) == "R" && back.getString(9) == "F")
    assert(back.getDate(10) == java.sql.Date.valueOf("1997-03-15"))
  }

  test("pack over a record expression equals pack over a materialized column") {
    import graft.ops.Ingestion
    val typed = Ingestion.lineitemTyped(spark, sf0001)
    val viaExpr = pack(typed, formatRecord(LineitemLayout),
        partCols = Seq("f_returnflag"), orderCols = Seq("f_orderkey", "f_linenumber"))
      .orderBy("f_returnflag", "pack_id").collect().map(_.toSeq).toSeq
    val viaCol = pack(
        typed.withColumn("record", formatRecord(LineitemLayout)),
        col("record"),
        partCols = Seq("f_returnflag"), orderCols = Seq("f_orderkey", "f_linenumber"))
      .orderBy("f_returnflag", "pack_id").collect().map(_.toSeq).toSeq
    assert(viaExpr == viaCol)
    // and the forced scalable route, whose prefix-sum scaffold must carry
    // the expression's source columns through its narrow pre-jobs
    val viaExprScalable = packScalable(typed, formatRecord(LineitemLayout),
        partCols = Seq("f_returnflag"), orderCols = Seq("f_orderkey", "f_linenumber"))
      .orderBy("f_returnflag", "pack_id").collect().map(_.toSeq).toSeq
    assert(viaExprScalable == viaCol)
  }

  test("fused parse generator equals explode + declarative parse (adversarial records)") {
    import spark.implicits._
    // a tiny layout covering every kind and every null edge
    val layout = Seq(
      FieldSpec("a_num", 0, 4, "long"),
      FieldSpec("b_str", 4, 6, "str"),
      FieldSpec("c_date", 10, 8, "date"),
      FieldSpec("d_num", 18, 2, "long"))
    val w = 20
    val recs = Seq(
      "0042hello 2024031507",        // clean full record
      "  -7x&y   2024023199",        // negative long, invalid date (Feb 31)
      "12a4      20240315  ",        // garbage digits -> null long, spaces tail
      "9999ééé   20231231 5",  // multibyte in str field
      "0001ab")                      // short tail: cut mid-str, date/d absent
    val packed = Seq(recs.mkString).toDF("t")
    val fused = explodeParseFixedWidth(packed, "t", layout, width = w)
      .orderBy("pos").drop("pos").collect().map(_.toSeq).toSeq
    val unfused = parseRecord(
        explodeFixedWidth(Seq(recs.mkString).toDF("t"), "t", width = w)
          .orderBy("rec_idx"),
        "record", layout)
      .collect().map(_.toSeq).toSeq
    assert(fused == unfused, s"\nfused  =$fused\nunfused=$unfused")
    // and on the real lineitem roundtrip at fixture scale
    val packedLi = pack(
      graft.ops.Ingestion.lineitemRecords(spark, sf0001), col("record"),
      partCols = Seq("f_returnflag"), orderCols = Seq("f_orderkey", "f_linenumber"))
    val viaFused = explodeParseFixedWidth(packedLi.select("packed"), "packed", LineitemLayout)
      .groupBy("f_returnflag").agg(
        count(lit(1)).as("n"), sum("f_qty_cents").as("q"),
        countDistinct("f_orderkey").as("o"), max("f_shipdate").as("d"))
      .orderBy("f_returnflag").collect().map(_.toSeq).toSeq
    val viaUnfused = parseRecord(
        explodeFixedWidth(packedLi.select("packed"), "packed"), "record", LineitemLayout)
      .groupBy("f_returnflag").agg(
        count(lit(1)).as("n"), sum("f_qty_cents").as("q"),
        countDistinct("f_orderkey").as("o"), max("f_shipdate").as("d"))
      .orderBy("f_returnflag").collect().map(_.toSeq).toSeq
    assert(viaFused == viaUnfused)
  }
}
