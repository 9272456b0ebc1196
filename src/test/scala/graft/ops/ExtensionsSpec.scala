package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Unit coverage for the north-star extension ops (SURVEY.md §2.8) beyond
  * the DuckDB-oracle gate: structural properties the hash-compare can't
  * express (recall, subset relations, stub behavior).
  */
class ExtensionsSpec extends AnyFunSuite with SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("redactPii: span boundaries, pattern order, and non-matches") {
    import spark.implicits._
    val out = Seq(
        "mail a@b.com mid 10.1.2.3 id 123456789 end",
        "no pii here",
        // '@' without a dot-TLD is not an email; 8 digits is below the
        // 9-digit id floor; 999.999.999.999 matches the IPv4 SHAPE (the
        // pattern is a scrub heuristic, not a validator — documented)
        "x@y frag 999.999.999.999 12345678",
        // word boundaries: digits embedded in letters are not ids
        "ab123456789cd stays")
      .toDF("text")
      .select(TextAnalysis.redactPii(col("text")).as("r"))
      .collect().map(_.getString(0)).toSeq
    assert(out == Seq(
      "mail <EMAIL> mid <IP> id <ID> end",
      "no pii here",
      "x@y frag <IP> 12345678",
      "ab123456789cd stays"))
  }

  test("minhash LSH candidates recall the planted near-dups found by exact jaccard") {
    val exact = Dedup.ngramJaccard(spark, dir)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLsh(spark, dir)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // LSH output is a subset of the exact result (same threshold), and with
    // 4 bands x 3 rows at jaccard>=0.5 expected recall is >80% on planted dups.
    assert(lsh.subsetOf(exact))
    if (exact.nonEmpty)
      assert(lsh.size.toDouble / exact.size >= 0.5,
             s"LSH recall ${lsh.size}/${exact.size} below 0.5")
  }

  test("simhash banding is COMPLETE at the guaranteed Hamming radius (bands-1)") {
    // The 4-band pigeonhole guarantees every pair within Hamming <=
    // HammingMax = SimHashBands - 1 shares >=1 exact band. Verify at the
    // fingerprint level: for the strong-jaccard pairs, exactly those within
    // the radius must be recalled — banding may add other low-distance
    // pairs, but can never miss one inside the guarantee.
    val fps = Dedup.simhashFingerprints(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val jac = Dedup.ngramJaccard(spark, dir)
      .filter(col("jaccard") >= 0.9)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(jac.nonEmpty)
    val withinRadius = jac.filter { case (a, b) =>
      java.lang.Long.bitCount(fps(a) ^ fps(b)) <= Dedup.HammingMax
    }.toSet
    val sim = Dedup.simhash(spark, dir)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(withinRadius.subsetOf(sim),
           s"simhash banding missed in-radius pairs ${withinRadius.diff(sim)}")
    // and the verify filter never emits beyond the radius
    val maxHam = Dedup.simhash(spark, dir)
      .agg(org.apache.spark.sql.functions.max("hamming")).head().getInt(0)
    assert(maxHam <= Dedup.HammingMax)
  }

  test("capped simhash: strict subset of uncapped, cap actually fires, radius still enforced") {
    val uncapped = Dedup.simhash(spark, dir)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = Dedup.simhashCapped(spark, dir)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // dropping hot buckets can only LOSE candidate pairs, never invent them
    assert(capped.subsetOf(uncapped))
    // MaxBandDF is calibrated to fire at fixture scale (hot buckets exist),
    // so the capped set must be strictly smaller — a vacuous no-op cap
    // would silently stop testing the removal path
    assert(capped.size < uncapped.size,
           s"cap did not fire: capped=${capped.size} uncapped=${uncapped.size}")
    assert(capped.nonEmpty)
    // recall loss is partial: pairs with a non-hot shared band survive
    assert(capped.size.toDouble / uncapped.size >= 0.5,
           s"capped recall ${capped.size}/${uncapped.size} below 0.5")
    val maxHam = Dedup.simhashCapped(spark, dir)
      .agg(org.apache.spark.sql.functions.max("hamming")).head().getInt(0)
    assert(maxHam <= Dedup.HammingMax)
  }

  test("IVF ANN results are a subset of the brute-force candidate space with bounded recall loss") {
    val bf = Similarity.knnBruteForce(spark, dir)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.knnIvf(spark, dir)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ivf.nonEmpty)
    val recall = bf.intersect(ivf).size.toDouble / bf.size
    // embeddings are near-random at fixture scale, so IVF recall is modest;
    // assert the pipeline finds a meaningful fraction and never exceeds k.
    assert(recall > 0.05, s"IVF recall $recall suspiciously low")
    val perQuery = ivf.groupBy(_._1).map(_._2.size)
    assert(perQuery.forall(_ <= Similarity.TopK))
  }

  test("lloyd refinement rebalances hot cells under clustered data, deterministically") {
    import spark.implicits._
    // Two direction clusters; BOTH seeds sit inside cluster X, so the seed
    // assignment lumps all of cluster Y plus half of X into one hot cell.
    val xs = (100 to 149).map(i => (i.toLong, Array(1.0, (i - 125) / 100.0, 0.0, 0.0)))
    val ys = (200 to 249).map(i => (i.toLong, Array(0.1, 1.0, (i % 5) * 0.01, 0.0)))
    val vecs = (xs ++ ys).toDF("vec_id", "v")
      .withColumn("nv", Similarity.norm(col("v")))
    val seeds = Seq((1L, Array(1.0, 0.1, 0.0, 0.0)), (2L, Array(1.0, -0.1, 0.0, 0.0)))
      .toDF("cent_id", "cv").withColumn("nc", Similarity.norm(col("cv")))
    def cellSizes(cents: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      Similarity.assignCells(vecs, cents)
        .groupBy("cell").count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val before = cellSizes(seeds)
    assert(before.values.max >= 75, s"fixture must start skewed, got $before")
    // one Lloyd step pulls the hot seed toward cluster Y's mass: Y and X
    // separate into their own cells
    val refined = Similarity.refinedCentroids(vecs, seeds)
    val after = cellSizes(refined)
    assert(after.values.max <= 55, s"hot cell must split after refinement, got $after")
    assert(after.values.sum == 100L)
    // exact integer accumulation: bit-identical centroids under any partitioning
    def centSet(df: org.apache.spark.sql.DataFrame) =
      df.select("cent_id", "cv").collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toList)).toSet
    assert(centSet(refined) == centSet(Similarity.refinedCentroids(vecs.repartition(7), seeds)))
  }

  test("PQ ANN: shortlist covers the exact top-k meaningfully; self excluded; k per query") {
    val bf = Similarity.knnBruteForce(spark, dir)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = Similarity.knnPq(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    assert(pq.nonEmpty)
    assert(pq.forall { case (q, n, _, _) => q != n })
    pq.groupBy(_._1).foreach { case (_, g) =>
      assert(g.length == Similarity.TopK)
      assert(g.map(_._3).sorted.toSeq == (1 to Similarity.TopK))
    }
    // re-rank is exact cosine, so every reported sim must match the
    // brute-force sim for the same pair when the pair is in the truth set
    val recall = pq.map(t => (t._1, t._2)).toSet.intersect(bf).size.toDouble / bf.size
    assert(recall > 0.05, s"PQ recall $recall suspiciously low")
  }

  test("IVF-PQ composition: well-formed per-query top-k with recall against brute force") {
    val bf = Similarity.knnBruteForce(spark, dir)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val rows = Similarity.knnIvfPq(spark, dir)
      .select("query_id", "neighbor_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(rows.nonEmpty)
    // every query emits a dense 1..k (or shorter) rank sequence
    for ((_, g) <- rows.groupBy(_._1))
      assert(g.map(_._3).sorted.toSeq == (1 to g.length) && g.length <= Similarity.TopK)
    // the composition inherits BOTH approximations (cell pruning + code
    // quantization), so recall is bounded by the IVF candidate cut; assert
    // it still finds a meaningful fraction on near-random fixtures
    val recall = rows.map(t => (t._1, t._2)).toSet.intersect(bf).size.toDouble / bf.size
    assert(recall > 0.05, s"IVF-PQ recall $recall suspiciously low")
  }

  test("vec_dot codegen expression is bit-identical to the HOF fold it replaced") {
    import spark.implicits._
    // adversarial magnitudes: double addition is order-sensitive, so bit
    // equality here proves the loop accumulates strictly left-to-right
    // like aggregate(zip_with(...)) and DuckDB's list_dot_product
    val vecs = Seq(
      (Array(1e16, 1.0, -1e16, 3.5), Array(1.0, 1e-3, 1.0, 2.0)),
      (Array(0.1, 0.2, 0.3, 0.4), Array(-0.4, 0.3, -0.2, 0.1)),
      (Array.empty[Double], Array.empty[Double]),
      (Array(math.Pi, math.E, 1e-300, 1e300), Array(math.E, math.Pi, 1e300, 1e-300)))
      .toDF("a", "b")
    val hof = vecs.select(
      aggregate(zip_with(col("a"), col("b"), (x, y) => x * y), lit(0.0), (acc, x) => acc + x))
      .collect().map(_.getDouble(0))
    val native = vecs.select(Similarity.dot(col("a"), col("b")))
      .collect().map(_.getDouble(0))
    assert(native.map(java.lang.Double.doubleToLongBits).toSeq ==
           hof.map(java.lang.Double.doubleToLongBits).toSeq)
    // the Column constructor itself agrees too
    val viaColumn = vecs.select(graft.plans.VecDot.column(col("a"), col("b")))
      .collect().map(_.getDouble(0))
    assert(viaColumn.map(java.lang.Double.doubleToLongBits).toSeq ==
           hof.map(java.lang.Double.doubleToLongBits).toSeq)
  }

  test("vec_dot propagates a null ELEMENT to a null sum (HOF parity), not a silent 0.0") {
    import spark.implicits._
    val rows = Seq(
      (Seq[java.lang.Double](1.0, null, 3.0), Seq[java.lang.Double](1.0, 2.0, 3.0)),
      (Seq[java.lang.Double](1.0, 2.0), Seq[java.lang.Double](3.0, 4.0)))
      .toDF("a", "b")
    val hof = rows.select(
      aggregate(zip_with(col("a"), col("b"), (x, y) => x * y), lit(0.0), (acc, x) => acc + x))
      .collect().map(r => if (r.isNullAt(0)) null else r.getDouble(0))
    val native = rows.select(Similarity.dot(col("a"), col("b")))
      .collect().map(r => if (r.isNullAt(0)) null else r.getDouble(0))
    assert(native.toSeq == hof.toSeq)
    assert(native(0) == null && native(1) == 11.0)
  }

  test("vec_dot nulls on unequal lengths (HOF parity) in both codegen paths") {
    import spark.implicits._
    // non-nullable-element schema (Array[Double] → containsNull=false):
    // exercises the tight-loop codegen branch
    val dense = Seq(
      (Array(1.0, 2.0, 3.0), Array(4.0, 5.0)),
      (Array(1.0, 2.0), Array(3.0, 4.0)))
      .toDF("a", "b")
    // nullable-element schema: exercises the fused-loop branch
    val boxed = Seq(
      (Seq[java.lang.Double](1.0, 2.0, 3.0), Seq[java.lang.Double](4.0, 5.0)),
      (Seq[java.lang.Double](1.0, 2.0), Seq[java.lang.Double](3.0, 4.0)))
      .toDF("a", "b")
    for (df <- Seq(dense, boxed)) {
      val hof = df.select(
        aggregate(zip_with(col("a"), col("b"), (x, y) => x * y), lit(0.0), (acc, x) => acc + x))
        .collect().map(r => if (r.isNullAt(0)) null else r.getDouble(0))
      val native = df.select(Similarity.dot(col("a"), col("b")))
        .collect().map(r => if (r.isNullAt(0)) null else r.getDouble(0))
      assert(native.toSeq == hof.toSeq)
      assert(native(0) == null && native(1) == 11.0)
    }
  }

  test("semdedup drops planted exact duplicates and conserves counts") {
    val tmp = java.nio.file.Files.createTempDirectory("semdedup").toFile.getAbsolutePath
    val base = spark.read.parquet(s"$dir/embeddings.parquet")
    val maxId = base.agg(max("vec_id")).head().getLong(0)
    // plant exact copies under fresh HIGHER ids: an identical vector gets an
    // identical (deterministic) cell assignment, so each copy shares a cell
    // with its twin at cosine 1.0 and the greedy keep-min rule must drop it
    val dups = base.filter(col("vec_id") % 17 === 0)
      .withColumn("vec_id", col("vec_id") + lit(maxId + 1))
    val nPlanted = dups.count()
    base.union(dups).write.parquet(s"$tmp/embeddings.parquet")
    val res = Similarity.semDedup(spark, tmp).collect()
    val dropped = res.map(_.getAs[Long]("n_dropped")).sum
    val vecs = res.map(_.getAs[Long]("n_vecs")).sum
    val kept = res.map(_.getAs[Long]("n_kept")).sum
    assert(vecs == base.count() + nPlanted)
    assert(kept + dropped == vecs)
    assert(dropped >= nPlanted, s"only $dropped dropped, planted $nPlanted")
  }

  test("brute-force knn: self excluded, exactly k per query, sim within [-1,1]") {
    val rows = Similarity.knnBruteForce(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    assert(rows.nonEmpty)
    assert(rows.forall { case (q, n, _) => q != n })
    assert(rows.forall { case (_, _, s) => s >= -1.0000001 && s <= 1.0000001 })
    rows.groupBy(_._1).foreach { case (_, g) => assert(g.length == Similarity.TopK) }
  }

  test("exact dedup: removed + distinct == total per source") {
    Dedup.dedupExact(spark, dir).collect().foreach { r =>
      assert(r.getAs[Long]("n_docs") ==
        r.getAs[Long]("n_distinct") + r.getAs[Long]("n_removed"))
    }
  }

  test("embedding decontamination: planted eval copy flagged, orthogonal vec not; fixture non-vacuous") {
    import spark.implicits._
    // id 0 is eval (0 % EvalStride == 0); id 1 duplicates it (cos 1.0 →
    // flagged), id 2 is orthogonal (cos 0 → clean)
    val df = Seq(
      (0L, Array(1f, 0f, 0f), 7),
      (1L, Array(1f, 0f, 0f), 7),
      (2L, Array(0f, 1f, 0f), 8)
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.embedDecontAudit(df).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    // id 1 flags against eval id 0; id 0 itself has no OTHER eval partner,
    // so it stays unflagged — the eval item is not its own contamination
    assert(out(7) == (2L, 1L), s"eval copy not flagged: $out")
    assert(out(8) == (1L, 0L), s"orthogonal vec flagged: $out")
    // fixture: the flag path must bite somewhere at the tuned threshold
    val fixture = Similarity.decontaminationEmbed(spark, dir).collect()
    assert(fixture.map(_.getLong(2)).sum > 0,
      "flag threshold vacuous on the fixture — no label has any flagged vector")
  }

  test("incremental minhash: nonempty, sides respect the split, pairs agree with full LSH") {
    val inc = Dedup.minhashIncremental(spark, dir).collect()
    assert(inc.nonEmpty, "no cross-boundary near-dups found (planted dups should straddle the split)")
    val full = Dedup.minhashLsh(spark, dir).collect()
      .map(r => Set(r.getLong(0), r.getLong(1)) -> r.getDouble(5)).toMap
    for (r <- inc) {
      val (h, n) = (r.getLong(0), r.getLong(1))
      assert(h % 10 < 8 && n % 10 >= 8, s"pair ($h, $n) violates the history/batch split")
      // same bands, same verify: a cross-boundary pair found incrementally
      // must exist in the full self-join's output with the same jaccard
      assert(full.get(Set(h, n)).contains(r.getDouble(5)),
        s"pair ($h, $n) missing or differs in the full LSH output")
    }
    spark.catalog.clearCache()
  }

  test("staged IVF index: results identical to in-memory IVF, probes prune partitions") {
    val staged = Similarity.knnIvfStaged(spark, dir)
    val mem = Similarity.knnIvf(spark, dir).collect().toSeq
    assert(staged.collect().toSeq == mem,
      "staged-layout IVF diverges from the in-memory pipeline")
    // the cell-partitioned scan must carry a dynamic pruning predicate on
    // the partition column — the read-side payoff of the staged layout
    val plan = staged.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"no dynamic partition pruning on the staged cells scan:\n${plan.take(4000)}")
    spark.catalog.clearCache()
  }

  test("multimodal feature extraction: REAL png decode round-trips byte stats") {
    import spark.implicits._
    val items = Multimodal.mediaTable(spark, dir).as[Multimodal.MediaItem]
    val feats = Multimodal.extractFeatures(items).collect()
    assert(feats.nonEmpty)
    assert(feats.exists(_.format == "png"), "fixture must include png-format rows")
    feats.foreach { f =>
      assert(f.n_bytes > 0)
      if (f.format == "png") {
        // content was genuinely PNG-encoded (zlib + filters) and genuinely
        // decoded back: pixel count is the zero-padded raster, and the pad
        // contributes nothing to the byte sum
        val padded = math.max(Multimodal.PngWidth,
          (f.n_bytes + Multimodal.PngWidth - 1) / Multimodal.PngWidth * Multimodal.PngWidth)
        assert(f.n_px == padded, s"media ${f.media_id}: n_px ${f.n_px} != padded raster $padded")
      } else assert(f.n_px == f.n_bytes)
      assert(math.abs(f.mean_val - f.sum_vals.toDouble / f.n_px) < 1e-9)
      // ASCII text payload: entropy of a byte histogram is within [0, 8]
      assert(f.entropy >= 0 && f.entropy <= 8)
      assert(f.thumb.length == Multimodal.ThumbBins)
      assert(f.thumb.forall(v => v >= 0 && v <= 255))
    }
  }

  test("audio energy: planted silence pattern yields the exact trim windows") {
    import spark.implicits._
    // clip = 2 low windows (spaces), 1 voiced ('A': 65^2*64 = 270400 >= T),
    // 1 low tail -> lead_trim 2, trail_trim 1, n_low 3 of 4
    val w = Multimodal.AudioWindow
    val text = (" " * (2 * w)) + ("A" * w) + (" " * w)
    val tmp = java.nio.file.Files.createTempDirectory("audio").toString
    Seq((1L, text), (2L, " " * w)) // second clip: all-low -> full lead trim
      .toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = Multimodal.audioEnergy(spark, tmp).collect()
      .map(r => r.getAs[Long]("media_id") -> r).toMap
    val c1 = out(1L)
    assert(c1.getAs[Long]("n_windows") == 4)
    assert(c1.getAs[Long]("n_low") == 3)
    assert(c1.getAs[Long]("lead_trim") == 2)
    assert(c1.getAs[Long]("trail_trim") == 1)
    assert(c1.getAs[Long]("total_sumsq") ==
      3L * w * 32 * 32 + 1L * w * 65 * 65)
    val c2 = out(2L)
    assert(c2.getAs[Long]("n_windows") == 1)
    assert(c2.getAs[Long]("lead_trim") == 1 && c2.getAs[Long]("trail_trim") == 0)
  }

  test("multimodal histogram: bin mass equals decoded pixel count, png pad lands in bin 0") {
    import spark.implicits._
    val hist = Multimodal.mediaHistogram(spark, dir).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    assert(hist.nonEmpty)
    assert(hist.forall { case (_, b, n) => b >= 0 && b < Multimodal.HistBins && n > 0 })
    // total mass per format == total decoded values (padded raster for png,
    // raw byte length otherwise) — nothing dropped, nothing double-counted
    val mass = hist.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val expected = Multimodal.mediaTable(spark, dir).as[Multimodal.MediaItem]
      .collect()
      .groupBy(_.meta.format)
      .view.mapValues(_.map { m =>
        if (m.meta.format == "png") m.meta.width.toLong * m.meta.height else m.meta.n_bytes
      }.sum).toMap
    assert(mass == expected, s"mass $mass != decoded sizes $expected")
    // the ASCII fixture has no control chars, so bin 0 exists only where
    // the PNG raster zero-pad put it
    assert(hist.collect { case (f, 0, _) => f }.forall(_ == "png"),
      s"non-png bin-0 mass: ${hist.filter(_._2 == 0).mkString(", ")}")
  }

  test("language-ID is deterministic and covers every doc") {
    val docs = graft.Tables.documents(spark, dir)
    val pred = TextAnalysis.langPredicted(docs)
    assert(pred.count() == docs.count())
    assert(pred.filter(col("predicted").isNull).count() == 0)
  }

  test("winnowing fingerprints: short text yields a single fingerprint") {
    import spark.implicits._
    val one = Seq((1L, "s", "abc")).toDF("doc_id", "source", "text")
    // text shorter than the k-gram width -> one hash -> one window -> one fp
    val fp = TextAnalysis.docFingerprintRows(one)
    assert(fp.count() == 1)
  }

  test("Aho-Corasick: overlapping patterns, dictionary suffixes, duplicates, misses") {
    val pats = Seq("abc", "bcd", "c", "abc", "zz", "")
    val ac = graft.util.AhoCorasick(pats)
    def ids(text: String): Set[Int] = {
      val b = ac.matchedIds(text)
      Iterator.iterate(b.nextSetBit(0))(i => b.nextSetBit(i + 1))
        .takeWhile(_ >= 0).toSet
    }
    // "abcd": "abc" (both duplicate ids), "bcd", and the suffix "c" — the
    // fail-link output folding must surface "c" while the scan sits on the
    // longer-match path
    assert(ids("abcd") == Set(0, 1, 2, 3))
    assert(ids("xcx") == Set(2))
    assert(ids("ab") == Set.empty)
    assert(ids("zzz") == Set(4))
    // empty pattern is ignored, never reported
    assert(ids("") == Set.empty)
  }

  test("decontaminationExact: automaton path equals the nested-loop path (incl. duplicate probes)") {
    import spark.implicits._
    // duplicate probe instances must count individually (the nested loop's
    // join semantics); the automaton weights distinct patterns by
    // multiplicity — doc 1 hits the duplicated probe (2), doc 3 hits all
    // three instances (3), doc 2 hits none
    val probes = Seq("needle one", "needle one", "other probe").toDF("probe")
    val train = Seq(
        (1L, "text with needle one inside"),
        (2L, "nothing to see"),
        (3L, "other probe and needle one both"))
      .toDF("doc_id", "text")
    def audit(hits: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
      Dedup.exactAudit(hits).collect().map(_.toSeq).toSeq
    val nested = audit(Dedup.exactHitsNested(probes, train))
    val aho = audit(Dedup.exactHitsAho(probes, train))
    assert(nested == Seq(Seq(2L, 5L, 3L)))
    assert(aho == nested)
    // and on a real corpus dir, the two full paths agree
    val nestedDir = Dedup.decontaminationExactNestedPath(spark, dir)
      .collect().map(_.toSeq).toSeq
    val ahoDir = Dedup.decontaminationExactAhoPath(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(nestedDir == ahoDir)
  }

  test("incrementalDedup: cross-boundary dups drop, batch-internal dups collapse, all-known source survives with zero new") {
    import spark.implicits._
    // history holds hashes hA, hB; batch: src1 has a known dup (hA), an
    // internal dup pair (hC twice), and a fresh singleton (hD); src2 is
    // entirely already-known (hB) — its min_new_id must be null
    val history = Seq((1L, "src1", "hA"), (2L, "src2", "hB"))
      .toDF("doc_id", "source", "h")
    val batch = Seq(
        (10L, "src1", "hA"), (11L, "src1", "hC"), (12L, "src1", "hC"),
        (13L, "src1", "hD"), (14L, "src2", "hB"))
      .toDF("doc_id", "source", "h")
    val out = Dedup.incrementalDedup(history, batch).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), if (r.isNullAt(5)) -1L else r.getLong(5))).toSeq
    assert(out == Seq(
      // src1: 4 docs, 3 distinct (hA, hC, hD), hA known -> dropped, 2 new,
      // min new rep = 11 (hC's min, beats hD's 13)
      ("src1", 4L, 3L, 1L, 2L, 11L),
      // src2: all known, nothing new
      ("src2", 1L, 1L, 1L, 0L, -1L)))
  }

  test("heavy hitters: sketch never undercounts and lands inside the error budget") {
    val rows = TextAnalysis.heavyHitters(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (exact, est) = (r.getLong(1), r.getLong(2))
      assert(est >= exact, s"CMS undercounted ${r.getString(0)}: $est < $exact")
      assert(r.getBoolean(3), s"${r.getString(0)} outside budget: est $est exact $exact")
    }
  }

  test("nfc_normalize: composes decomposed sequences, identity on ASCII and on NFC-clean text") {
    import spark.implicits._
    import graft.plans.NfcNormalize
    val decomposed = "cafe\u0301"            // e + combining acute U+0301
    val composed = "caf\u00e9"               // precomposed e-acute
    val ligature = "\ufb01n"                 // fi ligature: NFC identity (NFKC splits)
    val angstromD = "A\u030angstro\u0308m"  // A+ring, o+diaeresis
    val angstromC = "\u00c5ngstr\u00f6m"
    val rows = Seq("plain ascii", decomposed, composed, ligature, angstromD, "")
    val out = rows.toDF("t")
      .select(NfcNormalize.column(col("t")).as("n"), length(col("t")).as("lt"),
              length(NfcNormalize.column(col("t"))).as("ln"))
      .collect()
    assert(out(0).getString(0) == "plain ascii")
    assert(out(1).getString(0) == composed && out(1).getInt(1) == 5 && out(1).getInt(2) == 4)
    assert(out(2).getString(0) == composed)  // already NFC: identity
    assert(out(3).getString(0) == ligature)
    assert(out(4).getString(0) == angstromC)
    assert(out(5).getString(0) == "")
    // interpreted eval agrees with the codegen path
    val e = NfcNormalize(
      org.apache.spark.sql.catalyst.expressions.Literal.create(decomposed))
    assert(e.eval(null).toString == composed)
    // stays inside whole-stage codegen (a local Seq would constant-fold
    // into a LocalTableScan, so assert on a real parquet-backed plan)
    val q = graft.Tables.documents(spark, dir)
      .select(NfcNormalize.column(col("text")).as("n")).groupBy().agg(max(col("n")))
    q.collect()
    assert(q.queryExecution.executedPlan.toString.contains("*("))
  }

  test("all-pairs cosine: well-formed pairs, sim bounded, finds every strong exact-Jaccard dup") {
    val pairs = Dedup.allPairsCosine(spark, dir).collect()
    assert(pairs.nonEmpty)
    pairs.foreach { r =>
      assert(r.getAs[Long]("doc_a") < r.getAs[Long]("doc_b"))
      val sim = r.getAs[Double]("sim")
      // Cauchy–Schwarz: dot ≤ √(na·nb); ulp slack for the final division
      assert(sim >= Dedup.ApssCosine && sim <= 1.0 + 1e-9, s"sim out of range: $sim")
      assert(r.getAs[Long]("n_shared") >= 1)
    }
    // cross-family recall: a pair at exact shingle-set Jaccard ≥ 0.5 shares
    // at least that fraction of count-vector mass — it must clear the far
    // looser 0.2 cosine bar (df-capped terms on both sides, same cap scale)
    val apss = pairs.map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    val exact = Dedup.ngramJaccard(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(exact.subsetOf(apss), s"missed exact dups: ${exact -- apss}")
  }

  test("blocking dedup: exact subset of the inverted-index Jaccard pairs, full recall on the fixture") {
    // same shingle sets, same threshold, but candidates restricted to
    // prefix-sharing blocks — so blocking can only LOSE pairs, never add
    val block = Dedup.blockingDedup(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    val exact = Dedup.ngramJaccard(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(block.subsetOf(exact), s"false pairs from blocking: ${block -- exact}")
    // the fixture's planted near-dups are head-preserving edits, so the
    // 3-token-prefix block recalls all of them here (NOT a general claim)
    assert(block == exact, s"fixture recall shortfall: ${exact -- block}")
  }

  test("fuzzyMatch: planted typos resolve within blocks; cross-block typos are the documented miss") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("fuzzy").toFile.getAbsolutePath
    // "red bolt"/"redd bolt": lev 1, same last-token block → found, with
    // support counts and min-key reps carried. "red bolts" ends in a
    // DIFFERENT last token, so its lev-1 pair escapes the block — the
    // standard blocking recall trade, asserted so it can't silently change.
    Seq((1L, "red bolt"), (2L, "redd bolt"), (3L, "red bolt"),
        (4L, "red bolts"), (5L, "blue gear"))
      .toDF("p_partkey", "p_name")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/part.parquet")
    val out = Dedup.fuzzyMatch(spark, tmp).collect()
    assert(out.length == 1, out.mkString("; "))
    val r = out(0)
    assert(r.getAs[String]("name_a") == "red bolt" && r.getAs[String]("name_b") == "redd bolt")
    assert(r.getAs[Int]("lev_dist") == 1)
    assert(r.getAs[Long]("n_parts_a") == 2 && r.getAs[Long]("n_parts_b") == 1)
    assert(r.getAs[Long]("rep_a") == 1L && r.getAs[Long]("rep_b") == 2L)
  }

  test("weighted sampling: exactly K contiguous ranks per source, deterministic, weight-monotone for equal uniforms") {
    val out = Corpus.weightedSample(spark, dir).collect()
    val bySrc = out.groupBy(_.getAs[String]("source"))
    bySrc.foreach { case (_, rows) =>
      assert(rows.map(_.getAs[Int]("rank")).sorted.toSeq == (1 to Corpus.SampleK))
    }
    out.foreach { r =>
      val u = r.getAs[Double]("u")
      assert(u >= 0.0 && u < 1.0)
      assert(r.getAs[Long]("w") >= 1L)
    }
    // reproducible: md5-derived uniforms, no RNG state
    val again = Corpus.weightedSample(spark, dir).collect()
    assert(out.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("hard negatives: every neighbor carries a different label, ranks contiguous, sim-monotone") {
    val labels = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val out = Similarity.hardNegatives(spark, dir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val q = r.getAs[Long]("query_id"); val n = r.getAs[Long]("neighbor_id")
      assert(labels(n) != labels(q), s"neighbor $n shares query $q's label ${labels(q)}")
    }
    out.groupBy(_.getAs[Long]("query_id")).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getAs[Int]("rank"))
      assert(sorted.map(_.getAs[Int]("rank")).toSeq == (1 to sorted.length))
      val sims = sorted.map(_.getAs[Double]("sim"))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
    }
  }

  test("ngram LM: log-probs strictly negative, scored subset bounded, means within sum bounds") {
    val rows = graft.ops.Corpus.ngramLm(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val nDocs = r.getAs[Long]("n_docs"); val nScored = r.getAs[Long]("n_scored")
      assert(nScored <= nDocs && nScored >= 0)
      if (nScored > 0) {
        val minA = r.getAs[Double]("min_avg_lp"); val maxA = r.getAs[Double]("max_avg_lp")
        // add-one smoothing keeps every p(w2|w1) < 1, so every mean log-prob < 0
        assert(minA <= maxA && maxA < 0.0)
        assert(r.getAs[Double]("sum_lp") < 0.0)
      }
    }
  }

  test("mutual kNN: edges are exactly the reciprocal top-k pairs of the stride subset") {
    import org.apache.spark.sql.expressions.Window
    val out = Similarity.knnMutual(spark, dir).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"), r.getAs[Double]("sim")))
    assert(out.nonEmpty)
    assert(out.forall { case (a, b, s) => a < b && s >= -1.0 - 1e-12 && s <= 1.0 + 1e-12 })
    // independent reconstruction: subset top-k via a second pipeline, then
    // the reciprocal intersection computed driver-side
    val sub = spark.read.parquet(s"$dir/embeddings.parquet")
      .filter(col("vec_id") % Similarity.QueryStride === 0)
      .select(col("vec_id"), Similarity.asDouble(col("embedding")).as("v"))
    val q = sub.select(col("vec_id").as("qid"), col("v").as("qv"))
    val ranked = sub.crossJoin(q).filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"), Similarity.cosine(col("qv"), col("v")).as("sim"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("qid").orderBy(col("sim").desc, col("nid"))))
      .filter(col("rk") <= Similarity.TopK)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expect = ranked.collect { case (a, b) if a < b && ranked((b, a)) => (a, b) }
    assert(out.map(t => (t._1, t._2)).toSet == expect)
  }

  test("minhash estimate check: pair count matches the LSH query, error stats well-formed") {
    val row = Dedup.minhashEstCheck(spark, dir).head()
    val nPairs = row.getAs[Long]("n_pairs")
    assert(nPairs == Dedup.minhashLsh(spark, dir).count())
    val maxErr = row.getAs[Double]("max_abs_err")
    assert(maxErr >= 0.0 && maxErr <= 1.0)
    val tail = row.getAs[Long]("n_err_gt_quarter")
    assert(tail >= 0 && tail <= nPairs)
    // k=12 signatures: σ ≈ 0.14 per pair, so the >0.25 tail should stay a
    // minority of verified near-dups (Hoeffding: P < 0.45 per pair)
    assert(tail.toDouble <= math.max(1.0, 0.5 * nPairs), s"tail=$tail of $nPairs")
  }

  test("embed outliers: contiguous ranks per label, distances non-negative and rank-monotone") {
    val out = Similarity.embedOutliers(spark, dir).collect()
    val byLabel = out.groupBy(_.getAs[Int]("label"))
    assert(byLabel.nonEmpty)
    byLabel.foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getAs[Int]("rank"))
      assert(sorted.map(_.getAs[Int]("rank")).toSeq == (1 to sorted.length))
      val dists = sorted.map(_.getAs[Double]("dist"))
      assert(dists.forall(_ >= 0.0))
      // rank order IS distance order (ties broken by id, so non-strict)
      assert(dists.zip(dists.tail).forall { case (a, b) => a >= b })
    }
  }

  test("SQ ANN: k per query, self excluded, codes reconstruct well enough for high recall") {
    val sq = Similarity.knnSq(spark, dir).collect()
    val perQuery = sq.groupBy(_.getAs[Long]("query_id"))
    perQuery.foreach { case (q, rows) =>
      assert(rows.length == Similarity.TopK)
      assert(rows.map(_.getAs[Int]("rank")).sorted.toSeq == (1 to Similarity.TopK))
      assert(!rows.exists(_.getAs[Long]("neighbor_id") == q))
    }
    // 8-bit bucket centers keep per-dim error ≤ (mx-mn)/512; on the fixture
    // that preserves ≥ 80% of the exact top-k (measured 96% at sf0.001)
    val recall = Similarity.knnSqRecall(spark, dir).collect().head.getAs[Double]("recall_at_k")
    assert(recall >= 0.8, s"SQ recall degraded: $recall")
  }

  test("mediaFrames: planted docs cut at exact 64-byte boundaries, stride-2 sample, pad lengthens png tail") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("media-frames").toFile.getAbsolutePath
    // doc 4 → png (decoded = text padded to a 16-wide raster), doc 1 → jpeg (raw bytes)
    val t4 = "a" * 300   // px_len 304 → frames 0..4, sampled 0,2,4 (lens 64,64,48)
    val t1 = "b" * 150   // px_len 150 → frames 0..2, sampled 0,2 (lens 64,22)
    Seq((4L, t4, "en", "src0", t4.length), (1L, t1, "en", "src0", t1.length))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = Multimodal.mediaFrames(spark, tmp).collect()
      .map(r => (r.getAs[String]("format"), r.getAs[Int]("frame_idx")) -> r).toMap
    assert(out.keySet == Set(("png", 0), ("png", 2), ("png", 4), ("jpeg", 0), ("jpeg", 2)))
    // png: 'a' = 97; pad zeros lengthen the tail frame but add no mass
    assert(out(("png", 0)).getAs[Long]("sum_vals") == 97L * 64)
    assert(out(("png", 4)).getAs[Int]("max_len") == 48)      // 304 - 256
    assert(out(("png", 4)).getAs[Long]("sum_vals") == 97L * (300 - 256)) // 44 text + 4 pad
    // jpeg: raw byte stream, short tail kept
    assert(out(("jpeg", 2)).getAs[Int]("max_len") == 22)
    assert(out(("jpeg", 2)).getAs[Long]("sum_vals") == 98L * 22)
  }

  test("jsonlIngest: escaped text round-trips, corrupt lines audited, ids checksummed") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("jsonl").toFile.getAbsolutePath
    // docs 0 and 97 → corrupt (id % 97 == 0); docs 1/2 good, doc 1's text
    // carries a QUOTE and a NEWLINE — the JSONL escaping round-trip must
    // preserve the exact char count (5: a, ", \n, b, c). Doc 97 is the
    // partial-results sentinel: its NONZERO doc_id parses completely
    // before the 19-char cut ({"doc_id":97,"lang…), so if corrupt rows
    // ever retained already-parsed fields (enablePartialResults), an
    // ungated id would push 97 into the __corrupt checksum — this test
    // pins that checksum at 0.
    val docs = Seq(
      (0L, "dead doc", "en", "s1", 8L),
      (97L, "late casualty", "en", "s1", 13L),
      (1L, "a\"\nbc", "en", "s1", 5L),
      (2L, "hello", "de", "s2", 5L))
    docs.map { case (id, t, l, s, n) => (id, t, l, s, n) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = Ingestion.jsonlIngest(spark, tmp).collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("sum_chars"),
          r.getAs[Long]("id_checksum")))).toMap
    assert(out == Map(
      "__corrupt" -> ((2L, 0L, 0L)),   // docs 0+97 truncated; ids GATED to 0
      "s1" -> ((1L, 5L, 1L)),          // the escaped text counts 5 chars
      "s2" -> ((1L, 5L, 2L))), out.toString)
  }

  test("jsonlIngestStrict: FAILFAST aborts on the planted corrupt line; clean corpus matches PERMISSIVE") {
    import spark.implicits._
    def stage(docs: Seq[(Long, String, String, String, Long)]): String = {
      val tmp = java.nio.file.Files.createTempDirectory("jsonl-strict").toFile.getAbsolutePath
      docs.toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/documents.parquet")
      tmp
    }
    // doc 0 → truncated line: strict mode must REFUSE the shard, loudly
    val damaged = stage(Seq(
      (0L, "dead doc", "en", "s1", 8L),
      (1L, "fine", "en", "s1", 4L)))
    val e = intercept[Exception] {
      Ingestion.jsonlIngestStrict(spark, damaged).collect()
    }
    assert(causeMessages(e).exists(m =>
        m.contains("FAILFAST") || m.contains("Malformed") || m.contains("MALFORMED")),
      causeMessages(e).mkString(" | "))
    // no corrupt ids planted → both modes emit the identical rollup (the
    // strict face is the SAME query on a clean corpus, not a different one)
    val clean = stage(Seq(
      (1L, "a\"\nbc", "en", "s1", 5L),
      (2L, "hello", "de", "s2", 5L)))
    val strict = Ingestion.jsonlIngestStrict(spark, clean).collect().toSeq
    val permissive = Ingestion.jsonlIngest(spark, clean).collect().toSeq
    assert(strict == permissive,
      s"clean-corpus modes diverge: strict=$strict permissive=$permissive")
  }

  test("mediaResize: hand-computed block-average cells; flat raster maps to sparse cell rows") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("media-resize").toFile.getAbsolutePath
    // doc 4 → png. text "A".."P" → ONE 16-px row (h = 1): every pixel has
    // r = 0 → cell_y = 0·4/1 = 0; cell_x = c·4/16 = c/4 → four cells of
    // four ascending byte values each. Rows for cell_y ≥ 1 must be ABSENT
    // (the integer mapping emits no empty cells).
    val t4 = ('A' to 'P').mkString // 65..80
    // doc 8 → png. 20 chars of 'z' (122) → px_len 32, h = 2: row 0 full
    // text, row 1 = 4 chars + 12 zero pads; r = 0 → cell_y 0, r = 1 →
    // cell_y 1·4/2 = 2 (h < grid skips odd cell rows — locked here).
    val t8 = "z" * 20
    Seq((4L, t4, "en", "src0", t4.length), (8L, t8, "en", "src0", t8.length))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = Multimodal.mediaResize(spark, tmp).collect()
      .map(r => (r.getAs[Int]("cell_y"), r.getAs[Int]("cell_x")) ->
        ((r.getAs[Long]("n_px"), r.getAs[Long]("sum_vals"), r.getAs[Long]("mean_ppm"))))
      .toMap
    assert(out.keySet ==
      (0 to 3).map(x => (0, x)).toSet ++ (0 to 3).map(x => (2, x)).toSet, out.toString)
    // cell_y 0 merges doc 4's row (65+66+67+68 … ascending quads) with
    // doc 8's row 0 (4 × 122 per cell)
    val quad = Seq(65 + 66 + 67 + 68, 69 + 70 + 71 + 72, 73 + 74 + 75 + 76, 77 + 78 + 79 + 80)
    (0 to 3).foreach { x =>
      val (n, s, m) = out((0, x))
      assert(n == 8L && s == quad(x) + 4L * 122, s"cell (0,$x): $n/$s")
      assert(m == s * 1000000L / 8, s"cell (0,$x) mean: $m")
    }
    // cell_y 2 is doc 8's row 1: 4 'z' chars then 12 zero pads
    assert(out((2, 0)) == ((4L, 4L * 122, 122000000L)), out((2, 0)).toString)
    (1 to 3).foreach(x => assert(out((2, x)) == ((4L, 0L, 0L)), out((2, x)).toString))
  }

  test("dfIndexMerge: planted grams land in carried/updated/inserted with exact df math") {
    import spark.implicits._
    // history: "alpha beta" ×2 docs, "beta gamma" ×1 → grams {alpha beta: 2, beta gamma: 1}
    // batch:   "beta gamma" ×1, "delta echo" ×1    → updated + inserted; "alpha beta" carried
    val hist = Seq((1L, "alpha beta"), (2L, "alpha beta"), (3L, "beta gamma"))
      .toDF("doc_id", "text")
    val batch = Seq((10L, "beta gamma"), (11L, "delta echo")).toDF("doc_id", "text")
    val out = TextAnalysis.dfIndexMerge(hist, batch).collect()
      .map(r => r.getAs[String]("status") -> r).toMap
    assert(out.keySet == Set("carried", "updated", "inserted"))
    val carried = out("carried")
    assert(carried.getAs[String]("min_gram") == "alpha beta")
    assert(carried.getAs[Long]("sum_df_after") == 2 && carried.getAs[Long]("sum_df_delta") == 0)
    val updated = out("updated")
    assert(updated.getAs[String]("min_gram") == "beta gamma")
    assert(updated.getAs[Long]("sum_df_after") == 2 && updated.getAs[Long]("sum_df_delta") == 1)
    val inserted = out("inserted")
    assert(inserted.getAs[String]("min_gram") == "delta echo")
    assert(inserted.getAs[Long]("sum_df_after") == 1 && inserted.getAs[Long]("sum_df_delta") == 1)
  }

  test("dfIndexMerge counts DISTINCT docs per gram (repeated gram in one doc is df=1)") {
    import spark.implicits._
    val hist = Seq((1L, "x y x y")).toDF("doc_id", "text") // gram "x y" twice, "y x" once
    val batch = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val out = TextAnalysis.dfIndexMerge(hist, batch).collect()
    assert(out.forall(_.getAs[String]("status") == "carried"))
    // grams of "x y x y": "x y"(×2 positions, distinct per doc), "y x" → df 1 each
    assert(out.map(_.getAs[Long]("sum_df_after")).sum == 2)
    assert(out.map(_.getAs[Long]("max_df_after")).max == 1)
  }

  test("embedDrift: every label on both sides, cosine bounded, counts partition the table") {
    val out = Similarity.embedDrift(spark, dir).collect()
    val nVecs = graft.Tables.embeddings(spark, dir).count()
    val nLabels = graft.Tables.embeddings(spark, dir).select("label").distinct().count()
    assert(out.length == nLabels)
    assert(out.map(r => r.getAs[Long]("n_corpus") + r.getAs[Long]("n_batch")).sum == nVecs)
    out.foreach { r =>
      val c = r.getAs[Double]("centroid_cos")
      assert(c >= -1.0 - 1e-12 && c <= 1.0 + 1e-12, r.toString)
      assert(r.getAs[Long]("n_corpus") > 0 && r.getAs[Long]("n_batch") > 0)
      // NOTE: no alignment floor — the synthetic embeddings are near-zero-mean
      // per label, so centroid SUMS point near-randomly; the monitor's value
      // is exactly that it exposes this (cos ≈ 0 ⇒ the label carries no
      // stable direction). Alignment is asserted on a planted copy instead.
    }
    // planted sanity: batch that IS the corpus slice must align perfectly —
    // drive via a tiny fixture where both sides share every vector
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("edrift").toString
    val vec = (1 to Similarity.Dim).map(i => (i % 5 + 1).toFloat).toArray
    // ids 0..9: %10<8 side gets 8 copies, %10>=8 side 2 copies of the SAME vector
    (0L until 10L).map(i => (i, vec, 0L)).toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val planted = Similarity.embedDrift(spark, tmp).collect()
    assert(planted.length == 1)
    assert(math.abs(planted.head.getAs[Double]("centroid_cos") - 1.0) < 1e-12)
  }

  test("staged kmeans cells: consumers read the staged table; memberships identical to the live chain") {
    val t = Similarity.stageKmeansCells(spark, dir)
    assert(spark.catalog.tableExists(t))
    // the live chain (q_kmeans always computes it) must agree cell-by-cell
    // with the staged assignments both mixing and sampling now read
    val staged = spark.table(t).groupBy("cell").count().collect()
      .map(r => r.getAs[Long]("cell") -> r.getAs[Long]("count")).toMap
    val live = Similarity.kmeans(spark, dir).collect()
      .map(r => r.getAs[Long]("cell") -> r.getAs[Long]("n_members")).toMap
    assert(staged == live)
    // and the staged-path consumers still agree with the live sizes
    val mix = Similarity.clusterMix(spark, dir).collect()
      .map(r => r.getAs[Long]("cell") -> r.getAs[Long]("n_members")).toMap
    assert(mix == live)
  }

  test("clusterSample: Hamilton quotas fill the budget exactly, draws bounded by cell size") {
    val out = Similarity.clusterSample(spark, dir).collect()
    assert(out.nonEmpty)
    // Σ alloc = N exactly (largest remainder)
    assert(out.map(_.getAs[Long]("alloc")).sum == Similarity.ClusterSampleN)
    val km = Similarity.kmeans(spark, dir).collect()
      .map(r => r.getAs[Long]("cell") -> r.getAs[Long]("n_members")).toMap
    out.foreach { r =>
      val (cell, members) = (r.getAs[Long]("cell"), r.getAs[Long]("n_members"))
      assert(km(cell) == members) // same Lloyd chain as kmeans
      val (alloc, sel) = (r.getAs[Long]("alloc"), r.getAs[Long]("n_selected"))
      assert(sel == math.min(alloc, members), r.toString)
      if (sel == 0) assert(r.getAs[Long]("sel_checksum") == 0)
    }
  }

  test("knnRp: k per query, self excluded, rank-monotone sims, useful recall from the coarse shortlist") {
    val out = Similarity.knnRp(spark, dir).collect()
    val perQuery = out.groupBy(_.getAs[Long]("query_id"))
    perQuery.foreach { case (q, rows) =>
      assert(rows.length == Similarity.TopK)
      assert(rows.map(_.getAs[Int]("rank")).sorted.toSeq == (1 to Similarity.TopK))
      assert(!rows.exists(_.getAs[Long]("neighbor_id") == q))
      val byRank = rows.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("sim"))
      byRank.sliding(2).foreach {
        case Array(a, b) => assert(a >= b - 1e-12)
        case _ =>
      }
    }
    // training-free path: weaker than PQ/SQ by design, but the r11
    // 48-plane / 300-shortlist operating point holds ≥0.90 at sf0.01 and
    // sf0.1 (RpSweep) — the fixture must not fall below that floor
    val recall = Similarity.knnRpRecall(spark, dir).collect().head.getAs[Double]("recall_at_k")
    assert(recall >= 0.9, s"RP recall below the 48/300 operating point: $recall")
  }

  test("dedupDegree: bands cover every doc, handshake identity holds, fixture graph non-vacuous") {
    val nDocs = graft.Tables.documents(spark, dir).count()
    val nPairs = Dedup.ngramJaccard(spark, dir).count()
    val out = Dedup.dedupDegree(spark, dir).collect()
    assert(out.map(_.getAs[Long]("n_docs")).sum == nDocs)
    // Σ degrees = 2·|edges| (handshake lemma)
    assert(out.map(_.getAs[Long]("sum_degree")).sum == 2 * nPairs)
    // planted near-dups → a nonzero band exists; most docs are isolated
    assert(out.exists(r => r.getAs[Int]("deg_band") > 0 && r.getAs[Long]("n_docs") > 0))
    val band0 = out.find(_.getAs[Int]("deg_band") == 0).get
    assert(band0.getAs[Long]("n_docs") > nDocs / 2 && band0.getAs[Long]("sum_degree") == 0)
  }

  test("textEmbed: hashed vectors match an independent reference (duplication, cancellation, signs)") {
    import spark.implicits._
    def hex6(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 6), 16)
    }
    def bucket(t: String) = hex6("b:" + t) % TextAnalysis.HashEmbedDim
    def sgn(t: String) = if (hex6("s:" + t) % 2 == 0) 1L else -1L
    val texts = Seq("alpha alpha", "alpha beta gamma delta", "zz yy xx ww vv uu")
    // independent reference: accumulate signed buckets per doc
    val expected = texts.map { t =>
      val coefs = t.split(" ").groupBy(bucket).map { case (_, ts) => ts.map(sgn).sum }
      (coefs.map(c => c * c).sum, coefs.count(_ != 0).toLong)
    }
    val tmp = java.nio.file.Files.createTempDirectory("text-embed").toFile.getAbsolutePath
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t, "en", s"s$i", t.length) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = TextAnalysis.textEmbed(spark, tmp).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    texts.indices.foreach { i =>
      val r = out(s"s$i")
      assert(r.getAs[Long]("sum_normsq") == expected(i)._1, s"doc $i normsq")
      assert(r.getAs[Long]("sum_nnz") == expected(i)._2, s"doc $i nnz")
    }
    // duplicated token doubles the coefficient, quadrupling its mass
    assert(out("s0").getAs[Long]("sum_normsq") == 4 && out("s0").getAs[Long]("sum_nnz") == 1)
  }

  test("clusterMix: weights normalize to 1, sizes agree with kmeans, budgets floor under weight") {
    val mix = Similarity.clusterMix(spark, dir).collect()
    val km = Similarity.kmeans(spark, dir).collect()
      .map(r => r.getAs[Long]("cell") -> r.getAs[Long]("n_members")).toMap
    assert(mix.nonEmpty && mix.map(_.getAs[Long]("cell")).toSet == km.keySet)
    mix.foreach(r => assert(km(r.getAs[Long]("cell")) == r.getAs[Long]("n_members")))
    val ws = mix.map(_.getAs[Double]("weight"))
    assert(math.abs(ws.sum - 1.0) < 1e-9, s"weights sum ${ws.sum}")
    // α < 1 flattens: weight is monotone in size but sub-linear
    mix.sortBy(_.getAs[Long]("n_members")).sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getAs[Double]("weight") <= b.getAs[Double]("weight") + 1e-12)
      case _ =>
    }
    mix.foreach { r =>
      val w = r.getAs[Double]("weight")
      val e = r.getAs[Long]("epoch_vecs")
      assert(e <= w * Similarity.ClusterMixEpoch && e > w * Similarity.ClusterMixEpoch - 1.0)
    }
  }

  test("dfIndexRetract: planted deletions hit removed/decremented/untouched with exact df math") {
    import spark.implicits._
    // corpus: "p q r" ×2 docs + "p q r s" ×1; delete doc 3 ("p q r s")
    // → "p q r" decremented 3→2, "q r s" removed 1→0, and doc 1/2's
    // exclusive grams untouched... plant a disjoint doc for untouched
    val docs = Seq((1L, "p q r"), (2L, "p q r"), (3L, "p q r s"), (4L, "u v w"))
      .toDF("doc_id", "text")
    val index = docs
      .select(col("doc_id"), explode(Dedup.shingles(col("text"))).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("df"))
    val out = TextAnalysis.dfIndexRetract(index, docs.filter(col("doc_id") === 3))
      .collect().map(r => r.getAs[String]("status") -> r).toMap
    assert(out.keySet == Set("removed", "decremented", "untouched"))
    val rem = out("removed")     // "q r s": df 1 → 0
    assert(rem.getAs[Long]("n_grams") == 1 && rem.getAs[String]("min_gram") == "q r s")
    assert(rem.getAs[Long]("sum_df_before") == 1 && rem.getAs[Long]("sum_df_after") == 0)
    val dec = out("decremented") // "p q r": df 3 → 2
    assert(dec.getAs[Long]("n_grams") == 1 && dec.getAs[String]("min_gram") == "p q r")
    assert(dec.getAs[Long]("sum_df_before") == 3 && dec.getAs[Long]("sum_df_after") == 2)
    val unt = out("untouched")   // "u v w": df 1 unchanged
    assert(unt.getAs[Long]("n_grams") == 1 && unt.getAs[String]("min_gram") == "u v w")
    assert(unt.getAs[Long]("sum_df_after") == 1)
  }

  test("rp projection: deterministic sparse signs, fold-order parity with a manual dot") {
    // density ~1/3 per Achlioptas; deterministic across calls
    val s0 = Similarity.rpSigns(0)
    assert(s0 == Similarity.rpSigns(0))
    assert(s0.size == Similarity.Dim && s0.forall(v => v == 1.0 || v == -1.0 || v == 0.0))
    val nz = (0 until Similarity.RpDim).map(j => Similarity.rpSigns(j).count(_ != 0.0))
    assert(nz.sum > Similarity.RpDim * Similarity.Dim / 5 &&
           nz.sum < Similarity.RpDim * Similarity.Dim / 2, s"density off: ${nz.sum}")
    // projected coordinate = sequential-fold dot — parity with a plain loop
    import spark.implicits._
    val v = (1 to Similarity.Dim).map(i => (i % 7 + 0.25) * (if (i % 3 == 0) -1 else 1))
    val row = Seq(Tuple1(v.toArray)).toDF("v")
      .select(Similarity.rpProject(org.apache.spark.sql.functions.col("v")).as("p"))
      .collect().head.getSeq[Double](0)
    assert(row.size == Similarity.RpDim)
    (0 until Similarity.RpDim).foreach { j =>
      var acc = 0.0
      val s = Similarity.rpSigns(j)
      (0 until Similarity.Dim).foreach(d => acc += v(d) * s(d))
      assert(row(j) == acc, s"coord $j: ${row(j)} != $acc")
    }
  }

  test("embedRp audit: full pair coverage per query, errors bounded, fixture non-vacuous") {
    val nSample = graft.Tables.embeddings(spark, dir)
      .filter(col("vec_id") % Similarity.RpSampleStride === Similarity.RpSampleOffset)
      .count()
    val out = Similarity.embedRp(spark, dir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      // queries (vec_id % 50 == 0) never collide with the sample residue 3
      assert(r.getAs[Long]("n_pairs") == nSample, r.toString)
      val mx = r.getAs[Double]("max_abs_err"); val sm = r.getAs[Double]("sum_abs_err")
      assert(mx >= 0.0 && mx <= 2.0 && sm >= mx - 1e-6 && sm <= 2.0 * nSample, r.toString)
    }
  }
}
