package graft.pipeline

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Two-level (coarse → fine) assignment — the flat argmax's successor
  * past k ≈ 10³ centroids. Pins:
  *   1. EXACTNESS AT FULL PROBE DEPTH: probes = coarseK scans every
  *      bucket, so the assignment must equal the flat CosineArgmax
  *      bit-for-bit (the order-independent tie-break is what makes
  *      this hold — buckets visit centroids out of id order);
  *   2. agreement at the production probe depth (floors from the
  *      measured CodebookBench curve in BENCH.md);
  *   3. null contract parity with the flat expression. */
class TwoLevelAssignSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .appName("graft-two-level-test")
    .getOrCreate()

  test("probes = coarseK reproduces the flat argmax exactly") {
    val emb = VectorPipeline.embeddings(spark, "/root/testdata/sf0.01").cache()
    val book = VectorPipeline.trainedCodebookDistributed(emb, 64,
      sampleN = 1 << 14, iters = 5).cache()
    val flat = VectorPipeline.ivfAssign(emb, book)
      .select(col("vec_id"), col("centroid_id"))
    val full = VectorPipeline.ivfAssignTwoLevel(emb, book, coarseK = 8, probes = 8)
      .select(col("vec_id"), col("centroid_id"))
    assert(flat.exceptAll(full).isEmpty && full.exceptAll(flat).isEmpty,
      "full-probe two-level assignment must equal the flat argmax")
    book.unpersist(); emb.unpersist()
  }

  test("agreement at the production probe depth meets the measured floor") {
    val emb = VectorPipeline.embeddings(spark, "/root/testdata/sf0.01").cache()
    val book = VectorPipeline.trainedCodebookDistributed(emb, 64,
      sampleN = 1 << 14, iters = 5).cache()
    val agree = VectorPipeline.ivfAssign(emb, book)
      .join(VectorPipeline.ivfAssignTwoLevel(emb, book, coarseK = 8, probes = 2)
        .select(col("vec_id"), col("centroid_id").as("c2")), "vec_id")
      .agg(avg(when(col("centroid_id") === col("c2"), 1.0).otherwise(0.0)))
      .head.getDouble(0)
    // probes=2 of 8 coarse buckets (25% of the fine book scanned);
    // floor set under the measured curve (BENCH.md round-4 two-level
    // section) — random bucketing would agree ~25% of the time
    assert(agree >= 0.80, s"two-level agreement $agree at probes=2/8")
    book.unpersist(); emb.unpersist()
  }

  test("two-level-built index: recall preserved, appends reproduce the recorded mode") {
    val emb = VectorPipeline.embeddings(spark, "/root/testdata/sf0.01").cache()
    val queries = emb.filter(col("vec_id") < 20)
    val nq = queries.count()
    val book = VectorPipeline.trainedCodebookDistributed(emb, 64,
      sampleN = 1 << 14, iters = 5).cache()
    val path = "/tmp/graft_test_ivf_2l"
    val twoLevel = IvfLayout(assign = IvfAssign.TwoLevel(coarseK = 8, probes = 4))
    VectorPipeline.writeIvfIndex(emb, book, path, twoLevel)

    // book-free probes route with the persisted codebook; recall floor
    // = the flat-built index's gate (mis-assignments are nearly-tied
    // boundary lists, absorbed by nprobe > 1 on the query side)
    val bf = VectorPipeline.bruteForceTopK(emb, queries, 10)
      .select(col("q_id"), col("n_id")).cache()
    val ivf = VectorPipeline.ivfTopKFromIndex(spark, path, queries, 10, 16)
      .select(col("q_id"), col("n_id"))
    val recall = bf.join(ivf, Seq("q_id", "n_id")).count().toDouble / (nq * 10)
    assert(recall >= 0.65, s"two-level-built index recall@10(nprobe=16/64) = $recall")

    // accretion identity UNDER THE RECORDED MODE: a book-free append
    // must reproduce the build's two-level routing (mode travels in the
    // sidecar), so accreted rows == one-pass rows exactly
    val accr = "/tmp/graft_test_ivf_2l_accr"
    VectorPipeline.writeIvfIndex(emb.filter(col("vec_id") % 2 === 0), book, accr, twoLevel)
    VectorPipeline.appendToIvfIndex(emb.filter(col("vec_id") % 2 === 1), accr)
    val once = spark.read.parquet(path).select(col("vec_id"), col("centroid_id"))
    val acc = spark.read.parquet(accr).select(col("vec_id"), col("centroid_id"))
    assert(once.exceptAll(acc).isEmpty && acc.exceptAll(once).isEmpty,
      "book-free append did not reproduce the index's recorded two-level mode")
    bf.unpersist(); book.unpersist(); emb.unpersist()
  }

  test("empty coarse buckets never produce a null assignment (probes=1)") {
    import spark.implicits._
    // a codebook engineered so coarse k-means leaves empty clusters:
    // all fine centroids point the same way, so every fine centroid
    // lands in ONE coarse bucket and the other coarse slots stay empty
    // (stale-centroid rule). probes=1 must still assign every vector —
    // the pre-fix code could pick an empty bucket and emit null, which
    // partitionBy would write to the default partition: silent,
    // query-invisible data loss.
    val dim = 8
    val book = (0L until 16L).map { i =>
      (i, Seq.tabulate(dim)(d => if (d == 0) 1f else 0.001f * i))
    }.toDF("centroid_id", "c_emb")
    val vecs = (0L until 200L).map { i =>
      (i, Seq.tabulate(dim)(d => if (d == 0) 1f else 0.0005f * (i % 7)))
    }.toDF("vec_id", "embedding")
    val assigned = VectorPipeline.ivfAssignTwoLevel(vecs, book, coarseK = 4, probes = 1)
    assert(assigned.filter(col("centroid_id").isNull).count() === 0L,
      "a valid vector received a null assignment")
    assert(assigned.count() === 200L)
  }

  test("NaN embeddings are tolerated like the flat argmax, not a task crash") {
    import spark.implicits._
    val book = Seq((0L, Seq(1f, 0f)), (1L, Seq(0f, 1f))).toDF("centroid_id", "c_emb")
    val rows = Seq(
      (1L, Seq(Float.NaN, 1f)),
      (2L, Seq(Float.PositiveInfinity, 1f)),
      // NOT (0.5, 0.5): that is an exact tie between the two centroids
      // and would ride on both implementations breaking a float tie
      // identically rather than testing agreement on a clean vector
      (3L, Seq(0.9f, 0.1f)))
      .toDF("vec_id", "embedding")
    // must not throw; non-finite rows BYPASS bucket routing and run the
    // flat scan verbatim (round 5), so two-level ≡ flat bit-level on
    // EVERY row here — including the NaN and Inf ones, at any probe
    // depth (the pre-fix behavior only guaranteed non-null)
    val flat = VectorPipeline.ivfAssign(rows, book)
      .orderBy(col("vec_id")).select(col("centroid_id")).collect().map(_.getLong(0))
    val twoL = VectorPipeline.ivfAssignTwoLevel(rows, book, coarseK = 2, probes = 1)
      .orderBy(col("vec_id")).select(col("centroid_id")).collect()
    assert(twoL.forall(!_.isNullAt(0)), "NaN/Inf row got a null assignment")
    twoL.indices.foreach { i =>
      assert(twoL(i).getLong(0) === flat(i),
        s"row $i: two-level diverged from flat on a NaN/Inf/clean vector")
    }
  }

  test("kernel property sweep: full probes == reference argmax; partial probes always valid") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val rnd = new scala.util.Random(421)
    // independent reference argmax (same arithmetic contract, written
    // here — shares no code with the assigner)
    def refArgmax(ids: Array[Long], mat: Array[Array[Float]], x: Array[Float]): Long = {
      val sx = math.sqrt(x.map(f => (f * f).toDouble).sum)
      var bestId = ids(0)
      var best = Double.NegativeInfinity
      mat.indices.foreach { c =>
        var dot = 0.0d
        x.indices.foreach(d => dot += (x(d) * mat(c)(d)).toDouble)
        val n = math.sqrt(mat(c).map(f => (f * f).toDouble).sum)
        val cos = dot / math.max(sx * n, 1e-12d)
        if (cos > best) { best = cos; bestId = ids(c) }
      }
      bestId
    }
    (0 until 200).foreach { case_ =>
      val dim = 2 + rnd.nextInt(14)
      val k = 1 + rnd.nextInt(20)
      val coarseK = 1 + rnd.nextInt(6)
      val ids = Array.tabulate(k)(_.toLong)
      val mat = Array.fill(k)(Array.fill(dim)((rnd.nextFloat() - 0.5f) * 4f))
      val full = new graft.spark.catalyst.TwoLevelAssigner(ids, mat, coarseK,
        probes = coarseK)
      val partial = new graft.spark.catalyst.TwoLevelAssigner(ids, mat, coarseK,
        probes = 1)
      (0 until 10).foreach { _ =>
        val x = Array.fill(dim)((rnd.nextFloat() - 0.5f) * 4f)
        val xa = new GenericArrayData(x.map(f => f: Any))
        val got = full.assign(xa)
        assert(got != null, s"case $case_: full-probe assign returned null")
        assert(got.longValue() === refArgmax(ids, mat, x),
          s"case $case_ (dim=$dim k=$k coarseK=$coarseK): full-probe != reference argmax")
        val p = partial.assign(xa)
        assert(p != null && ids.contains(p.longValue()),
          s"case $case_: partial-probe assign invalid")
      }
    }
  }

  test("null contract parity with the flat expression") {
    import spark.implicits._
    val book = Seq((0L, Seq(1f, 0f)), (1L, Seq(0f, 1f))).toDF("centroid_id", "c_emb")
    val rows = Seq(
      (1L, Some(Seq(Option(1f), Option(2f)))),
      (2L, None), // null embedding
      (3L, Some(Seq(Option(1f), None))), // null element
      (4L, Some(Seq(Option(1f), Option(2f), Option(3f))))) // dim mismatch
      .toDF("vec_id", "embedding")
    val got = VectorPipeline.ivfAssignTwoLevel(rows, book, coarseK = 2, probes = 1)
      .orderBy(col("vec_id")).select(col("centroid_id")).collect()
      .map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
    assert(got(0).contains(1L)) // (1,2) is closer to (0,1)
    assert(got(1).isEmpty && got(2).isEmpty && got(3).isEmpty)
  }
}
