package graft.pipeline

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Product quantization (trainedPqBooks + PqEncode + PqAdcCosine). Pins:
  *   1. trainer DETERMINISM at any parallelism (bit-level fingerprint,
  *      the trainedCodebookDistributed rules);
  *   2. blob shape m+4 bytes, reconstruction norm EXACT (disjoint
  *      subspaces: |x̂|² = Σⱼ|cⱼ|²);
  *   3. ADC score == the explicitly reconstructed cosine computed with
  *      the SAME per-subspace grouping (bit-level — table entries and
  *      the explicit reference accumulate identically);
  *   4. codegen path == interpreted path (both call PqKernel, but the
  *      null plumbing around the call is generated — pin it);
  *   5. malformed inputs (wrong dim, foreign blob, oversized code) ⇒
  *      null, never a crash;
  *   6. one- and two-stage recall floors vs the float brute force at
  *      m=8, ksub=64 on the sf0.01 embeddings (floors from measurement,
  *      BENCH.md "Product quantization").
  */
class PqSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .appName("graft-pq-test")
    .getOrCreate()

  private lazy val emb = VectorPipeline.embeddings(spark, "/root/testdata/sf0.01").cache()
  private lazy val books = VectorPipeline.trainedPqBooks(emb, m = 8, ksub = 64, iters = 5)

  test("trainer is bit-deterministic across runs and input partitionings") {
    val f0 = VectorPipeline.pqBooksFingerprint(books)
    val f1 = VectorPipeline.pqBooksFingerprint(
      VectorPipeline.trainedPqBooks(emb, m = 8, ksub = 64, iters = 5))
    assert(f0 === f1, "two identical trainings diverged")
    val f2 = VectorPipeline.pqBooksFingerprint(VectorPipeline.trainedPqBooks(
      emb.repartition(7, col("vec_id") % 3), m = 8, ksub = 64, iters = 5))
    assert(f0 === f2, "input partitioning changed the books")
    assert(books.length === 8 && books.forall(_.length === 64) &&
      books.forall(_.forall(_.length === 8)))
  }

  test("blob shape and exact reconstruction norm; ADC == grouped explicit cosine") {
    import graft.spark.catalyst.{pqAdcCosineNative, pqEncodeNative}
    val rows = emb.select(col("vec_id"),
        pqEncodeNative(col("embedding"), books).as("pq"), col("embedding"))
      .limit(50).collect()
    assert(rows.nonEmpty)
    val mat = books.map(_.map(_.toArray).toArray).toArray
    val cSq = mat.map(_.map(c => c.map(f => (f * f).toDouble).sum))
    // a fixed query vector (vec_id 0) and its ADC table, recomputed
    // exactly as pqAdcTable does (double accumulate over float multiply)
    val q = emb.filter(col("vec_id") === 0).head.getSeq[Float](1).toArray
    val qnorm = math.sqrt(q.map(f => (f * f).toDouble).sum)
    def tableEntry(j: Int, c: Int): Double = {
      var dot = 0.0d
      var d = 0
      while (d < 8) { dot += (q(j * 8 + d) * mat(j)(c)(d)).toDouble; d += 1 }
      dot
    }
    rows.foreach { r =>
      val blob = r.getAs[Array[Byte]]("pq")
      assert(blob.length === 12, "m=8 blob must be 8 codes + 4 norm bytes")
      val codes = blob.take(8).map(_ & 0xFF)
      // exact reconstruction norm
      val expectNorm = math.sqrt(codes.zipWithIndex.map { case (c, j) => cSq(j)(c) }.sum).toFloat
      val bits = (blob(8) & 0xFF) | ((blob(9) & 0xFF) << 8) |
        ((blob(10) & 0xFF) << 16) | ((blob(11) & 0xFF) << 24)
      assert(java.lang.Float.intBitsToFloat(bits) === expectNorm,
        s"recon norm mismatch for vec ${r.getLong(0)}")
      // each code is the L2 argmin of its subvector (ties to smallest)
      val x = r.getSeq[Float](2).toArray
      codes.zipWithIndex.foreach { case (code, j) =>
        val scores = (0 until 64).map { c =>
          var dot = 0.0d
          var d = 0
          while (d < 8) { dot += (x(j * 8 + d) * mat(j)(c)(d)).toDouble; d += 1 }
          cSq(j)(c) - 2.0d * dot
        }
        assert(scores.indexOf(scores.min) === code, s"subspace $j argmin mismatch")
      }
      // ADC == explicit per-subspace-grouped cosine, bit for bit
      val expectCos = codes.zipWithIndex.map { case (c, j) => tableEntry(j, c) }.sum /
        math.max(qnorm * java.lang.Float.intBitsToFloat(bits).toDouble, 1e-12d)
      val got = emb.filter(col("vec_id") === r.getLong(0))
        .select(pqAdcCosineNative(
          VectorPipeline.pqAdcTable(books)(lit(q).cast("array<float>")),
          pqEncodeNative(col("embedding"), books)))
        .head.getDouble(0)
      assert(got === expectCos, s"ADC cosine mismatch for vec ${r.getLong(0)}")
    }
  }

  test("codegen path == interpreted path") {
    import graft.spark.catalyst.{pqAdcCosineNative, pqEncodeNative}
    def scored(): Seq[(Long, Double)] = {
      val q = emb.filter(col("vec_id") < 3)
        .select(col("vec_id").as("q_id"),
          VectorPipeline.pqAdcTable(books)(col("embedding")).as("t"))
      emb.select(col("vec_id"), pqEncodeNative(col("embedding"), books).as("pq"))
        .crossJoin(broadcast(q))
        .select((col("vec_id") * 1000 + col("q_id")).as("k"),
          pqAdcCosineNative(col("t"), col("pq")).as("cos"))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
    }
    val cg = scored()
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val in = scored()
      assert(cg === in, "codegen and interpreted PQ paths disagree")
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("malformed inputs yield null, never a crash") {
    import graft.spark.catalyst.{pqAdcCosineNative, pqEncodeNative}
    import spark.implicits._
    // wrong input dimension -> null blob
    val short = Seq((1L, Seq(1.0f, 2.0f))).toDF("vec_id", "embedding")
    assert(short.select(pqEncodeNative(col("embedding"), books)).head.isNullAt(0))
    // foreign/truncated blob and an oversized code -> null score
    val tab = VectorPipeline.pqAdcTable(books)(
      lit(Array.fill(64)(0.5f)).cast("array<float>"))
    val tiny = Seq(Tuple1(Array[Byte](1, 2, 3))).toDF("pq")
    assert(tiny.select(pqAdcCosineNative(tab, col("pq"))).head.isNullAt(0))
    val oversized = Seq(Tuple1(Array[Byte](100, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)))
      .toDF("pq") // code 100 >= ksub 64
    assert(oversized.select(pqAdcCosineNative(tab, col("pq"))).head.isNullAt(0))
    // table/blob arity mismatch (m=8 table vs 6-code blob) -> null
    val mism = Seq(Tuple1(Array.fill[Byte](10)(0))).toDF("pq")
    assert(mism.select(pqAdcCosineNative(tab, col("pq"))).head.isNullAt(0))
    // cross-m books mismatch where DIVISIBILITY holds (m=8·ksub=64 table
    // has 512 entries; an m=16 blob divides it: 512 % 16 == 0) — the m
    // header must refuse it instead of silently scoring garbage
    val m16blob = Seq(Tuple1(Array.fill[Byte](20)(0))).toDF("pq")
    assert(m16blob.select(pqAdcCosineNative(tab, col("pq"))).head.isNullAt(0))
  }

  private def deleteTmp(dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  test("IVF-PQ index: build -> probe -> append-equivalence -> sidecar self-verify") {
    import graft.core.Hashing
    val book = VectorPipeline.trainedCodebookDistributed(emb, 16,
      sampleN = 1 << 12, iters = 5).cache()
    val pqBooks = VectorPipeline.trainedPqBooks(emb, m = 16, ksub = 256)
    val queries = emb.filter(col("vec_id") < 20)
    val full = s"/tmp/graft_pqspec_full_${java.util.UUID.randomUUID()}"
    val half = s"/tmp/graft_pqspec_half_${java.util.UUID.randomUUID()}"
    try {
      VectorPipeline.writeIvfIndex(emb, book, full, IvfLayout(storage = IvfStorage.Pq(pqBooks)))
      // the persisted books ARE the trained books
      assert(VectorPipeline.pqBooksFingerprint(VectorPipeline.readPqBooks(spark, full))
        === VectorPipeline.pqBooksFingerprint(pqBooks))
      // probe end-to-end (re-ranked) against the float brute force
      val bf = VectorPipeline.bruteForceTopK(emb, queries, 10)
        .select(col("q_id"), col("n_id"))
      val pq = VectorPipeline.rerankTopK(
        VectorPipeline.ivfScoredCandidatesFromIndex(spark, full, queries, maxProbe = 8),
        emb, queries, k = 10, candidates = 40).select(col("q_id"), col("n_id"))
      val recall = bf.join(pq, Seq("q_id", "n_id")).count().toDouble / (20 * 10)
      info(s"IVF-PQ re-ranked recall@10 at nprobe 8/16: $recall")
      // nprobe 8/16 caps recall at the IVF pruning level (~0.9 on these
      // weakly-clustered embeddings, CodebookSpec); PQ + re-rank must
      // not degrade it below the pruning floor
      assert(recall >= 0.7, s"IVF-PQ recall $recall under floor")
      // append-equivalence: half build + half append == one-shot build
      VectorPipeline.writeIvfIndex(emb.filter(col("vec_id") % 2 === 0), book,
        half, IvfLayout(storage = IvfStorage.Pq(pqBooks)))
      VectorPipeline.appendToIvfIndex(emb.filter(col("vec_id") % 2 === 1), half)
      def sig(path: String): (Long, Long) = {
        val r = spark.read.parquet(path)
          .agg(expr("bit_xor(xxhash64(vec_id, pq, centroid_id))"), count(lit(1))).head
        (r.getLong(0), r.getLong(1))
      }
      assert(sig(full) === sig(half), "append != one-shot build")
      // a non-PQ index refuses PQ probes (no _pqbooks sidecar)
      val plain = s"/tmp/graft_pqspec_plain_${java.util.UUID.randomUUID()}"
      try {
        VectorPipeline.writeIvfIndex(emb, book, plain)
        val e = intercept[IllegalArgumentException](
          VectorPipeline.readPqBooks(spark, plain))
        assert(e.getMessage.contains("_pqbooks"))
      } finally deleteTmp(plain)
      // a corrupted books sidecar fails its own fingerprint
      val fs = new org.apache.hadoop.fs.Path(full)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val files = fs.listStatus(new org.apache.hadoop.fs.Path(s"$full/_pqbooks"))
        .map(_.getPath).filter(_.getName.endsWith(".parquet"))
      assert(files.nonEmpty)
      import spark.implicits._
      val tampered = pqBooks.updated(0, pqBooks(0).updated(0,
        pqBooks(0)(0).updated(0, pqBooks(0)(0)(0) + 1.0f)))
      val fp = Hashing.xxHash64Long(0L, 0L) // any wrong constant
      (for ((b, j) <- tampered.zipWithIndex; (c, ci) <- b.zipWithIndex)
        yield (j, ci, c, fp)).toDF("sub", "code", "c_emb", "__fingerprint")
        .coalesce(1).write.mode("overwrite").parquet(s"$full/_pqbooks")
      val e2 = intercept[IllegalArgumentException](
        VectorPipeline.readPqBooks(spark, full))
      assert(e2.getMessage.contains("fingerprint"))
    } finally { deleteTmp(full); deleteTmp(half); book.unpersist() }
  }

  test("recall floors vs float brute force (m=16, ksub=256 — the q53 config)") {
    // floors from the PqBench sweep (BENCH.md "Product quantization"):
    // m=16/ksub=256 measures one-stage 0.69–0.81 and re-ranked (c=4k)
    // 0.985–1.0 across sf0.01/sf0.1 on these weakly-clustered embeddings
    val prodBooks = VectorPipeline.trainedPqBooks(emb, m = 16, ksub = 256)
    val queries = emb.filter(col("vec_id") < 20)
    val nq = queries.count()
    val bf = VectorPipeline.bruteForceTopK(emb, queries, 10)
      .select(col("q_id"), col("n_id")).cache()
    val one = VectorPipeline.bruteForceTopKPq(emb, queries, prodBooks, 10)
      .select(col("q_id"), col("n_id"))
    val rOne = bf.join(one, Seq("q_id", "n_id")).count().toDouble / (nq * 10)
    val two = VectorPipeline.bruteForceTopKPqReranked(emb, queries, prodBooks, 10)
      .select(col("q_id"), col("n_id"))
    val rTwo = bf.join(two, Seq("q_id", "n_id")).count().toDouble / (nq * 10)
    bf.unpersist()
    info(s"PQ recall@10 one-stage=$rOne reranked=$rTwo")
    assert(rOne >= 0.6, s"one-stage PQ recall $rOne under floor")
    assert(rTwo >= 0.95, s"re-ranked PQ recall $rTwo under floor")
  }
}
