package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The persisted SRP band index (SrpIndex) — the dense-embedding sibling
  * of LshIndexSpec, over the same shared physical core (BandIndex).
  * The fixture embeddings are unit-norm with natural pairwise cos ≤ ~0.6,
  * so near-dups are PLANTED deterministically: multiplicative ±5%
  * per-dimension perturbations (cos ≈ 0.999 to the source, ≤ ~0.65 to
  * everything else) and negated vectors as guaranteed-novel probes
  * (cos ≤ 0.56 to all of the corpus). Pins:
  *   1. EQUIVALENCE — index-probe candidates equal the from-scratch
  *      `srpCandidates(corpus ∪ batch)` cross pairs;
  *   2. APPEND — build-half + append-half row-identical to one-shot;
  *      fan-out is an index property (different fan-outs answer alike);
  *   3. PRUNING — a single-vector probe physically reads only its
  *      touched buckets' files;
  *   4. VERIFY — exact-cosine verification recovers exactly the planted
  *      pair set; the novelty filter keeps exactly the non-planted vecs;
  *   5. SIDECAR SAFETY — missing/tampered `_srpmeta` refuses to probe;
  *   6. LIFECYCLE — fragmenting appends → compact+flip dedups torn-replay
  *      residue → retire, probes identical across the flip.
  */
class SrpIndexSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .appName("graft-srp-index-test")
    .getOrCreate()

  private def vecs = VectorPipeline.embeddings(spark, "/root/testdata/sf0.001")
    .select(col("vec_id"), col("embedding"))

  /** ±5% multiplicative perturbation (cos ≈ 0.9996 to the source, far
    * below τ to all others) — VectorPipeline's planting fixture. */
  private def perturb(v: DataFrame, idOffset: Long): DataFrame =
    VectorPipeline.perturbEmbeddings(v, idOffset)

  /** Negation: cos = −cos(src, ·) ≤ 0.56 against the whole corpus —
    * guaranteed novel at τ = 0.9. */
  private def negate(v: DataFrame, idOffset: Long): DataFrame =
    VectorPipeline.negateEmbeddings(v, idOffset)

  private def rm(p: String): Unit = {
    val path = new org.apache.hadoop.fs.Path(p)
    path.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(path, true)
    ()
  }

  test("index-probe candidates equal the from-scratch SRP cross pairs") {
    val corpus = vecs.cache()
    val batch = perturb(corpus.filter(col("vec_id") % 5 === 0), 100000)
      .unionByName(negate(corpus.filter(col("vec_id") % 5 === 1), 200000))
      .cache()
    val path = "/tmp/graft_test_srp_equiv"
    try {
      SrpIndex.write(corpus, path, numBuckets = 32)
      val viaIndex = SrpIndex.probeCandidates(spark, path, batch)
      // from-scratch reference: all-pairs SRP over the union, restricted
      // to (batch, corpus) cross pairs (batch ids are offset ≥ 100000)
      val scratch = VectorPipeline.srpCandidates(corpus.unionByName(batch))
        .filter((col("id_a") >= 100000) =!= (col("id_b") >= 100000))
        .select(
          when(col("id_a") >= 100000, col("id_a")).otherwise(col("id_b")).as("vec_new"),
          when(col("id_a") >= 100000, col("id_b")).otherwise(col("id_a")).as("vec_old"))
      assert(viaIndex.exceptAll(scratch).isEmpty && scratch.exceptAll(viaIndex).isEmpty,
        "index probe must produce exactly the from-scratch SRP cross-candidate set")
      // every planted near-dup is recalled as its own candidate pair
      val planted = corpus.filter(col("vec_id") % 5 === 0)
        .select((col("vec_id") + 100000).as("vec_new"), col("vec_id").as("vec_old"))
      assert(planted.exceptAll(viaIndex).isEmpty,
        "SRP at 16x32 banding must recall all planted cos~0.999 pairs")
      // shuffle-hash (non-broadcast) probe shape answers identically
      val big = SrpIndex.probeCandidates(spark, path, batch, broadcastProbe = false)
      assert(big.exceptAll(viaIndex).isEmpty && viaIndex.exceptAll(big).isEmpty)
    } finally { rm(path); corpus.unpersist(); batch.unpersist() }
  }

  test("append-half == one-shot build; fan-out is an index property") {
    val corpus = vecs.cache()
    val batch = perturb(corpus.filter(col("vec_id") % 5 === 0), 100000).cache()
    val one = "/tmp/graft_test_srp_once"
    val acc = "/tmp/graft_test_srp_accreted"
    val b16 = "/tmp/graft_test_srp_b16"
    try {
      SrpIndex.write(corpus, one, numBuckets = 32)
      SrpIndex.write(corpus.filter(col("vec_id") % 2 === 0), acc, numBuckets = 32)
      SrpIndex.append(corpus.filter(col("vec_id") % 2 === 1), acc)
      def rows(p: String) = spark.read.parquet(p)
        .select(col("vec_id"), col("band"), col("bkey"), col("bucket"))
      assert(rows(one).exceptAll(rows(acc)).isEmpty &&
        rows(acc).exceptAll(rows(one)).isEmpty,
        "accreted index must be row-identical to the one-shot build")
      // different fan-out: append reads N from the sidecar; probes agree
      SrpIndex.write(corpus.filter(col("vec_id") % 2 === 0), b16, numBuckets = 16)
      SrpIndex.append(corpus.filter(col("vec_id") % 2 === 1), b16)
      val a = SrpIndex.probeCandidates(spark, acc, batch)
      val b = SrpIndex.probeCandidates(spark, b16, batch)
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
        "probe results must be fan-out-independent")
      val e = intercept[IllegalArgumentException](SrpIndex.write(corpus, b16, 100))
      assert(e.getMessage.contains("power of two"))
    } finally { rm(one); rm(acc); rm(b16); corpus.unpersist(); batch.unpersist() }
  }

  test("single-vector probe is bucket-pruned: unprobed buckets' files unread") {
    val corpus = vecs.cache()
    val path = "/tmp/graft_test_srp_prune"
    try {
      SrpIndex.write(corpus, path)
      val totalFiles = spark.read.parquet(path).inputFiles.length
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val oneVec = perturb(corpus.orderBy(col("vec_id")).limit(1), 100000)
      val cands = SrpIndex.probeCandidates(spark, path, oneVec)
      try cands.collect()
      finally spark.conf.set("spark.sql.adaptive.enabled", "true")
      val scans = cands.queryExecution.executedPlan.collect {
        case f: FileSourceScanExec if f.relation.location.rootPaths
          .exists(_.toString.contains("graft_test_srp_prune")) => f
      }
      assert(scans.nonEmpty, "expected a FileSourceScanExec over the index")
      val scan = scans.head
      assert(scan.partitionFilters.exists(_.toString.contains("bucket")),
        s"scan must carry a bucket partition filter, got: ${scan.partitionFilters}")
      assert(scan.metrics("numFiles").value < totalFiles,
        s"pruned probe read ${scan.metrics("numFiles").value} of $totalFiles files")
    } finally { rm(path); corpus.unpersist() }
  }

  test("verified pairs recover exactly the planted set; novelty filter complements") {
    val corpus = vecs.cache()
    val batch = perturb(corpus.filter(col("vec_id") % 5 === 0), 100000)
      .unionByName(negate(corpus.filter(col("vec_id") % 5 === 1), 200000))
      .cache()
    val path = "/tmp/graft_test_srp_verify"
    try {
      SrpIndex.write(corpus, path, numBuckets = 32)
      // exact truth: brute-force cosine over the (batch x corpus) cross —
      // bounded by the fixture, the oracle side of the gate
      val truth = batch.select(col("vec_id").as("vec_new"), col("embedding").as("__en"))
        .crossJoin(corpus.select(col("vec_id").as("vec_old"), col("embedding").as("__eo")))
        .filter(graft.spark.catalyst.cosineNative(col("__en"), col("__eo")) >= SrpIndex.DefaultTau)
        .select(col("vec_new"), col("vec_old"))
        .cache()
      // the planted construction IS the truth set (margins: 0.999 vs 0.65)
      val planted = corpus.filter(col("vec_id") % 5 === 0)
        .select((col("vec_id") + 100000).as("vec_new"), col("vec_id").as("vec_old"))
      assert(truth.exceptAll(planted).isEmpty && planted.exceptAll(truth).isEmpty,
        "planted perturbations must be exactly the exact-cosine pair set")
      val got = SrpIndex.verifiedDupPairs(spark, path, batch, corpus)
        .select(col("vec_new"), col("vec_old"))
      assert(got.exceptAll(truth).isEmpty && truth.exceptAll(got).isEmpty,
        "verified dup pairs must equal the exact cos>=tau cross-pair set")
      val novel = SrpIndex.novel(spark, path, batch, corpus)
      val expectNovel = batch.join(truth.select(col("vec_new").as("vec_id")).distinct(),
        Seq("vec_id"), "left_anti")
      assert(novel.select("vec_id").exceptAll(expectNovel.select("vec_id")).isEmpty &&
        expectNovel.select("vec_id").exceptAll(novel.select("vec_id")).isEmpty,
        "novelty filter must keep exactly the batch vectors with no dup")
      truth.unpersist()
    } finally { rm(path); corpus.unpersist(); batch.unpersist() }
  }

  test("cross-index candidates + verify recover the planted cross pairs (mixed fan-outs)") {
    val v = vecs.cache()
    // corpus B: perturbations of every 3rd A vector (planted cross dups,
    // cos ≈ 0.9996 to exactly their source) + negations (never match)
    val a = v
    val b = perturb(v.filter(col("vec_id") % 3 === 0), 1000000L)
      .unionByName(negate(v.filter(col("vec_id") % 3 === 1), 2000000L)).cache()
    val base = "/tmp/graft_test_srp_cross"
    try {
      rm(base)
      SrpIndex.write(a, s"$base/ixA", numBuckets = 16)
      SrpIndex.write(b, s"$base/ixB", numBuckets = 64)
      val verified = SrpIndex.verifiedCrossPairs(spark, s"$base/ixA", s"$base/ixB", a, b)
        .select(col("vec_a"), col("vec_b"))
      // exact truth: brute-force cosine over the cross product
      val truth = a.select(col("vec_id").as("vec_a"), col("embedding").as("__ea"))
        .crossJoin(b.select(col("vec_id").as("vec_b"), col("embedding").as("__eb")))
        .filter(graft.spark.catalyst.cosineNative(col("__ea"), col("__eb"))
          >= SrpIndex.DefaultTau)
        .select(col("vec_a"), col("vec_b"))
      assert(verified.exceptAll(truth).isEmpty && truth.exceptAll(verified).isEmpty,
        "verified cross pairs must equal the brute-force cosine cross pair set")
      assert(verified.count() === v.filter(col("vec_id") % 3 === 0).count(),
        "every planted perturbation pairs with exactly its source")
    } finally { rm(base); b.unpersist(); v.unpersist() }
  }

  test("missing or tampered _srpmeta refuses to probe or append") {
    val corpus = vecs.limit(50).cache()
    val path = "/tmp/graft_test_srp_meta"
    try {
      SrpIndex.write(corpus, path, numBuckets = 32)
      // tamper: a WRONG-family but internally consistent sidecar (the
      // fingerprint recomputed to match) -> the family-mismatch error.
      val fp = {
        var h = 0x529L
        for (v <- Seq(8, 32, 256, 4096))
          h = graft.core.Hashing.xxHash64Long(v.toLong, h)
        h
      }
      import spark.implicits._
      Seq((8, 32, 256, 4096, fp))
        .toDF("band_bits", "bands", "buckets", "max_dim", "__fingerprint")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/_srpmeta")
      val e1 = intercept[IllegalArgumentException](
        SrpIndex.probeCandidates(spark, path, corpus).collect())
      assert(e1.getMessage.contains("family mismatch"))
      // corrupt: fingerprint that fails self-verification
      Seq((16, 32, 256, 4096, 0L))
        .toDF("band_bits", "bands", "buckets", "max_dim", "__fingerprint")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/_srpmeta")
      val e2 = intercept[IllegalArgumentException](SrpIndex.append(corpus, path))
      assert(e2.getMessage.contains("fingerprint"))
      rm(s"$path/_srpmeta")
      val e3 = intercept[IllegalArgumentException](
        SrpIndex.probeCandidates(spark, path, corpus).collect())
      assert(e3.getMessage.contains("no _srpmeta"))
    } finally { rm(path); corpus.unpersist() }
  }

  test("ingestNovel: greedy novelty gate over embedding batches, replay-idempotent") {
    val corpus = vecs.cache()
    val base = "/tmp/graft_test_srp_ingest"
    val ix = s"$base/index"; val kept = s"$base/kept"
    try {
      rm(base)
      // t0: the corpus bootstraps both stores (all kept). t1: perturbed
      // copies of A (dups of kept t0 -> dropped) + negations of B (novel
      // -> kept). t2: re-perturbed A (still cos>=0.999 to t0 via two
      // +/-5% compositions -> dropped), perturbations of the KEPT t1
      // negations (dup of t1 -> dropped), negations of C (novel -> kept).
      val a = corpus.filter(col("vec_id") % 5 === 0)
      val b = corpus.filter(col("vec_id") % 5 === 1)
      val c = corpus.filter(col("vec_id") % 5 === 2)
      val t1 = perturb(a, 100000).unionByName(negate(b, 200000))
      val t2 = perturb(perturb(a, 100000), 200000)
        .unionByName(perturb(negate(b, 200000), 200000))
        .unionByName(negate(c, 500000))
      val n0 = SrpIndex.ingestNovel(spark, ix, kept, corpus, batchId = 0L, numBuckets = 16)
      val n1 = SrpIndex.ingestNovel(spark, ix, kept, t1, batchId = 1L, numBuckets = 16)
      val n2 = SrpIndex.ingestNovel(spark, ix, kept, t2, batchId = 2L, numBuckets = 16)
      assert(n0 === corpus.count())
      assert(n1 === b.count(), "t1 must keep exactly the negations")
      assert(n2 === c.count(), "t2 must keep exactly the fresh negations")
      val keptIds = spark.read.parquet(kept).select(col("vec_id"))
      val expect = corpus.select(col("vec_id"))
        .unionByName(b.select((col("vec_id") + 200000).as("vec_id")))
        .unionByName(c.select((col("vec_id") + 500000).as("vec_id")))
      assert(keptIds.exceptAll(expect).isEmpty && expect.exceptAll(keptIds).isEmpty,
        "kept set must be exactly corpus + novel negations")
      // replaying a committed batch is a no-op (the foreachBatch replay
      // contract): marker short-circuits, both stores byte-unchanged.
      // Index signature hashes the FULL band row AND carries a count —
      // xor of xxhash64(vec_id) alone cancels to 0 (32 identical hashes
      // per vector, an even number), which would make the index half of
      // this guard vacuously stable under any mutation.
      def storeSig(): ((Long, Long), (Long, Long)) = {
        def one(p: String, cols: String) = {
          val r = spark.read.parquet(p)
            .agg(expr(s"bit_xor(xxhash64($cols))"), count(lit(1))).head
          (r.getLong(0), r.getLong(1))
        }
        (one(ix, "vec_id, band, bkey, bucket"), one(kept, "vec_id"))
      }
      val before = storeSig()
      val replayKept = SrpIndex.ingestNovel(spark, ix, kept, t1, batchId = 1L, numBuckets = 16)
      assert(storeSig() === before, "replay of a committed batch must not mutate stores")
      assert(replayKept === n1, "replay must report the originally-recorded kept count")
      // the index holds exactly the kept vectors' band rows — dropped
      // vectors are never indexed (the greedy contract's observable half)
      val got = spark.read.parquet(ix)
        .select(col("vec_id"), col("band"), col("bkey"), col("bucket"))
      val want = SrpIndex.indexRows(spark.read.parquet(kept), 16)
        .select(col("vec_id"), col("band"), col("bkey"), col("bucket"))
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
      // TORN marker (crash between create and writeLong — marker exists,
      // empty): the marker lands AFTER both stores, so the kept partition
      // is authoritative; replay must recover the count, heal the marker,
      // and leave both stores unchanged instead of dying on EOF forever
      val fs = new org.apache.hadoop.fs.Path(ix)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val m2 = new org.apache.hadoop.fs.Path(s"$ix/_ingested/batch-2")
      fs.create(m2, true).close() // truncate to zero bytes
      val healed = SrpIndex.ingestNovel(spark, ix, kept, t2, batchId = 2L, numBuckets = 16)
      assert(healed === n2, "torn-marker replay must recover the recorded count")
      assert(storeSig() === before, "torn-marker recovery must not mutate stores")
      val in2 = fs.open(m2)
      try assert(in2.readLong() === n2, "marker must be healed with the count")
      finally in2.close()
    } finally { rm(base); corpus.unpersist() }
  }

  test("rebucket: fan-out growth is a bucket-column recompute, probes identical") {
    val corpus = vecs.cache()
    val batch = perturb(corpus.filter(col("vec_id") % 5 === 0), 100000).cache()
    val root = "/tmp/graft_test_srp_rebucket"
    try {
      rm(root)
      val gen1 = SrpIndex.writeVersioned(corpus, root, numBuckets = 16)
      val cands1 = SrpIndex.probeCandidates(spark, gen1, batch).cache()
      cands1.count()
      val gen2 = SrpIndex.rebucketVersioned(spark, root, 64)
      val got = spark.read.parquet(gen2)
        .select(col("vec_id"), col("band"), col("bkey"), col("bucket"))
      val want = SrpIndex.indexRows(corpus, 64)
        .select(col("vec_id"), col("band"), col("bkey"), col("bucket"))
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        "rebucket must be exactly a bucket-column recompute at the new fan-out")
      val cands2 = SrpIndex.probeCandidates(spark,
        SrpIndex.currentPath(spark, root), batch)
      assert(cands1.exceptAll(cands2).isEmpty && cands2.exceptAll(cands1).isEmpty,
        "probes must answer identically across the rebucket flip")
      cands1.unpersist()
    } finally { rm(root); corpus.unpersist(); batch.unpersist() }
  }

  test("versioned root: fragmenting appends -> compact+flip dedups residue -> retire") {
    val corpus = vecs.cache()
    val batch = perturb(corpus.filter(col("vec_id") % 5 === 0), 100000).cache()
    val root = "/tmp/graft_test_srp_root"
    val hfs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      rm(root)
      intercept[IllegalArgumentException](SrpIndex.currentPath(spark, root))
      val gen1 = SrpIndex.writeVersioned(
        corpus.filter(col("vec_id") % 2 === 0), root, numBuckets = 16)
      assert(SrpIndex.currentPath(spark, root) === gen1)
      val rest = corpus.filter(col("vec_id") % 2 === 1)
      SrpIndex.append(rest, gen1)
      // torn-replay residue: the same batch appended twice
      SrpIndex.append(rest, gen1)
      val cands1 = SrpIndex.probeCandidates(spark, gen1, batch).cache()
      cands1.count()
      assert(SrpIndex.stats(spark, gen1)
        .agg(max(col("n_files"))).head.getLong(0) > 1L,
        "appends should have fragmented at least one bucket")
      val rawBefore = spark.read.parquet(gen1).count()

      val gen2 = SrpIndex.compactVersioned(spark, root)
      assert(gen2 !== gen1)
      assert(SrpIndex.currentPath(spark, root) === gen2)
      assert(SrpIndex.stats(spark, gen2)
        .agg(max(col("n_files"))).head.getLong(0) === 1L,
        "compacted generation must be one file per bucket")
      assert(spark.read.parquet(gen2).count() < rawBefore,
        "compaction must drop the torn-replay duplicate band rows")
      val got = spark.read.parquet(gen2)
        .select(col("vec_id"), col("band"), col("bkey"), col("bucket"))
      val want = SrpIndex.indexRows(corpus, 16)
        .select(col("vec_id"), col("band"), col("bkey"), col("bucket"))
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        "compacted index must hold exactly the dup-free band-row set")
      val cands2 = SrpIndex.probeCandidates(spark,
        SrpIndex.currentPath(spark, root), batch)
      assert(cands1.exceptAll(cands2).isEmpty && cands2.exceptAll(cands1).isEmpty,
        "post-flip probe must answer identically")
      assert(hfs.exists(new org.apache.hadoop.fs.Path(gen1)))
      val retired = SrpIndex.retireGenerations(spark, root)
      assert(retired === Seq(gen1), s"expected to retire only $gen1, got $retired")
      assert(!hfs.exists(new org.apache.hadoop.fs.Path(gen1)))
      cands1.unpersist()
    } finally { rm(root); corpus.unpersist(); batch.unpersist() }
  }
}
