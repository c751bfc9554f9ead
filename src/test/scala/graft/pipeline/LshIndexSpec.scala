package graft.pipeline

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The persisted MinHash-LSH band index (LshIndex). Pins the properties
  * that make it the incremental-dedup read path:
  *   1. EQUIVALENCE — index-probe candidates (batch vs corpus) equal the
  *      from-scratch `minhashCandidates(corpus ∪ batch)` cross pairs;
  *   2. APPEND — build-half + append-half is row-identical to one-shot;
  *   3. PRUNING — a single-doc probe physically reads only its touched
  *      buckets' files (FileSourceScanExec numFiles);
  *   4. SIDE-CAR SAFETY — a missing or tampered `_lshmeta` refuses to
  *      probe/append rather than silently returning empty candidates.
  */
class LshIndexSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .appName("graft-lsh-index-test")
    .getOrCreate()

  private def docs = TextPipeline.documents(spark, "/root/testdata/sf0.001")
    .select(col("doc_id"), col("text"))

  private def rm(p: String): Unit = {
    val path = new org.apache.hadoop.fs.Path(p)
    path.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(path, true)
    ()
  }

  test("index-probe candidates equal the from-scratch LSH cross pairs") {
    val d = docs.cache()
    val corpus = d.filter(col("doc_id") % 3 =!= 0)
    val batch = d.filter(col("doc_id") % 3 === 0)
    val path = "/tmp/graft_test_lsh_equiv"
    try {
      LshIndex.write(corpus, path, numBuckets = 32)
      val viaIndex = LshIndex.probeCandidates(spark, path, batch)
      // from-scratch reference: all-pairs LSH over the union, restricted
      // to (batch, corpus) cross pairs, normalized to (doc_new, doc_old)
      val isNew = (c: org.apache.spark.sql.Column) => c % 3 === 0
      val scratch = TextPipeline.minhashCandidates(d)
        .filter(isNew(col("doc_a")) =!= isNew(col("doc_b")))
        .select(
          when(isNew(col("doc_a")), col("doc_a")).otherwise(col("doc_b")).as("doc_new"),
          when(isNew(col("doc_a")), col("doc_b")).otherwise(col("doc_a")).as("doc_old"))
      assert(viaIndex.exceptAll(scratch).isEmpty && scratch.exceptAll(viaIndex).isEmpty,
        "index probe must produce exactly the from-scratch LSH cross-candidate set")
      // shuffle-hash (non-broadcast) probe shape answers identically
      val big = LshIndex.probeCandidates(spark, path, batch, broadcastProbe = false)
      assert(big.exceptAll(viaIndex).isEmpty && viaIndex.exceptAll(big).isEmpty)
      // FromRows probe (the sign-once ingest path) answers identically
      // even when the rows were signed at a DIFFERENT fan-out: the
      // bucket is re-derived from the band key at the sidecar's fan-out
      // (rows signed at 256 against a 32-bucket index would otherwise
      // silently miss every candidate — bucket joins)
      val foreignRows = LshIndex.indexRows(batch, numBuckets = 256)
        .localCheckpoint(true)
      val viaRows = LshIndex.probeCandidatesFromRows(spark, path, foreignRows)
      assert(viaRows.exceptAll(viaIndex).isEmpty && viaIndex.exceptAll(viaRows).isEmpty,
        "FromRows probe must re-derive buckets at the index's own fan-out")
    } finally { rm(path); d.unpersist() }
  }

  test("append-half == one-shot build, and the accreted index probes identically") {
    val d = docs.cache()
    val corpus = d.filter(col("doc_id") % 3 =!= 0)
    val one = "/tmp/graft_test_lsh_once"
    val acc = "/tmp/graft_test_lsh_accreted"
    try {
      LshIndex.write(corpus, one, numBuckets = 32)
      LshIndex.write(corpus.filter(col("doc_id") % 3 === 1), acc, numBuckets = 32)
      LshIndex.append(corpus.filter(col("doc_id") % 3 === 2), acc)
      def rows(p: String) = spark.read.parquet(p)
        .select(col("doc_id"), col("band"), col("bkey"), col("bucket"))
      assert(rows(one).exceptAll(rows(acc)).isEmpty &&
        rows(acc).exceptAll(rows(one)).isEmpty,
        "accreted index must be row-identical to the one-shot build")
      val batch = d.filter(col("doc_id") % 3 === 0)
      val a = LshIndex.probeCandidates(spark, one, batch)
      val b = LshIndex.probeCandidates(spark, acc, batch)
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    } finally { rm(one); rm(acc); d.unpersist() }
  }

  test("single-doc probe is bucket-pruned: unprobed buckets' files unread") {
    val d = docs.cache()
    val path = "/tmp/graft_test_lsh_prune"
    try {
      LshIndex.write(d, path)
      val totalFiles = spark.read.parquet(path).inputFiles.length
      // one doc touches <= 42 of 256 buckets; the pruned scan must read
      // strictly fewer files than the whole index. AQE off so the scan
      // node's metrics are reachable (the IvfIndexSpec pattern).
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val oneDoc = d.orderBy(col("doc_id")).limit(1)
      val cands = LshIndex.probeCandidates(spark, path, oneDoc)
      try cands.collect()
      finally spark.conf.set("spark.sql.adaptive.enabled", "true")
      val scans = cands.queryExecution.executedPlan.collect {
        case f: FileSourceScanExec if f.relation.location.rootPaths
          .exists(_.toString.contains("graft_test_lsh_prune")) => f
      }
      assert(scans.nonEmpty, "expected a FileSourceScanExec over the index")
      val scan = scans.head
      assert(scan.partitionFilters.exists(_.toString.contains("bucket")),
        s"scan must carry a bucket partition filter, got: ${scan.partitionFilters}")
      assert(scan.metrics("numFiles").value < totalFiles,
        s"pruned probe read ${scan.metrics("numFiles").value} of $totalFiles files")
    } finally { rm(path); d.unpersist() }
  }

  test("verified pairs + novelty filter match the exact cross criterion") {
    val d = docs.cache()
    val corpus = d.filter(col("doc_id") % 3 =!= 0)
    val batch = d.filter(col("doc_id") % 3 === 0)
    val path = "/tmp/graft_test_lsh_verify"
    try {
      LshIndex.write(corpus, path, numBuckets = 32)
      val isNew = (c: org.apache.spark.sql.Column) => c % 3 === 0
      val truth = TextPipeline.exactJaccardPairs(d)
        .filter(isNew(col("doc_a")) =!= isNew(col("doc_b")))
        .select(
          when(isNew(col("doc_a")), col("doc_a")).otherwise(col("doc_b")).as("doc_new"),
          when(isNew(col("doc_a")), col("doc_b")).otherwise(col("doc_a")).as("doc_old"))
        .cache()
      val got = LshIndex.verifiedDupPairs(spark, path, batch, corpus)
        .select(col("doc_new"), col("doc_old"))
      assert(got.exceptAll(truth).isEmpty && truth.exceptAll(got).isEmpty,
        "verified dup pairs must equal the exact Jaccard>=1/2 cross-pair set")
      val novel = LshIndex.novel(spark, path, batch, corpus)
      val expectNovel = batch.join(truth.select(col("doc_new").as("doc_id")).distinct(),
        Seq("doc_id"), "left_anti")
      assert(novel.count() === expectNovel.count())
      truth.unpersist()
    } finally { rm(path); d.unpersist() }
  }

  test("bucket fan-out is an index property: different fan-outs probe and append identically") {
    val d = docs.cache()
    val corpus = d.filter(col("doc_id") % 3 =!= 0)
    val batch = d.filter(col("doc_id") % 3 === 0)
    val pA = "/tmp/graft_test_lsh_b64"
    val pB = "/tmp/graft_test_lsh_b16"
    try {
      LshIndex.write(corpus.filter(col("doc_id") % 3 === 1), pA, numBuckets = 64)
      LshIndex.write(corpus.filter(col("doc_id") % 3 === 1), pB, numBuckets = 16)
      // append reads the fan-out from the sidecar — same binary, both layouts
      LshIndex.append(corpus.filter(col("doc_id") % 3 === 2), pA)
      LshIndex.append(corpus.filter(col("doc_id") % 3 === 2), pB)
      val a = LshIndex.probeCandidates(spark, pA, batch)
      val b = LshIndex.probeCandidates(spark, pB, batch)
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
        "probe results must be fan-out-independent")
      // non-power-of-two fan-out is rejected at the door
      val e = intercept[IllegalArgumentException](LshIndex.write(corpus, pB, 100))
      assert(e.getMessage.contains("power of two"))
    } finally { rm(pA); rm(pB); d.unpersist() }
  }

  test("cross-index candidates equal from-scratch LSH cross pairs (mixed fan-outs)") {
    val d = docs.cache()
    val a = d.filter(col("doc_id") % 2 === 0)
    val b = d.filter(col("doc_id") % 2 =!= 0)
    val base = "/tmp/graft_test_lsh_cross"
    try {
      rm(base)
      // DIFFERENT fan-outs on purpose: bucket layout is index-local, the
      // band keys are the join — mixed fan-outs must not change results
      LshIndex.write(a, s"$base/ixA", numBuckets = 16)
      LshIndex.write(b, s"$base/ixB", numBuckets = 64)
      val cross = LshIndex.crossCandidates(spark, s"$base/ixA", s"$base/ixB")
      val isA = (c: org.apache.spark.sql.Column) => c % 2 === 0
      val scratch = TextPipeline.minhashCandidates(d)
        .filter(isA(col("doc_a")) =!= isA(col("doc_b")))
        .select(
          when(isA(col("doc_a")), col("doc_a")).otherwise(col("doc_b")).as("doc_a"),
          when(isA(col("doc_a")), col("doc_b")).otherwise(col("doc_a")).as("doc_b"))
      assert(cross.exceptAll(scratch).isEmpty && scratch.exceptAll(cross).isEmpty,
        "cross-index candidates must equal the from-scratch LSH cross pairs")
      // exact verify stage: both directions against the exact pair set
      val verified = LshIndex.verifiedCrossPairs(spark, s"$base/ixA", s"$base/ixB", a, b)
        .select(col("doc_a"), col("doc_b"))
      val truth = TextPipeline.exactJaccardPairs(d)
        .filter(isA(col("doc_a")) =!= isA(col("doc_b")))
        .select(
          when(isA(col("doc_a")), col("doc_a")).otherwise(col("doc_b")).as("doc_a"),
          when(isA(col("doc_a")), col("doc_b")).otherwise(col("doc_a")).as("doc_b"))
      assert(verified.exceptAll(truth).isEmpty && truth.exceptAll(verified).isEmpty,
        "verified cross pairs must equal the exact Jaccard cross pair set")
    } finally { rm(base); d.unpersist() }
  }

  test("ingestNovel: sequential novelty gate equals the batch greedy rule, index tracks kept docs") {
    val d = docs.cache()
    val base = "/tmp/graft_test_lsh_ingest"
    val ix = s"$base/index"; val kept = s"$base/kept"
    try {
      rm(base)
      // three ingest steps in tercile order — greedy: a doc is kept iff no
      // EARLIER-kept doc is an exact near-dup; same-batch docs never shadow
      for (i <- 0 to 2)
        LshIndex.ingestNovel(spark, ix, kept, d.filter(col("doc_id") % 3 === i),
          batchId = i.toLong, numBuckets = 16)
      // replaying a committed batch is a no-op: the marker short-circuits
      // (the foreachBatch replay contract) — both stores byte-unchanged.
      // Index signature hashes the FULL band row AND carries a count —
      // xor of xxhash64(doc_id) alone cancels to 0 (42 identical hashes
      // per doc, an even number), which would make the index half of
      // this guard vacuously stable under any mutation.
      def storeSig(): ((Long, Long), (Long, Long)) = {
        def one(p: String, cols: String) = {
          val r = spark.read.parquet(p)
            .agg(expr(s"bit_xor(xxhash64($cols))"), count(lit(1))).head
          (r.getLong(0), r.getLong(1))
        }
        (one(ix, "doc_id, band, bkey, bucket"), one(kept, "doc_id"))
      }
      val before = storeSig()
      val replayKept = LshIndex.ingestNovel(spark, ix, kept,
        d.filter(col("doc_id") % 3 === 1), batchId = 1L, numBuckets = 16)
      assert(storeSig() === before, "replay of a committed batch must not mutate stores")
      assert(replayKept === spark.read.parquet(s"$kept/batch=1").count(),
        "replay must report the originally-recorded kept count")
      val keptIds = spark.read.parquet(kept).select(col("doc_id"))
      val pairs = TextPipeline.exactJaccardPairs(d).select(col("doc_a"), col("doc_b"))
      val both = pairs.select(col("doc_a").as("x"), col("doc_b").as("y"))
        .unionByName(pairs.select(col("doc_b").as("x"), col("doc_a").as("y")))
      def t(i: Int) = d.filter(col("doc_id") % 3 === i).select(col("doc_id"))
      val k1 = t(1).join(both.filter(col("y") % 3 === 0)
        .select(col("x").as("doc_id")).distinct(), Seq("doc_id"), "left_anti")
      val k01 = t(0).unionByName(k1)
      val k2 = t(2).join(both.join(k01.select(col("doc_id").as("y")), "y")
        .select(col("x").as("doc_id")).distinct(), Seq("doc_id"), "left_anti")
      val expect = k01.unionByName(k2)
      assert(keptIds.exceptAll(expect).isEmpty && expect.exceptAll(keptIds).isEmpty,
        "streamed greedy kept set must equal the batch greedy recomputation")
      // the index holds exactly the kept docs' band rows
      val got = spark.read.parquet(ix)
        .select(col("doc_id"), col("band"), col("bkey"), col("bucket"))
      val want = LshIndex.indexRows(spark.read.parquet(kept), 16)
        .select(col("doc_id"), col("band"), col("bkey"), col("bucket"))
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    } finally { rm(base); d.unpersist() }
  }

  test("versioned root: fragmenting appends -> compact+flip dedups replay residue -> retire") {
    val d = docs.cache()
    val corpus = d.filter(col("doc_id") % 3 =!= 0)
    val batch = d.filter(col("doc_id") % 3 === 0)
    val root = "/tmp/graft_test_lsh_root"
    val hfs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      rm(root)
      // not-a-root fails fast, not with a missing-parquet stack
      intercept[IllegalArgumentException](LshIndex.currentPath(spark, root))
      val gen1 = LshIndex.writeVersioned(
        corpus.filter(col("doc_id") % 3 === 1), root, numBuckets = 16)
      assert(LshIndex.currentPath(spark, root) === gen1)
      val rest = corpus.filter(col("doc_id") % 3 === 2)
      LshIndex.append(rest, gen1)
      // torn-replay residue: the same batch appended twice (crash after
      // the index write, before the marker) — the one legal dup source
      LshIndex.append(rest, gen1)
      val cands1 = LshIndex.probeCandidates(spark, gen1, batch).cache()
      cands1.count()
      // fragmentation visible pre-compaction: appends accrete files
      assert(LshIndex.stats(spark, gen1)
        .agg(max(col("n_files"))).head.getLong(0) > 1L,
        "appends should have fragmented at least one bucket")
      val rawBefore = spark.read.parquet(gen1).count()

      val gen2 = LshIndex.compactVersioned(spark, root)
      assert(gen2 !== gen1)
      assert(LshIndex.currentPath(spark, root) === gen2)
      assert(LshIndex.stats(spark, gen2)
        .agg(max(col("n_files"))).head.getLong(0) === 1L,
        "compacted generation must be one file per bucket")
      assert(spark.read.parquet(gen2).count() < rawBefore,
        "compaction must drop the torn-replay duplicate band rows")
      // post-compaction content == the clean from-scratch projection
      val got = spark.read.parquet(gen2)
        .select(col("doc_id"), col("band"), col("bkey"), col("bucket"))
      val want = LshIndex.indexRows(corpus, 16)
        .select(col("doc_id"), col("band"), col("bkey"), col("bucket"))
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        "compacted index must hold exactly the dup-free band-row set")
      // readers resolving the root answer identically post-flip
      val cands2 = LshIndex.probeCandidates(spark,
        LshIndex.currentPath(spark, root), batch)
      assert(cands1.exceptAll(cands2).isEmpty && cands2.exceptAll(cands1).isEmpty,
        "post-flip probe must answer identically")
      // old generation stays on disk for in-flight readers until retired
      assert(hfs.exists(new org.apache.hadoop.fs.Path(gen1)))
      val retired = LshIndex.retireGenerations(spark, root)
      assert(retired === Seq(gen1), s"expected to retire only $gen1, got $retired")
      assert(!hfs.exists(new org.apache.hadoop.fs.Path(gen1)))
      val cands3 = LshIndex.probeCandidates(spark,
        LshIndex.currentPath(spark, root), batch)
      assert(cands1.exceptAll(cands3).isEmpty && cands3.exceptAll(cands1).isEmpty)
      cands1.unpersist()
    } finally { rm(root); d.unpersist() }
  }

  test("rebucket: fan-out growth without re-shingling, probes identical, appends follow") {
    val d = docs.cache()
    val corpus = d.filter(col("doc_id") % 3 =!= 0)
    val batch = d.filter(col("doc_id") % 3 === 0)
    val root = "/tmp/graft_test_lsh_rebucket"
    try {
      rm(root)
      val gen1 = LshIndex.writeVersioned(
        corpus.filter(col("doc_id") % 3 === 1), root, numBuckets = 16)
      val cands1 = LshIndex.probeCandidates(spark, gen1, batch).cache()
      cands1.count()
      // grow 16 -> 64: pure column rewrite of the stored band keys
      val gen2 = LshIndex.rebucketVersioned(spark, root, 64)
      assert(LshIndex.currentPath(spark, root) === gen2)
      // layout really is 64-wide: stats reach buckets past the old 16
      assert(LshIndex.stats(spark, gen2)
        .agg(max(col("bucket"))).head.getInt(0) > 15,
        "rebucketed index must occupy the new bucket range")
      // content == the from-scratch projection AT THE NEW FAN-OUT
      val got = spark.read.parquet(gen2)
        .select(col("doc_id"), col("band"), col("bkey"), col("bucket"))
      val want = LshIndex.indexRows(corpus.filter(col("doc_id") % 3 === 1), 64)
        .select(col("doc_id"), col("band"), col("bkey"), col("bucket"))
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        "rebucket must be exactly a bucket-column recompute")
      // probes answer identically across the flip
      val cands2 = LshIndex.probeCandidates(spark, gen2, batch)
      assert(cands1.exceptAll(cands2).isEmpty && cands2.exceptAll(cands1).isEmpty)
      // a post-rebucket append reads the NEW fan-out from the sidecar
      LshIndex.append(corpus.filter(col("doc_id") % 3 === 2), gen2)
      val cands3 = LshIndex.probeCandidates(spark, gen2, batch)
      val scratch = "/tmp/graft_test_lsh_rebucket_scratch"
      rm(scratch)
      LshIndex.write(corpus, scratch, numBuckets = 64)
      val expect = LshIndex.probeCandidates(spark, scratch, batch)
      assert(cands3.exceptAll(expect).isEmpty && expect.exceptAll(cands3).isEmpty,
        "post-rebucket appends + probes must equal a from-scratch 64-bucket index")
      rm(scratch)
      cands1.unpersist()
    } finally { rm(root); d.unpersist() }
  }

  test("missing or tampered _lshmeta refuses to probe or append") {
    val d = docs.limit(50).cache()
    val path = "/tmp/graft_test_lsh_meta"
    try {
      LshIndex.write(d, path, numBuckets = 32)
      // tamper: overwrite the sidecar with a different HASH FAMILY but a
      // fingerprint recomputed to match (a WRONG-shape but internally
      // consistent sidecar) -> the banding-mismatch error. (A different
      // bucket count alone is legal — it is an index layout property.)
      val fp = {
        var h = 0x15AL
        for (v <- Seq(4, 32, 256, 3))
          h = graft.core.Hashing.xxHash64Long(v.toLong, h)
        h
      }
      import spark.implicits._
      Seq((4, 32, 256, 3, fp))
        .toDF("rows_per_band", "bands", "buckets", "shingle_width", "__fingerprint")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/_lshmeta")
      val e1 = intercept[IllegalArgumentException](
        LshIndex.probeCandidates(spark, path, d).collect())
      assert(e1.getMessage.contains("banding mismatch"))
      // corrupt: fingerprint that fails self-verification
      Seq((3, 42, 256, 3, 0L))
        .toDF("rows_per_band", "bands", "buckets", "shingle_width", "__fingerprint")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/_lshmeta")
      val e2 = intercept[IllegalArgumentException](LshIndex.append(d, path))
      assert(e2.getMessage.contains("fingerprint"))
      // missing entirely
      rm(s"$path/_lshmeta")
      val e3 = intercept[IllegalArgumentException](
        LshIndex.probeCandidates(spark, path, d).collect())
      assert(e3.getMessage.contains("no _lshmeta"))
    } finally { rm(path); d.unpersist() }
  }
}
