package graft.pipeline

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The persisted-index protocol, fault-injected once over every index
  * family (LSH and SRP band indexes, IVF and IVF-PQ). Each case crashes
  * a write after one of its steps — rows, a sidecar torn mid-write (its
  * dir holds only `_temporary`), the sidecar, the kept partition, the
  * `_ingested` marker, the manifest entry — and asserts the outcome is
  * one of exactly two: the replay HEALS (same answers as a clean run),
  * or the read REFUSES with the curated IllegalArgumentException. Any
  * other exception type fails the case (an untyped outcome). Also pins
  * the on-disk sidecar format of both band families, so a refactor that
  * changes a column or a fingerprint fails here instead of orphaning
  * existing indexes.
  */
class IndexProtocolSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .appName("graft-index-protocol-test")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"
  private def docs = TextPipeline.documents(spark, sf).select(col("doc_id"), col("text"))
  private def vecs = VectorPipeline.embeddings(spark, sf).select(col("vec_id"), col("embedding"))

  private def fs = new Path("/tmp").getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def rm(p: String): Unit = { fs.delete(new Path(p), true); () }
  private def exists(p: String): Boolean = fs.exists(new Path(p))
  private def cp(src: String, dst: String): Unit = {
    FileUtil.copy(fs, new Path(src), fs, new Path(dst), false,
      spark.sparkContext.hadoopConfiguration)
    ()
  }

  /** Crash DURING a sidecar write: the dir exists and holds only the
    * committer's `_temporary` litter, no part-files. */
  private def tearSidecar(dir: String): Unit = {
    rm(dir)
    fs.mkdirs(new Path(s"$dir/_temporary/0"))
    ()
  }

  /** Order-free content signature: xor of row hashes plus the count. */
  private def sig(df: DataFrame): (Long, Long) = {
    val r = df.agg(bit_xor(xxhash64(df.columns.map(col): _*)), count(lit(1))).head
    (r.getLong(0), r.getLong(1))
  }

  /** A read of a damaged index must REFUSE, typed and curated; any other
    * exception type is an untyped outcome and fails the case. */
  private def refuses(sidecar: String, op: String)(f: => Any): Unit = {
    val e = intercept[IllegalArgumentException](f)
    assert(e.getMessage.contains(s"no $sidecar sidecar"), s"$op: ${e.getMessage}")
  }

  private case class Band(name: String, ix: BandIndex, rows: () => DataFrame) {
    val idCol: String = ix.family.idCol
    val metaDir: String = ix.family.metaDir
    def third(i: Int): DataFrame = rows().filter(col(idCol) % 3 === i)
    def bandSig(path: String): (Long, Long) = sig(spark.read.parquet(path)
      .select(col(idCol), col("band"), col("bkey"), col("bucket")).distinct())
  }

  private val bands = Seq(
    Band("LSH", LshIndex, () => docs),
    Band("SRP", SrpIndex, () => vecs))

  // ------------------------------------------------------- band families

  for (f <- bands) {

    test(s"${f.name}: torn bootstrap (rows, no sidecar) heals on replay") {
      val base = s"/tmp/graft_test_protocol_${f.name}_torn_bootstrap"
      val ix = s"$base/index"; val kept = s"$base/kept"
      try {
        rm(base)
        val batch0 = f.third(0)
        // clean bootstrap, then reproduce the crash point: band rows on
        // disk, but the LAST-written artifacts (sidecar, kept partition,
        // _ingested marker) all missing — bootstrap's write order makes
        // exactly this the torn state
        val cleanKept = f.ix.ingestNovel(spark, ix, kept, batch0,
          batchId = 0L, numBuckets = 16)
        val cleanSig = sig(spark.read.parquet(ix))
        rm(s"$ix/${f.metaDir}"); rm(s"$ix/_ingested"); rm(kept)
        // replay MUST take the bootstrap path again (sidecar-absent ⟹
        // pre-bootstrap) — deciding on dir existence instead would route to
        // append, where the sidecar read throws on every retry forever
        val healedKept = f.ix.ingestNovel(spark, ix, kept, batch0,
          batchId = 0L, numBuckets = 16)
        assert(healedKept === cleanKept)
        assert(sig(spark.read.parquet(ix)) === cleanSig,
          "healed index must be row-identical to the clean bootstrap (overwrite semantics)")
        // and the healed index is fully functional: next batch appends
        f.ix.ingestNovel(spark, ix, kept, f.third(1), batchId = 1L, numBuckets = 16)
      } finally rm(base)
    }

    test(s"${f.name}: sidecar torn mid-write heals on ingest replay") {
      val base = s"/tmp/graft_test_protocol_${f.name}_torn_midwrite"
      val ix = s"$base/index"; val kept = s"$base/kept"
      try {
        rm(base)
        val batch0 = f.third(0)
        val cleanKept = f.ix.ingestNovel(spark, ix, kept, batch0,
          batchId = 0L, numBuckets = 16)
        // a bare exists() check would misroute this to the append path
        // and wedge on every replay
        rm(s"$ix/_ingested"); rm(kept)
        tearSidecar(s"$ix/${f.metaDir}")
        val healedKept = f.ix.ingestNovel(spark, ix, kept, batch0,
          batchId = 0L, numBuckets = 16)
        assert(healedKept === cleanKept,
          "mid-write torn sidecar must re-bootstrap, not wedge")
        f.ix.probeCandidates(spark, ix, f.third(1)).count()
      } finally rm(base)
    }

    test(s"${f.name}: ingest refuses to bootstrap-overwrite a non-index dir") {
      val base = s"/tmp/graft_test_protocol_${f.name}_wrongpath"
      try {
        rm(base)
        // an unrelated parquet dataset at the "index" path — a mistyped
        // path must refuse loudly, never be destroyed by the overwrite
        f.rows().limit(5).write.parquet(s"$base/not_an_index")
        val e = intercept[IllegalArgumentException](
          f.ix.ingestNovel(spark, s"$base/not_an_index", s"$base/kept",
            f.third(0), batchId = 0L, numBuckets = 16))
        assert(e.getMessage.contains("refusing to overwrite"))
        assert(spark.read.parquet(s"$base/not_an_index").count() === 5,
          "the unrelated dataset must be untouched")
      } finally rm(base)
    }

    test(s"${f.name}: every read path refuses a missing or torn sidecar") {
      val base = s"/tmp/graft_test_protocol_${f.name}_refuse"
      val ix = s"$base/index"
      try {
        rm(base)
        val rows = f.third(0)
        f.ix.write(rows, ix, numBuckets = 16)
        // crash after the rows, before the sidecar; then crash during it
        for ((state, damage) <- Seq[(String, () => Unit)](
            "missing" -> (() => rm(s"$ix/${f.metaDir}")),
            "torn" -> (() => tearSidecar(s"$ix/${f.metaDir}")))) {
          damage()
          def no(op: String)(g: => Any): Unit = refuses(f.metaDir, s"$state $op")(g)
          no("probe")(f.ix.probeCandidates(spark, ix, rows).collect())
          no("probeFromRows")(f.ix.probeCandidatesFromRows(spark, ix,
            f.ix.indexRows(rows, 16)).collect())
          no("verify")(f.ix.verifiedDupPairs(spark, ix, rows, rows).collect())
          no("novel")(f.ix.novel(spark, ix, rows, rows).collect())
          no("cross")(f.ix.crossCandidates(spark, ix, ix).collect())
          no("append")(f.ix.append(rows, ix))
          no("stats")(f.ix.stats(spark, ix).collect())
          no("compact")(f.ix.compact(spark, ix, s"$base/compacted"))
          no("rebucket")(f.ix.rebucket(spark, ix, s"$base/rebucketed", 32))
          assert(!exists(s"$base/compacted") && !exists(s"$base/rebucketed"),
            s"$state: a refused rewrite must write nothing")
        }
        // rewriting the index heals it
        f.ix.write(rows, ix, numBuckets = 16)
        f.ix.probeCandidates(spark, ix, rows).collect()
      } finally rm(base)
    }

    test(s"${f.name}: a crash before the _ingested marker heals on replay") {
      val base = s"/tmp/graft_test_protocol_${f.name}_marker"
      val ix = s"$base/index"; val kept = s"$base/kept"
      val marker = s"$ix/_ingested/batch-1"
      try {
        rm(base)
        f.ix.ingestNovel(spark, ix, kept, f.third(0), batchId = 0L, numBuckets = 16)
        cp(ix, s"$base/index_after_batch0")
        val n1 = f.ix.ingestNovel(spark, ix, kept, f.third(1), batchId = 1L,
          numBuckets = 16)
        val cleanKept = sig(spark.read.parquet(kept))
        val cleanIndex = f.bandSig(ix)
        def replayHeals(step: String): Unit = {
          assert(f.ix.ingestNovel(spark, ix, kept, f.third(1), batchId = 1L,
            numBuckets = 16) === n1, s"$step: replay must keep the same rows")
          assert(sig(spark.read.parquet(kept)) === cleanKept, s"$step: kept table")
          assert(f.bandSig(ix) === cleanIndex, s"$step: index band rows")
          assert(exists(marker), s"$step: replay must commit the marker")
        }
        // crash after the index append, before the kept write and marker
        rm(s"$kept/batch=1"); rm(marker)
        replayHeals("rows")
        // crash after the kept write, before the index append and marker
        rm(ix); cp(s"$base/index_after_batch0", ix)
        replayHeals("kept")
        // crash between the marker's create and its count
        fs.create(new Path(marker), true).close()
        replayHeals("marker")
      } finally rm(base)
    }

    test(s"${f.name}: compaction keeps the _ingested replay markers") {
      val base = s"/tmp/graft_test_protocol_${f.name}_compact_markers"
      val root = s"$base/root"; val kept = s"$base/kept"
      try {
        rm(base)
        // generation 1 from a base corpus, then one ingest batch (its
        // replay marker lands inside the generation dir)
        val gen1 = f.ix.writeVersioned(f.third(0), root, numBuckets = 16)
        f.ix.ingestNovel(spark, gen1, kept, f.third(1), batchId = 1L, numBuckets = 16)
        val gen2 = f.ix.compactVersioned(spark, root)
        // a replay against the COMPACTED generation still short-circuits
        val before = (sig(spark.read.parquet(gen2)), sig(spark.read.parquet(kept)))
        f.ix.ingestNovel(spark, gen2, kept, f.third(1), batchId = 1L, numBuckets = 16)
        assert((sig(spark.read.parquet(gen2)), sig(spark.read.parquet(kept))) === before,
          "replay against the compacted generation must not mutate stores")
      } finally rm(base)
    }

    test(s"${f.name}: a crash before the manifest flip heals on retry") {
      val root = s"/tmp/graft_test_protocol_${f.name}_manifest"
      try {
        rm(root)
        // first build: the generation is written, its manifest entry is not
        f.ix.write(f.third(0), s"$root/gen-00000001", numBuckets = 16)
        val e = intercept[IllegalArgumentException](f.ix.currentPath(spark, root))
        assert(e.getMessage.contains("not a versioned index root"))
        val gen2 = f.ix.writeVersioned(f.third(0), root, numBuckets = 16)
        assert(f.ix.currentPath(spark, root) === gen2)
        f.ix.append(f.third(1), gen2)
        val answers = sig(f.ix.probeCandidates(spark, gen2, f.third(2)))
        // compaction: the new generation is written, the flip is not —
        // readers keep resolving the old generation
        f.ix.compact(spark, gen2, s"$root/gen-00000003")
        assert(f.ix.currentPath(spark, root) === gen2)
        val gen4 = f.ix.compactVersioned(spark, root)
        assert(gen4 === s"$root/gen-00000004")
        assert(sig(f.ix.probeCandidates(spark, f.ix.currentPath(spark, root),
          f.third(2))) === answers)
        // retire reclaims the superseded generation AND the crash orphans
        assert(f.ix.retireGenerations(spark, root).sorted ===
          (1 to 3).map(g => f"$root/gen-$g%08d"))
      } finally rm(root)
    }
  }

  test("sidecar format: _lshmeta and _srpmeta columns and fingerprints") {
    // literals taken from indexes written before the band families were
    // unified: a change to either fails here instead of orphaning indexes
    val base = "/tmp/graft_test_protocol_sidecar_format"
    try {
      rm(base)
      LshIndex.write(docs.limit(20), s"$base/lsh")
      SrpIndex.write(vecs.limit(20), s"$base/srp")
      def row(dir: String) = {
        val m = spark.read.parquet(dir)
        (m.columns.toSeq, m.collect().map(_.toSeq).toSeq)
      }
      assert(row(s"$base/lsh/_lshmeta") === ((
        Seq("rows_per_band", "bands", "buckets", "shingle_width", "__fingerprint"),
        Seq(Seq(3, 42, 256, 3, -1548263184237417593L)))))
      assert(row(s"$base/srp/_srpmeta") === ((
        Seq("band_bits", "bands", "buckets", "max_dim", "__fingerprint"),
        Seq(Seq(16, 32, 256, 4096, -334283536063471157L)))))
    } finally rm(base)
  }

  // ------------------------------------------------------ IVF and IVF-PQ

  private lazy val book: DataFrame = VectorPipeline.trainedCodebook(vecs, 16).cache()
  private lazy val pqBooks = VectorPipeline.trainedPqBooks(vecs, m = 8, ksub = 16)
  private def pqLayout = IvfLayout(storage = IvfStorage.Pq(pqBooks))
  private def queries = vecs.filter(col("vec_id") < 20)
  private def ivfAnswers(path: String) =
    sig(VectorPipeline.ivfTopKFromIndex(spark, path, queries, 10, 8))
  private def pqAnswers(path: String) =
    sig(VectorPipeline.ivfScoredCandidatesFromIndex(spark, path, queries, 4))

  test("IVF: every read path refuses a missing or torn _codebook") {
    val base = "/tmp/graft_test_protocol_ivf_refuse"
    val ix = s"$base/index"
    try {
      rm(base)
      val half = vecs.filter(col("vec_id") % 2 === 0)
      val rest = vecs.filter(col("vec_id") % 2 === 1)
      VectorPipeline.writeIvfIndex(half, book, ix)
      val clean = ivfAnswers(ix)
      for ((state, damage) <- Seq[(String, () => Unit)](
          "missing" -> (() => rm(s"$ix/_codebook")),
          "torn" -> (() => tearSidecar(s"$ix/_codebook")))) {
        damage()
        def no(op: String)(g: => Any): Unit = refuses("_codebook", s"$state $op")(g)
        no("codebook")(VectorPipeline.readIvfCodebook(spark, ix).collect())
        no("probe")(VectorPipeline.ivfTopKFromIndex(spark, ix, queries, 10, 8).collect())
        no("probe with book")(VectorPipeline
          .ivfTopKFromIndex(spark, ix, book, queries, 10, 8).collect())
        no("append")(VectorPipeline.appendToIvfIndex(rest, ix))
        no("append with book")(VectorPipeline.appendToIvfIndex(rest, book, ix))
        no("compact")(VectorPipeline.compactIvfIndex(spark, ix, s"$base/compacted"))
        assert(!exists(s"$base/compacted"), s"$state: a refused compaction must write nothing")
      }
      // rewriting the index heals it, answers as before the crash
      VectorPipeline.writeIvfIndex(half, book, ix)
      assert(ivfAnswers(ix) === clean)
    } finally rm(base)
  }

  test("IVF-PQ: every read path refuses a missing or torn _pqbooks") {
    val base = "/tmp/graft_test_protocol_pq_refuse"
    val ix = s"$base/index"
    try {
      rm(base)
      val half = vecs.filter(col("vec_id") % 2 === 0)
      VectorPipeline.writeIvfIndex(half, book, ix, pqLayout)
      val clean = pqAnswers(ix)
      // "missing" is also the state of a PQ index compacted before
      // compaction carried `_pqbooks`: its compaction refuses, typed
      for ((state, damage) <- Seq[(String, () => Unit)](
          "missing" -> (() => rm(s"$ix/_pqbooks")),
          "torn" -> (() => tearSidecar(s"$ix/_pqbooks")))) {
        damage()
        def no(op: String)(g: => Any): Unit = refuses("_pqbooks", s"$state $op")(g)
        no("books")(VectorPipeline.readPqBooks(spark, ix))
        no("probe")(pqAnswers(ix))
        no("append")(VectorPipeline.appendToIvfIndex(
          vecs.filter(col("vec_id") % 2 === 1), ix))
        no("compact")(VectorPipeline.compactIvfIndex(spark, ix, s"$base/compacted"))
        assert(!exists(s"$base/compacted"), s"$state: a refused compaction must write nothing")
      }
      VectorPipeline.writeIvfIndex(half, book, ix, pqLayout)
      assert(pqAnswers(ix) === clean)
    } finally rm(base)
  }

  test("IVF-PQ: compaction carries the _pqbooks sidecar") {
    val base = "/tmp/graft_test_protocol_pq_compact"
    try {
      rm(base)
      VectorPipeline.writeIvfIndex(vecs.filter(col("vec_id") % 2 === 0), book,
        s"$base/index", pqLayout)
      VectorPipeline.appendToIvfIndex(vecs.filter(col("vec_id") % 2 === 1),
        s"$base/index")
      val before = pqAnswers(s"$base/index")
      VectorPipeline.compactIvfIndex(spark, s"$base/index", s"$base/compacted")
      assert(VectorPipeline.pqBooksFingerprint(
        VectorPipeline.readPqBooks(spark, s"$base/compacted")) ===
        VectorPipeline.pqBooksFingerprint(pqBooks))
      assert(pqAnswers(s"$base/compacted") === before,
        "a compacted PQ index must answer as before")
    } finally rm(base)
  }

  test("IVF: a crash before the manifest flip heals on retry") {
    val root = "/tmp/graft_test_protocol_ivf_manifest"
    try {
      rm(root)
      val half = vecs.filter(col("vec_id") % 2 === 0)
      VectorPipeline.writeIvfIndex(half, book, s"$root/gen-00000001")
      intercept[IllegalArgumentException](VectorPipeline.currentIvfIndexPath(spark, root))
      val gen2 = VectorPipeline.writeIvfIndexVersioned(half, book, root)
      assert(VectorPipeline.currentIvfIndexPath(spark, root) === gen2)
      VectorPipeline.appendToIvfIndex(vecs.filter(col("vec_id") % 2 === 1), gen2)
      val answers = ivfAnswers(gen2)
      VectorPipeline.compactIvfIndex(spark, gen2, s"$root/gen-00000003")
      assert(VectorPipeline.currentIvfIndexPath(spark, root) === gen2)
      val gen4 = VectorPipeline.compactIvfIndexVersioned(spark, root)
      assert(gen4 === s"$root/gen-00000004")
      assert(ivfAnswers(VectorPipeline.currentIvfIndexPath(spark, root)) === answers)
      assert(VectorPipeline.retireIvfIndexGenerations(spark, root).sorted ===
        (1 to 3).map(g => f"$root/gen-$g%08d"))
    } finally rm(root)
  }
}
