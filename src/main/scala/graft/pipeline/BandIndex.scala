package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

/** What one persisted band-index family is — everything about a band
  * index that is not in this value is shared ([[BandIndex]]).
  *
  * @param name        the family's name in a mismatch error
  *                    ("LSH banding", "SRP projection-family")
  * @param owner       the public object that builds it (error hints)
  * @param metaDir     the sidecar dir inside the index dir
  * @param seed        the sidecar fingerprint's seed
  * @param fields      the family fields as (sidecar column, this
  *                    library's value), in on-disk order: an index on
  *                    disk must match them
  * @param bucketsPos  where the sidecar's `buckets` column sits among
  *                    `fields` (bucket fan-out is a per-index layout
  *                    choice, not a family field); the fingerprint folds
  *                    the column values in this order
  * @param idCol       the id column of band rows and payload tables
  * @param payloadCol  the payload column the signature reads
  * @param sign        payload rows → (idCol, band, bkey) rows, map-only
  * @param verify      the exact-verify rule: `(cands, aCol, bCol, aSide,
  *                    bSide)` keeps the candidate id pairs (aCol, bCol)
  *                    whose payloads (aSide, bSide, keyed by idCol) meet
  *                    the family's threshold, with its evidence columns
  */
final case class BandFamily(
    name: String,
    owner: String,
    metaDir: String,
    seed: Long,
    fields: Seq[(String, Int)],
    bucketsPos: Int,
    idCol: String,
    payloadCol: String,
    sign: DataFrame => DataFrame,
    verify: (DataFrame, String, String, DataFrame, DataFrame) => DataFrame)

/** A PERSISTED band index — the one implementation behind the MinHash
  * text index ([[LshIndex]]) and the SRP embedding index ([[SrpIndex]]).
  * Both store (id, band, bkey) rows under a `bucket = bkey & (N-1)`
  * partition column and answer batch probes by a bucket-pruned
  * equi-join. The family value supplies the signature projection, the
  * sidecar schema and the exact-verify rule; the sidecar write, verify
  * and memo, write, append, both probe forms, the verify/novelty
  * stages, `ingestNovel`, stats, compaction, re-bucketing and the
  * versioned flips are the same code for both. Sidecar reads and the
  * generation swap are [[IndexManifest]]'s, shared with the IVF index.
  *
  * Layout on disk (parquet):
  * {{{
  *   bucket=0/…bucket=N-1/   (id, band, bkey) rows
  *   <metaDir>/              one-row sidecar: family fields, buckets,
  *                           __fingerprint
  *   _ingested/batch-<id>    ingest replay markers
  * }}}
  *
  * - `bucket` is the PARTITION column: a small-batch probe touches few of
  *   the N buckets, and unprobed buckets never leave storage
  *   (PartitionFilters in the executed plan; the family specs pin the
  *   files-read count). N is an INDEX property recorded in the sidecar,
  *   not a library constant: probe and append derive each key's bucket
  *   from the sidecar, so indexes at different fan-outs interoperate.
  * - INCREMENTAL: band keys are a pure function of (payload, family
  *   constants), so build-half + append-half is row-identical to a
  *   one-shot build, and a probe against the accreted index equals one
  *   against a from-scratch index.
  * - The sidecar pins the family fields with a self-verifying
  *   fingerprint: probing or appending with a library compiled to a
  *   different family throws at the door instead of silently returning
  *   empty candidate sets (the codebook-mismatch rule). */
class BandIndex(val family: BandFamily) {
  import BandIndex._

  /** Default bucket fan-out for new indexes. 256 keeps the partition
    * count storage-friendly at corpus scale while a single-row probe
    * (32–42 band keys) prunes ≥ 83% of it. A power of two: the bucket is
    * the low bits of the 64-bit band key. */
  val NumBuckets: Int = 256

  private val idCol = family.idCol
  // id columns of probe pairs (new, old) and cross-index pairs (a, b):
  // doc_new/doc_old/doc_a/doc_b for doc_id
  private val Seq(newCol, oldCol, aCol, bCol) =
    Seq("new", "old", "a", "b").map(s => s"${idCol.stripSuffix("_id")}_$s")
  private val buildHint = s"${family.owner}.write"
  private val versionedHint = s"${family.owner}.writeVersioned"

  /** (id, band, bkey, bucket) — the map-only signature projection shared
    * verbatim by build, append and probe, so the three can never drift.
    * Rows with no signature (null keys) produce no rows. Public so
    * callers can gate an on-disk index's content against the
    * from-scratch projection without materializing a second index. */
  def indexRows(rows: DataFrame, numBuckets: Int = NumBuckets): DataFrame = {
    requirePow2(numBuckets)
    family.sign(rows)
      .filter(col("bkey").isNotNull)
      .withColumn("bucket", bucketOf(col("bkey"), numBuckets))
  }

  // ------------------------------------------------------------ sidecar

  // the sidecar's Int columns in on-disk order, and this library's values
  private val sidecarCols = family.fields.map(_._1).patch(family.bucketsPos, Seq("buckets"), 0)
  private def libraryMeta(buckets: Int): Seq[Int] =
    family.fields.map(_._2).patch(family.bucketsPos, Seq(buckets), 0)

  private def fingerprint(meta: Seq[Int]): Long =
    meta.foldLeft(family.seed)((h, v) => graft.core.Hashing.xxHash64Long(v.toLong, h))

  private def show(meta: Seq[Int]): String =
    sidecarCols.zip(meta).map { case (c, v) => s"$c=$v" }.mkString("(", ", ", ")")

  private def writeMeta(spark: SparkSession, path: String, buckets: Int): Unit = {
    val m = libraryMeta(buckets)
    val schema = StructType(
      sidecarCols.map(StructField(_, IntegerType, nullable = false)) :+
        StructField("__fingerprint", LongType, nullable = false))
    spark.createDataFrame(java.util.List.of(Row.fromSeq(m :+ fingerprint(m))), schema)
      .coalesce(1).write.mode("overwrite").parquet(s"$path/${family.metaDir}")
  }

  /** Read + integrity-verify the sidecar, then require its family fields
    * to match this library's — the only family the probe and append
    * projections can emit. The bucket fan-out is taken from the sidecar.
    * Memoized on the sidecar's on-disk identity ([[SidecarCache]]). */
  private def readMeta(spark: SparkSession, path: String): Seq[Int] = {
    val dir = family.metaDir
    val (fs, p) = IndexManifest.requireSidecar(spark, path, dir,
      s"an ${family.owner}", buildHint)
    metaMemo.getOrLoad(fs, p) {
      val rows = spark.read.parquet(s"$path/$dir").collect()
      require(rows.length == 1,
        s"$dir sidecar at $path carries ${rows.length} rows — corrupt")
      val stored = sidecarCols.map(rows.head.getAs[Int](_))
      require(fingerprint(stored) == rows.head.getAs[Long]("__fingerprint"),
        s"$dir sidecar at $path fails its own fingerprint — corrupt sidecar")
      val cur = libraryMeta(stored(family.bucketsPos))
      require(stored == cur,
        s"${family.name} mismatch at $path: index built with ${show(stored)}, " +
          s"this library produces ${show(cur)} — band keys are not " +
          "comparable across families; rebuild the index")
      stored
    }
  }

  /** The index's bucket fan-out, read from its verified sidecar. */
  private def bucketsAt(spark: SparkSession, path: String): Int =
    readMeta(spark, path)(family.bucketsPos)

  // -------------------------------------------------- build and probe

  /** Build the index over a corpus. Data first, then the sidecar — a torn
    * write leaves a probe-refusing directory, never a half-probed one. */
  def write(rows: DataFrame, path: String, numBuckets: Int = NumBuckets): Unit = {
    writeRows(indexRows(rows, numBuckets), path, "overwrite")
    writeMeta(rows.sparkSession, path, numBuckets)
  }

  /** Incremental ingest: new files land inside the existing bucket=…
    * dirs, so probes see old + new rows with the same pruning. Signed at
    * the INDEX's fan-out, read from its sidecar. */
  def append(batch: DataFrame, path: String): Unit =
    writeRows(indexRows(batch, bucketsAt(batch.sparkSession, path)), path, "append")

  /** Candidate near-dup pairs (new, old) of a probe batch against the
    * indexed corpus: the batch pays its own O(|batch|) signature cost,
    * the corpus side is an 8-byte-key scan pruned to the buckets the
    * batch touches. `broadcastProbe` (default) ships the batch's band
    * rows to the index scan — the daily-ingest shape where Δ ≪ corpus;
    * pass false for corpus-sized backfills, which degrade to a
    * shuffle-hash equi-join. Candidates are LSH candidates: callers
    * verify survivors exactly ([[verifiedDupPairs]]). */
  def probeCandidates(spark: SparkSession, path: String, batch: DataFrame,
      broadcastProbe: Boolean = true): DataFrame =
    probeJoin(spark, path, indexRows(batch, bucketsAt(spark, path)),
      broadcastProbe, materializeProbe = true)

  /** [[probeCandidates]] over PRE-SIGNED, already-materialized batch band
    * rows (the ingest loop's sign-once path): the signature projection is
    * not recomputed and the rows are not re-materialized. The bucket is
    * RE-DERIVED from the stored key at THIS index's fan-out — rows signed
    * at a different fan-out would otherwise miss every candidate (bucket
    * participates in the equi-join). */
  def probeCandidatesFromRows(spark: SparkSession, path: String,
      bandRows: DataFrame, broadcastProbe: Boolean = true): DataFrame =
    probeJoin(spark, path,
      bandRows.withColumn("bucket", bucketOf(col("bkey"), bucketsAt(spark, path))),
      broadcastProbe, materializeProbe = false)

  /** Bucket-pruned candidate join of probe band rows against the index.
    * The probe relation feeds BOTH the touched-bucket collect and the
    * band join, so it is eagerly materialized via localCheckpoint —
    * checkpointed blocks are ContextCleaner-reclaimed, safe inside ingest
    * LOOPS where `.cache()` plan entries would accrete until an explicit
    * unpersist. The touched-bucket collect is bounded by the fan-out. */
  private def probeJoin(spark: SparkSession, path: String, rows: DataFrame,
      broadcastProbe: Boolean, materializeProbe: Boolean): DataFrame = {
    val probeRows = rows.select(col("band"), col("bkey"), col("bucket"),
      col(idCol).as(newCol))
    val probe = if (materializeProbe) probeRows.localCheckpoint(true) else probeRows
    val touched = probe.select(col("bucket")).distinct()
      .collect().map(_.getInt(0)).sorted
    val lists = spark.read.parquet(path)
      .filter(col("bucket").isin(touched.map(Integer.valueOf): _*))
    val probeSide = if (broadcastProbe) broadcast(probe) else probe.hint("shuffle_hash")
    lists.join(probeSide, Seq("band", "bkey", "bucket"))
      .filter(col(idCol) =!= col(newCol))
      .select(col(newCol), col(idCol).as(oldCol))
      .distinct()
  }

  /** Exact-verified near-dup pairs of a batch against the indexed corpus:
    * candidates → the family's verify rule, restricted to candidate ids
    * (never the full corpus). The candidate relation feeds several
    * joins, so it is materialized once (localCheckpoint, for the
    * ingest-loop reason in [[probeJoin]]). */
  def verifiedDupPairs(spark: SparkSession, path: String, batch: DataFrame,
      corpus: DataFrame): DataFrame =
    family.verify(probeCandidates(spark, path, batch).localCheckpoint(true),
      newCol, oldCol, batch, corpus)

  /** [[verifiedDupPairs]] over pre-signed batch band rows (sign-once
    * ingest — same verify stage, no signature recomputation). */
  private def verifiedDupPairsFromRows(spark: SparkSession, path: String,
      bandRows: DataFrame, batch: DataFrame, corpus: DataFrame): DataFrame =
    family.verify(probeCandidatesFromRows(spark, path, bandRows).localCheckpoint(true),
      newCol, oldCol, batch, corpus)

  /** Novelty filter — the ingest-gate shape: batch rows with NO
    * exact-verified near-dup already in the corpus. `corpus`/`batch`
    * supply payloads for the verify join of candidate survivors only —
    * the index itself stays payload-free. Pass `verifiedPairs` when the
    * caller already materialized [[verifiedDupPairs]] for the same
    * (index, batch, corpus). */
  def novel(spark: SparkSession, path: String, batch: DataFrame,
      corpus: DataFrame, verifiedPairs: Option[DataFrame] = None): DataFrame =
    withoutDups(batch,
      verifiedPairs.getOrElse(verifiedDupPairs(spark, path, batch, corpus)))

  private def withoutDups(batch: DataFrame, pairs: DataFrame): DataFrame =
    batch.join(pairs.select(col(newCol).as(idCol)).distinct(), Seq(idCol), "left_anti")

  /** Corpus × corpus candidate pairs between TWO persisted indexes —
    * dataset-vs-dataset near-dup discovery (contamination sweeps,
    * snapshot-vs-snapshot dedup) WITHOUT re-signing either corpus: both
    * sides are scans of persisted 8-byte-key band rows, equi-joined on
    * (band, bkey), O(|indexA| + |indexB|) signature I/O instead of
    * O(corpus · signature cost). Shuffle-hash join, never broadcast: both
    * sides are corpus-sized. Both sidecars are verified against THIS
    * library's family, so the keys are mutually comparable; fan-outs may
    * differ (bucket does not join). Id namespaces must be disjoint.
    * Emits distinct (a, b) id pairs with a from `pathA`. */
  def crossCandidates(spark: SparkSession, pathA: String, pathB: String): DataFrame = {
    readMeta(spark, pathA)
    readMeta(spark, pathB)
    def keys(p: String, as: String) = spark.read.parquet(p)
      .select(col("band"), col("bkey"), col(idCol).as(as))
    keys(pathA, aCol).hint("shuffle_hash").join(keys(pathB, bCol), Seq("band", "bkey"))
      .select(col(aCol), col(bCol))
      .distinct()
  }

  /** Exact-verified cross-corpus near-dup pairs: the family's verify rule
    * over [[crossCandidates]]. `rowsA` / `rowsB` supply the payloads. */
  def verifiedCrossPairs(spark: SparkSession, pathA: String, pathB: String,
      rowsA: DataFrame, rowsB: DataFrame): DataFrame =
    family.verify(crossCandidates(spark, pathA, pathB).localCheckpoint(true),
      aCol, bCol, rowsA, rowsB)

  // ------------------------------------------------------------ ingest

  /** One step of a streaming ingest novelty gate (the q56 shape): keep
    * only the batch rows with no exact-verified near-dup already kept,
    * then accrete BOTH stores — the kept-payload table (`keptDir`, what
    * the verify join reads, (id, payload) rows) and the band index
    * (`indexPath`). The first call bootstraps both at `numBuckets`;
    * later calls sign at the index's own fan-out. Returns the number of
    * rows kept. The index always holds exactly the kept rows' band rows.
    *
    * Dedup is greedy-sequential (the production ingest contract): a
    * batch's rows are judged against everything kept BEFORE the batch,
    * never against each other — the kept set is a deterministic function
    * of batch order, and a dropped row can never shadow a later one
    * (only kept representatives are indexed).
    *
    * IDEMPOTENT per `batchId` (the foreachBatch replay contract —
    * Structured Streaming re-executes a micro-batch after a failure or
    * restart from checkpoint, so a two-store update that blindly appends
    * would double-count on replay):
    *  - a committed batch leaves an `_ingested/batch-<id>` marker inside
    *    the index dir, written LAST; a replay that finds it returns the
    *    recorded kept count without touching either store;
    *  - the novelty corpus explicitly EXCLUDES the batch's own ids
    *    (`kept ∖ batch` — the "kept BEFORE the batch" contract made
    *    literal), so recomputing the decision is correct even when a
    *    torn previous attempt already appended this batch somewhere;
    *  - the index append and the kept rows (an OVERWRITTEN per-batch
    *    partition `batch=<id>`) land concurrently, the marker strictly
    *    LAST — every torn combination replays safely. The only
    *    torn-replay residue is duplicate band rows in the index —
    *    harmless for novelty (candidates are `.distinct()`ed, and a
    *    same-batch candidate cannot exact-verify because its payload is
    *    not in the kept corpus) and removed by [[compact]].
    *    The kept table — the store the greedy semantics read — is exact.
    *
    * THE BATCH IS SIGNED ONCE: its band rows are projected and
    * materialized a single time and reused by BOTH the novelty probe and
    * the index write. Band rows are a pure deterministic function of the
    * payload, so the written rows are identical to a fresh projection of
    * the kept subset (q56's index_consistent gate and both families'
    * append-equivalence specs pin this identity end-to-end). */
  def ingestNovel(spark: SparkSession, indexPath: String, keptDir: String,
      batch: DataFrame, batchId: Long, numBuckets: Int = NumBuckets): Long = {
    val payloadCols = Seq(idCol, family.payloadCol)
    val ixP = new org.apache.hadoop.fs.Path(indexPath)
    val fs = ixP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(s"$indexPath/_ingested/batch-$batchId")
    if (fs.exists(marker)) {
      val in = fs.open(marker)
      val recorded =
        try Some(in.readLong())
        catch { case _: java.io.EOFException => None } // torn marker
        finally in.close()
      recorded match {
        case Some(n) => return n
        case None =>
          // A marker that exists but carries no count is a crash between
          // its create and its writeLong — and the marker is written
          // AFTER both store writes, so the batch's kept partition is on
          // disk and authoritative. Recover the count from it and heal
          // the marker; without this, every replay of the batch would
          // die on the same EOF and wedge the ingest loop permanently.
          val n = spark.read.parquet(s"$keptDir/batch=$batchId").count()
          val out = fs.create(marker, true)
          try out.writeLong(n) finally out.close()
          return n
      }
    }
    val keptP = new org.apache.hadoop.fs.Path(keptDir)
    // Bootstrap is decided on a COMMITTED SIDECAR's presence, not the
    // dir's: the sidecar is written LAST, so a crash between bootstrap's
    // band-row write and its sidecar commit (or DURING the sidecar
    // write, leaving only _temporary) leaves the dir present but
    // sidecar-less — dir-existence would route every replay down the
    // append path, where the sidecar read throws forever. A sidecar-less
    // dir qualifies for the self-healing bootstrap OVERWRITE only when
    // its content is recognizably a torn band index (bucket=… partition
    // dirs / write temp litter). Anything else — a mistyped path pointing
    // at some unrelated dataset — must refuse loudly, not be destroyed.
    val metaDir = family.metaDir
    val isBootstrap = !IndexManifest.hasSidecar(spark, indexPath, metaDir)
    if (isBootstrap && fs.exists(ixP)) {
      val foreign = fs.listStatus(ixP).map(_.getPath.getName)
        .filterNot(n => n.startsWith("bucket=") || n == metaDir ||
          n == "_temporary" || n.startsWith("_SUCCESS") || n.startsWith("."))
      require(foreign.isEmpty,
        s"$indexPath exists without a committed $metaDir sidecar and holds " +
          s"non-band-index content (${foreign.take(3).mkString(", ")}…) — " +
          "refusing to overwrite; pass an empty/new path or a torn index dir")
    }
    // sign the batch ONCE at the effective fan-out (the existing
    // sidecar's on append — fan-out is an index property, not a call
    // parameter); materialized so the probe and the append read the
    // same physical rows without recomputing the projection
    val buckets = if (isBootstrap) numBuckets else bucketsAt(spark, indexPath)
    val bandRows = indexRows(batch, buckets).localCheckpoint(true)
    val nv0 =
      if (isBootstrap) batch
      else {
        val keptBefore =
          if (fs.exists(keptP))
            spark.read.parquet(keptDir).select(payloadCols.map(col): _*)
              .join(batch.select(col(idCol)), Seq(idCol), "left_anti")
          else batch.select(payloadCols.map(col): _*).limit(0)
        withoutDups(batch,
          verifiedDupPairsFromRows(spark, indexPath, bandRows, batch, keptBefore))
      }
    // materialize BEFORE mutating either store: the novelty decision must
    // be taken against the pre-batch state, and the index append below
    // must not re-evaluate the probe over a half-updated kept table
    val nv = nv0.localCheckpoint(true)
    // index rows of the KEPT subset = the pre-signed batch rows filtered
    // to kept ids (identical to a fresh projection — determinism)
    val keptRows = bandRows.join(nv.select(col(idCol)), Seq(idCol))
    // the two store writes both read materialized blocks and are
    // independent of each other — overlap them. The replay contract is
    // unchanged: the marker still lands strictly LAST, so any torn
    // combination of the two writes replays into an overwritten kept
    // partition plus (at worst) duplicate band rows.
    // (kept table: one file per ingest step — one small parquet per
    // batch instead of one per task; per-batch overwrite = replay-safe)
    val keptWriteF = graft.spark.Par.overlapped(
      nv.coalesce(1).write.mode("overwrite").parquet(s"$keptDir/batch=$batchId"))
    try {
      if (isBootstrap) {
        writeRows(keptRows, indexPath, "overwrite")
        writeMeta(spark, indexPath, buckets)
      } else {
        readMeta(spark, indexPath)
        writeRows(keptRows, indexPath, "append")
      }
    } catch { case e: Throwable =>
      // a failed index write must not leave the kept write ORPHANED:
      // the streaming replay of this batch would overwrite the same
      // batch=<id> partition while the orphan is still committing —
      // two jobs colliding on one output dir. Wait it out (suppressing
      // its own error so the index failure stays primary), THEN rethrow.
      graft.spark.Par.quietly(keptWriteF)
      throw e
    }
    keptWriteF()
    val n = nv.count()
    val out = fs.create(marker, true)
    try out.writeLong(n) finally out.close()
    n
  }

  // --------------------------------------------------------- lifecycle

  /** Index observability: per-bucket row/id/file counts straight from the
    * partitioned layout, plus the bucket's share of the index. The
    * fragmentation signal for [[compact]] (every append lands one new
    * file per touched bucket; after thousands of ingest steps a probe of
    * one bucket opens thousands of files) and the skew signal (degenerate
    * signatures — empty docs, near-axis-aligned embeddings — show as a
    * hot bucket). One scan of the key columns; payload-free. */
  def stats(spark: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    readMeta(spark, path)
    val rows = spark.read.parquet(path)
      // input_file_name() is non-deterministic and must be PROJECTED
      // before it can feed an aggregate
      .select(col("bucket"), col(idCol), input_file_name().as("__file"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col(idCol)).as("n_docs"),
        countDistinct(col("__file")).as("n_files"))
    rows
      .withColumn("share_bp", (col("n_rows") * 10000L /
        sum(col("n_rows")).over(Window.partitionBy())).cast("long"))
      .orderBy(col("bucket"))
  }

  /** Compact a fragmented index into `destPath`: [[rebucket]] at the
    * index's own fan-out — each bucket's accreted small files are
    * shuffled onto one task and rewritten coalesced, the SAME family and
    * fan-out travel in the reinstalled sidecar, and the torn-replay
    * duplicate band rows are dropped. Writes to a NEW path on purpose —
    * the atomic swap is [[compactVersioned]]'s manifest flip. destPath
    * must not exist. */
  def compact(spark: SparkSession, srcPath: String, destPath: String): Unit =
    rebucket(spark, srcPath, destPath, bucketsAt(spark, srcPath))

  /** Re-bucket into `destPath` at a new fan-out — capacity growth without
    * re-signing: the band KEY is stored and the bucket is a pure function
    * of it (`bkey & (N-1)`), so growing the fan-out recomputes one column
    * and rewrites the layout, O(index) work instead of O(corpus ·
    * signature cost). Rows are `.distinct()`ed in the same pass: the one
    * legal duplicate source is a torn ingest replay (a batch appended
    * twice before its marker landed), and (id, band) is unique within
    * any single append, so this removes exactly that residue. The
    * sidecar is reinstalled with the new bucket count and the `_ingested`
    * replay markers are copied, so a resumed ingest loop keeps its
    * idempotency history. destPath must not exist. */
  def rebucket(spark: SparkSession, srcPath: String, destPath: String,
      newBuckets: Int): Unit = {
    readMeta(spark, srcPath)
    requirePow2(newBuckets)
    writeRows(spark.read.parquet(srcPath)
      .select(col(idCol), col("band"), col("bkey"))
      .withColumn("bucket", bucketOf(col("bkey"), newBuckets))
      .distinct(), destPath, "errorifexists")
    writeMeta(spark, destPath, newBuckets)
    val markers = new org.apache.hadoop.fs.Path(s"$srcPath/_ingested")
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = markers.getFileSystem(conf)
    if (fs.exists(markers))
      org.apache.hadoop.fs.FileUtil.copy(fs, markers, fs,
        new org.apache.hadoop.fs.Path(s"$destPath/_ingested"), false, conf)
    ()
  }

  // ------------------------------------------- versioned index lifecycle
  // The generational root + atomic manifest flip of [[IndexManifest]]
  // (root/_manifest/vNNNNNNNN points at root/gen-NNNNNNNN).

  /** Current index DATA path under a versioned root — probe, append and
    * ingest entry points take this resolved path. */
  def currentPath(spark: SparkSession, rootPath: String): String =
    IndexManifest.currentPath(spark, rootPath, versionedHint)

  /** Build the first (or a replacement) generation of a versioned root
    * and flip the manifest. Returns the data path. */
  def writeVersioned(rows: DataFrame, rootPath: String,
      numBuckets: Int = NumBuckets): String =
    IndexManifest.installNext(rows.sparkSession, rootPath)(write(rows, _, numBuckets))

  /** Compact the CURRENT generation into a new one and flip the manifest
    * ([[stats]] signals it, [[compact]] rewrites, this installs). The old
    * generation stays for in-flight readers; [[retireGenerations]]
    * deletes it once their horizon passes. Returns the new data path. */
  def compactVersioned(spark: SparkSession, rootPath: String): String =
    IndexManifest.rewriteCurrent(spark, rootPath, versionedHint)(compact(spark, _, _))

  /** Re-bucket the CURRENT generation into a new one at `newBuckets` and
    * flip the manifest — the atomic fan-out-growth swap. */
  def rebucketVersioned(spark: SparkSession, rootPath: String, newBuckets: Int): String =
    IndexManifest.rewriteCurrent(spark, rootPath, versionedHint)(
      rebucket(spark, _, _, newBuckets))

  /** Delete every generation dir strictly older than the current one (see
    * [[IndexManifest.retireOldGenerations]] for why strictly-older).
    * Returns the deleted paths. */
  def retireGenerations(spark: SparkSession, rootPath: String): Seq[String] =
    IndexManifest.retireOldGenerations(spark, rootPath, versionedHint)
}

private[pipeline] object BandIndex {

  /** Bucket fan-out must be a power of two: the bucket is the low bits
    * of the 64-bit band key, so membership in a bucket is a bitmask —
    * stable under any future fan-out *growth* by splitting. */
  def requirePow2(numBuckets: Int): Unit =
    require(numBuckets > 0 && (numBuckets & (numBuckets - 1)) == 0,
      s"numBuckets must be a power of two, got $numBuckets")

  /** The bucket column of a band-key column under fan-out N. */
  def bucketOf(bkey: Column, numBuckets: Int): Column =
    bkey.bitwiseAND(lit((numBuckets - 1).toLong)).cast("int")

  /** Land band rows inside the partitioned layout. */
  def writeRows(rows: DataFrame, path: String, mode: String): Unit =
    rows.repartition(col("bucket"))
      .write.partitionBy("bucket").mode(mode).parquet(path)

  /** Verified sidecar values of every band index in the JVM, keyed by the
    * sidecar's file identity (the dir name is in the key, so families
    * never collide). */
  private val metaMemo = new SidecarCache[Seq[Int]]()
}
