package graft.pipeline

import graft.core.Hashing
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (vec_id, embedding:
  * array<float>, label).
  *
  * Brute-force cosine top-k is the correctness baseline (one broadcast of
  * the query set, one scan — at 100 TB this is the only exact option and
  * it's embarrassingly parallel). IVF is the scale path: a fixed, seeded
  * centroid codebook (no training pass — deterministic), cluster
  * assignment at write time, query probes the nprobe nearest centroids so
  * the scan touches nprobe/ncentroids of the corpus.
  */
object VectorPipeline {

  def embeddings(spark: SparkSession, sfDir: String): DataFrame =
    embeddings(spark, graft.spark.TableSource.parquetDir(sfDir))

  def embeddings(spark: SparkSession, source: graft.spark.TableSource): DataFrame =
    source.table(spark, "embeddings")

  /** Deterministic ±amp/2 multiplicative per-dimension perturbation of
    * (vec_id, embedding) rows, ids shifted by `idOffset`: for unit-norm
    * inputs the perturbed vector sits at cos ≈ 1 − amp²/24 to its source
    * (≈ 0.9996 at the 0.1 default) while its cosine to every OTHER
    * vector moves only O(amp). Seeded by xxHash64 of (source vec_id,
    * dimension) — no RNG, identical on every executor and run. The
    * near-dup PLANTING fixture for the SRP-index gates (q57,
    * SrpIndexSpec): the driver testdata embeddings are mutually
    * near-orthogonal (max natural cos ≈ 0.6), so high-cosine duplicate
    * pairs must be constructed, the q48 injected-PII rule. */
  def perturbEmbeddings(vecs: DataFrame, idOffset: Long,
      amp: Double = 0.1): DataFrame =
    vecs.select((col("vec_id") + idOffset).as("vec_id"),
      // outer CAST back to FLOAT: Spark's fractional `/` always widens to
      // double, which would silently turn the array into array<double>
      expr(("transform(embedding, (x, i) -> CAST(x * (1.0D + " +
        s"$amp * " +
        "(CAST(((xxhash64(vec_id, i) % 101) + 101) % 101 AS DOUBLE) " +
        "/ 101.0D - 0.5D)) AS FLOAT))")).as("embedding"))

  /** Negated copies (ids shifted by `idOffset`): cos to every corpus
    * vector is the NEGATED natural cosine — guaranteed-novel probes at
    * any high-τ near-dup criterion over a near-orthogonal corpus. */
  def negateEmbeddings(vecs: DataFrame, idOffset: Long): DataFrame =
    vecs.select((col("vec_id") + idOffset).as("vec_id"),
      expr("transform(embedding, x -> -x)").as("embedding"))

  /** Cosine similarity of two float-array columns — the native codegen'd
    * CosineSim expression (one fused primitive loop inside whole-stage
    * codegen). Bit-identical to the zip_with/aggregate higher-order form
    * it replaces (float multiply, double accumulate, same 1e-12 floor —
    * parity pinned in VectorExprSpec), but HOFs are CodegenFallback:
    * they allocate a product array per row and drop the projection out
    * of codegen — the wrong shape for a 10^9-row scoring scan. */
  def cosine(a: Column, b: Column): Column =
    graft.spark.catalyst.cosineNative(a, b)

  /** Brute-force top-k: queries (small, broadcast) × corpus (scanned once),
    * ranked per query with a window — the exact baseline. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = corpus.as("c")
      .crossJoin(broadcast(queries.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))))
      .filter(col("c.vec_id") =!= col("q_id"))
      .select(col("q_id"), col("c.vec_id").as("n_id"),
        cosine(col("q_emb"), col("c.embedding")).as("cos"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Brute-force top-k over INT8-QUANTIZED vectors: the same broadcast ×
    * scan shape as [[bruteForceTopK]], but the corpus column is the
    * 1-byte-per-dimension [[graft.spark.catalyst.QuantizeI8]] blob — 4×
    * less storage/shuffle/scan IO, which at a 10^9×high-dim corpus is
    * the difference between an IO-bound and a compute-bound scoring
    * scan. Per-vector scales cancel in cosine, so nothing but the bytes
    * is stored; recall vs the float path is gated in q44. */
  def bruteForceTopKQuantized(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame =
    topKFromScored(bruteForceScoredQuantized(corpus, queries), k)

  /** The int8 brute-force SCORED relation (q_id, n_id, cos) — shared by
    * the one-stage top-k and the two-stage re-rank candidate generator. */
  def bruteForceScoredQuantized(corpus: DataFrame, queries: DataFrame): DataFrame = {
    import graft.spark.catalyst.{cosineI8, quantizeI8}
    val qc = corpus.select(col("vec_id"), quantizeI8(col("embedding")).as("qe"))
    val qq = queries.select(col("vec_id").as("q_id"), quantizeI8(col("embedding")).as("q_qe"))
    qc.crossJoin(broadcast(qq))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"), cosineI8(col("q_qe"), col("qe")).as("cos"))
  }

  /** Naive deterministic IVF codebook: the embeddings of the `ncentroids`
    * smallest vec_ids — kept as the untrained BASELINE for the trained
    * codebook's recall comparison (and note it is subtly leaky as a
    * benchmark codebook when the query set is also "smallest vec_ids":
    * every query is then itself a centroid). Returns (centroid_id, c_emb). */
  def codebook(corpus: DataFrame, ncentroids: Int): DataFrame =
    corpus.orderBy(col("vec_id")).limit(ncentroids)
      .select(monotonically_increasing_id().as("centroid_id"), col("embedding").as("c_emb"))

  /** TRAINED deterministic codebook: sampled spherical k-means with zero
    * RNG anywhere —
    *   - sample: the `sampleN` vectors with smallest (xxHash64(vec_id),
    *     vec_id) — a seeded shuffle that is identical at any parallelism
    *     and cluster size; computed as a distributed top-k, only the
    *     sample (sampleN·dim floats) reaches the driver, so at 100 TB
    *     this is a constant-size pull;
    *   - init: the first `ncentroids` sample vectors in that hash order;
    *   - `iters` Lloyd rounds over the normalized sample, centroids
    *     renormalized each round (spherical k-means = cosine assignment,
    *     matching ivfAssign/ivfTopK's cosine routing).
    * Driver-side Lloyd over ≤ sampleN vectors is deliberate: k-means on a
    * bounded sample is O(sampleN·k·iters·dim) regardless of corpus size,
    * and keeps the result bit-deterministic (a distributed reduce would
    * reorder float additions). Returns (centroid_id, c_emb). */
  def trainedCodebook(corpus: DataFrame, ncentroids: Int, sampleN: Int = 2048,
      iters: Int = 10): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val rows = corpus.select(col("vec_id"), col("embedding"))
      .orderBy(xxhash64(col("vec_id")), col("vec_id"))
      .limit(sampleN)
      .collect()
    val sample: Array[Array[Double]] = rows.flatMap { r =>
      val v = r.getSeq[Float](1).toArray.map(_.toDouble)
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n > 0) Some(v.map(_ / n)) else None // zero vectors have no direction
    }
    require(sample.nonEmpty, "cannot train a codebook on an empty/all-zero corpus")
    val k = math.min(ncentroids, sample.length)
    val dim = sample.head.length
    var cents = Array.tabulate(k)(i => sample(i).clone())
    for (_ <- 0 until iters) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Int](k)
      sample.foreach { v =>
        var best = 0
        var bestDot = Double.MinValue
        var c = 0
        while (c < k) {
          var dot = 0.0
          var d = 0
          while (d < dim) { dot += cents(c)(d) * v(d); d += 1 }
          if (dot > bestDot) { bestDot = dot; best = c }
          c += 1
        }
        var d = 0
        while (d < dim) { sums(best)(d) += v(d); d += 1 }
        counts(best) += 1
      }
      cents = Array.tabulate(k) { c =>
        if (counts(c) == 0) cents(c) // empty cluster keeps its centroid
        else {
          val n = math.sqrt(sums(c).map(x => x * x).sum)
          if (n > 0) sums(c).map(_ / n) else cents(c)
        }
      }
    }
    cents.zipWithIndex
      .map { case (c, i) => (i.toLong, c.map(_.toFloat).toSeq) }
      .toSeq.toDF("centroid_id", "c_emb")
  }

  /** Per-partition partial of the distributed k-means update step:
    * normalized-vector sums + counts for the centroids this partition
    * touched. Declared at object level so the Product encoder resolves. */
  private[pipeline] case class CbPartial(part: Int, cid: Long, cnt: Long,
      sums: Array[Double])

  /** Per-partition PQ k-means partial: one (subspace, code) sum vector
    * (see [[trainedPqBooks]]). Object-level for the Product encoder. */
  private[pipeline] case class PqPartial(part: Int, sub: Int, code: Int,
      cnt: Long, sums: Array[Double])

  /** DISTRIBUTED deterministic spherical k-means — the codebook path
    * past toy k ([[trainedCodebook]]'s driver-side Lloyd is deliberate
    * and exact but caps at sampleN ≈ 2048; at ncentroids ≈ √n =
    * 10⁴–10⁵ the sample must outgrow the driver loop). Zero RNG, and
    * DETERMINISTIC AT ANY PARALLELISM — the property the driver-side
    * version bought by collecting — via pinned float-addition order:
    *   - sample: the `sampleN` non-zero vectors with smallest
    *     (xxHash64(vec_id), vec_id) — the same seeded order rule as
    *     [[trainedCodebook]], computed as a distributed top-k;
    *   - layout: the sample is hash-repartitioned into a FIXED `parts`
    *     count by vec_id and sorted within partitions, so partition
    *     membership and iteration order are pure functions of the data,
    *     not of the cluster size;
    *   - update: assignment is one codegen'd [[ivfAssign]]-style
    *     CosineArgmax projection (no shuffle) — TWO-LEVEL routed once k
    *     ≥ `twoLevelTrainK` (coarseK = ⌈√k⌉, probes = 8): per-iteration
    *     assignment drops from O(k·dim) to O((√k + 8√k)·dim) per row,
    *     which is what keeps training viable at the k = 10⁴–10⁵ design
    *     point; Lloyd absorbs the boundary mis-assignments (a routed
    *     vector lands in a nearly-tied neighboring cluster, the same
    *     error class the iteration itself is converging away), and the
    *     result stays BIT-DETERMINISTIC at any parallelism — the
    *     assigner is a pure function of (centroids, coarseK, probes),
    *     zero RNG, and the partial-fold order below is unchanged; each
    *     partition folds its
    *     rows' normalized vectors into per-centroid partial sums
    *     (mapPartitions, sorted order) and only (parts × touched-k ×
    *     dim) doubles reach the driver, which folds partials in
    *     (centroid, partition) order — every float addition happens in
    *     a reproducible sequence;
    *   - init / empty-cluster rule: first `ncentroids` sample vectors
    *     in hash order; an empty cluster keeps its centroid (same
    *     rules as [[trainedCodebook]]).
    * Driver memory is O(parts · k · dim) per iteration — at k = 10⁵,
    * dim = 10³, parts = 64 that is the fold buffer, not the corpus.
    * Returns (centroid_id, c_emb). */
  def trainedCodebookDistributed(corpus: DataFrame, ncentroids: Int,
      sampleN: Int = 1 << 17, iters: Int = 10, parts: Int = 64,
      twoLevelTrainK: Int = 512): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    require(ncentroids >= 1 && sampleN >= ncentroids,
      s"need sampleN >= ncentroids, got $sampleN < $ncentroids")
    val hashOrder = Seq(xxhash64(col("vec_id")), col("vec_id"))
    val sample = corpus
      .select(col("vec_id"), col("embedding"))
      .filter(exists(col("embedding"), x => x =!= 0f)) // zero vectors have no direction
      .orderBy(hashOrder: _*)
      .limit(sampleN)
      .repartition(parts, col("vec_id"))
      .sortWithinPartitions(hashOrder: _*)
      .cache()
    val initRows = sample.orderBy(hashOrder: _*).limit(ncentroids).collect()
    require(initRows.nonEmpty, "cannot train a codebook on an empty/all-zero corpus")
    val k = math.min(ncentroids, initRows.length)
    val dim = initRows.head.getSeq[Float](1).length
    def normalized(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n > 0) v.map(_ / n) else v
    }
    var cents: Array[Array[Double]] =
      initRows.take(k).map(r => normalized(r.getSeq[Float](1).toArray.map(_.toDouble)))
    val ids = (0 until k).map(_.toLong)
    // two-level routing above the threshold: coarseK = ⌈√k⌉ balances
    // the coarse scan against the probed fine scans; probes = 8 is the
    // measured 0.98-agreement point (BENCH.md two-level table)
    def assignCol(centsF: Seq[Seq[Float]]): Column =
      if (k >= twoLevelTrainK) {
        val ck = math.max(1, math.ceil(math.sqrt(k.toDouble)).toInt)
        graft.spark.catalyst.cosineArgmaxTwoLevelNative(
          col("embedding"), ids, centsF, ck, probes = 8)
      } else graft.spark.catalyst.cosineArgmaxNative(col("embedding"), ids, centsF)
    for (_ <- 0 until iters) {
      val centsF = cents.toSeq.map(_.toSeq.map(_.toFloat))
      val partials = sample
        .select(col("embedding"), assignCol(centsF).as("cid"))
        .filter(col("cid").isNotNull)
        .as[(Seq[Float], Long)]
        .mapPartitions { it =>
          val pid = org.apache.spark.TaskContext.getPartitionId()
          // per-centroid buffers allocated ON FIRST TOUCH: a partition
          // holds ≤ sampleN/parts rows and can touch at most that many
          // centroids, so task memory is O(touched·dim), never O(k·dim)
          // — at k = 10⁵, dim = 10³ an eager dense table would be
          // 800 MB of zeroed doubles per task
          val sums = new Array[Array[Double]](k)
          val cnts = new Array[Long](k)
          it.foreach { case (emb, cid) =>
            val c = cid.toInt
            if (sums(c) == null) sums(c) = new Array[Double](dim)
            var nrm = 0.0d
            var i = 0
            while (i < dim) { val x = emb(i).toDouble; nrm += x * x; i += 1 }
            nrm = math.sqrt(nrm)
            i = 0
            while (i < dim) { sums(c)(i) += emb(i).toDouble / nrm; i += 1 }
            cnts(c) += 1
          }
          (0 until k).iterator.filter(cnts(_) > 0)
            .map(c => CbPartial(pid, c.toLong, cnts(c), sums(c)))
        }
        .collect()
      val byCid = partials.groupBy(_.cid)
      cents = Array.tabulate(k) { c =>
        byCid.get(c.toLong) match {
          case Some(ps) =>
            val acc = new Array[Double](dim)
            ps.sortBy(_.part).foreach { p =>
              var i = 0
              while (i < dim) { acc(i) += p.sums(i); i += 1 }
            }
            val n = math.sqrt(acc.map(x => x * x).sum)
            if (n > 0) acc.map(_ / n) else cents(c)
          case None => cents(c) // empty cluster keeps its centroid
        }
      }
    }
    sample.unpersist()
    cents.zipWithIndex
      .map { case (c, i) => (i.toLong, c.map(_.toFloat).toSeq) }
      .toSeq.toDF("centroid_id", "c_emb")
  }

  /** Assign every vector to its nearest centroid (write-time step).
    *
    * SHUFFLE-FREE: the codebook is by construction tiny (trainedCodebook
    * materializes it on the driver already), so the per-row argmax is ONE
    * map-side projection — the fused CosineArgmax expression
    * (catalyst.cosineArgmaxNative): a single primitive loop per row
    * computes every centroid's cosine and keeps the winner (ties to the
    * smallest centroid_id), zero per-row allocation, inside whole-stage
    * codegen, bit-identical to scoring each centroid with [[cosine]] and
    * taking (cos desc, centroid_id asc). The round-2 shape (crossJoin +
    * Window.partitionBy(vec_id) + row_number) hash-exchanged and sorted
    * corpus×ncentroids rows — at 10^9 vectors × 16 centroids a
    * 1.6·10^10-row shuffle for a per-row reduction, on the write-time
    * critical path of the index. */
  def ivfAssign(corpus: DataFrame, book: DataFrame): DataFrame = {
    val cents = collectBook(book)
    corpus.select(col("vec_id"), col("embedding"),
      graft.spark.catalyst.cosineArgmaxNative(col("embedding"),
        cents.map(_._1).toSeq, cents.map(_._2).toSeq).as("centroid_id"))
  }

  /** Driver-side codebook materialization shared by every assignment
    * path (one definition, so the paths cannot drift). */
  private def collectBook(book: DataFrame): Array[(Long, Seq[Float])] = {
    val cents = book.select(col("centroid_id"), col("c_emb")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
      .sortBy(_._1)
    require(cents.nonEmpty, "cannot assign against an empty codebook")
    cents
  }

  /** Two-level (coarse → fine) assignment — [[ivfAssign]]'s successor
    * once ncentroids outgrows the flat O(k·dim) per-row scan (~10³;
    * BENCH.md's measured curve is linear in k). A coarse codebook of
    * `coarseK ≈ √k` centroids is trained over the FINE CENTROIDS
    * (driver-side, deterministic, k rows — never the corpus); each row
    * scores the coarse book, then runs the exact fine argmax over only
    * the `probes` best coarse buckets: O((coarseK + probes·k/coarseK)
    * ·dim) per row. Approximate routing — measured agreement with the
    * flat argmax: 0.83 / 0.92 / 0.98 at probes 2/4/8 with coarseK=32,
    * k=1024 (BENCH.md two-level table; TwoLevelAssignSpec gates ≥ 0.80
    * at probes=2/coarseK=8), and `probes = coarseK` reproduces the
    * flat assignment exactly (bit-level, same spec). An IVF built on
    * two-level assignments keeps its recall: a mis-assignment moves a
    * vector to a nearly-tied neighboring list, the same kind of
    * boundary error nprobe > 1 already absorbs on the query side. */
  def ivfAssignTwoLevel(corpus: DataFrame, book: DataFrame,
      coarseK: Int, probes: Int): DataFrame = {
    val cents = collectBook(book)
    corpus.select(col("vec_id"), col("embedding"),
      graft.spark.catalyst.cosineArgmaxTwoLevelNative(col("embedding"),
        cents.map(_._1).toSeq, cents.map(_._2).toSeq, coarseK, probes).as("centroid_id"))
  }

  // -------------------------------------------- embedding-cosine near-dup
  /** SRP (signed-random-projection) LSH for DENSE embeddings at high
    * cosine thresholds. Per-bit collision probability is p = 1 − θ/π, so
    * the random-vs-near-dup gap is only 0.5 → ~0.9 at cos ≥ 0.9 — wide
    * bands (16 bits) are required to suppress the n² random-pair mass,
    * and that in turn limits SRP to high thresholds. For near-dup over
    * BINARY-support embeddings (e.g. shingle-incidence document vectors)
    * at moderate τ, minhash on the support is the right angular LSH
    * (its gap is j ≈ 0 → 0.5, vastly stronger amplification) — see
    * PipelineEntries q29, which pairs TextPipeline.minhashCandidates
    * with TextPipeline.exactCosinePairs. A 4-bit-band SRP variant of q29
    * was measured: it "recalled" everything only because ~95% of all n²
    * pairs collided somewhere — no pruning at all. */
  val SrpBandBits: Int = graft.spark.catalyst.SrpBandKernel.BandBits
  val SrpBands: Int = graft.spark.catalyst.SrpBandKernel.Bands

  /** Reference Scala-UDF form of the band keys, kept ONLY as the parity
    * oracle for the native expression (SrpLshSpec pins both directions
    * on real embeddings + the null/empty/zero edge cases). The sign
    * matrix, band geometry, and arithmetic are SrpBandKernel's. */
  private[graft] val srpBandKeysUdf = udf { (vec: Seq[Float]) =>
    import graft.spark.catalyst.SrpBandKernel.{BandBits, Bands, MaxDim}
    if (vec == null || vec.isEmpty || !vec.exists(_ != 0f)) null
    else {
      require(vec.length <= MaxDim,
        s"embedding dim ${vec.length} exceeds SrpBandKernel.MaxDim=$MaxDim — raise it")
      val keys = new Array[Long](Bands)
      var b = 0
      while (b < Bands) {
        var bits = 0L
        var j = 0
        while (j < BandBits) {
          val signs = graft.spark.catalyst.SrpBandKernel.signRow(b * BandBits + j)
          var dot = 0.0
          var d = 0
          while (d < vec.length) { dot += signs(d) * vec(d); d += 1 }
          bits = (bits << 1) | (if (dot >= 0) 1L else 0L)
          j += 1
        }
        keys(b) = bits
        b += 1
      }
      keys
    }
  }

  /** LSH candidate pairs (id_a < id_b) of likely cosine-near-dup dense
    * embeddings — the corpus-scale path when exact all-pairs is n². Same
    * shuffle shape as TextPipeline.minhashCandidates: only (id, band,
    * 8-byte key) rows move; candidates then get exact-cosine verified.
    * The map-side signature is the NATIVE codegen'd [[graft.spark.catalyst.SrpBandKeys]]
    * (round 5 — the last near-dup map side running a boxed Scala UDF). */
  def srpCandidates(vecs: DataFrame, idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val bands = vecs
      .select(col(idCol).as("id"),
        posexplode_outer(graft.spark.catalyst.srpBandKeysNative(col(embCol))).as(Seq("band", "bkey")))
      .filter(col("bkey").isNotNull)
      // shuffle-hash, not broadcast: ReusedExchange evaluates the
      // projection pipeline once (see TextPipeline.minhashCandidates)
      .hint("shuffle_hash")
    bands.as("a").join(bands.as("b"), Seq("band", "bkey"))
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
  }

  /** Per-query probed-centroid relation: (q_id, q_emb, centroid_id,
    * probe_rank ≤ maxProbe) — |queries|·maxProbe rows, tiny (the query
    * set is small by contract; the codebook is broadcast). */
  def centroidProbes(book: DataFrame, queries: DataFrame, maxProbe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val qc = queries.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      .crossJoin(broadcast(book))
      .select(col("q_id"), col("q_emb"), col("centroid_id"),
        cosine(col("q_emb"), col("c_emb")).as("ccos"))
    val wq = Window.partitionBy(col("q_id")).orderBy(col("ccos").desc, col("centroid_id"))
    qc.withColumn("probe_rank", row_number().over(wq))
      .filter(col("probe_rank") <= maxProbe)
      .select(col("q_id"), col("q_emb"), col("centroid_id"), col("probe_rank"))
  }

  /** Scored IVF candidates with the PROBE RANK retained: one centroid
    * ranking + one inverted-list join + one cosine pass serves every
    * probe depth ≤ maxProbe (filter `probe_rank <= nprobe`, then rank
    * top-k) — multi-depth recall gates and sweeps reuse a single scan
    * instead of re-scanning per depth. Returns
    * (q_id, n_id, cos, probe_rank). */
  def ivfScoredCandidates(assigned: DataFrame, book: DataFrame, queries: DataFrame,
      maxProbe: Int): DataFrame =
    scoreProbedLists(centroidProbes(book, queries, maxProbe), assigned)

  /** The broadcast probe relation joined onto the inverted lists, each
    * candidate scored by `score` (float cosine by default; the persisted
    * index passes its payload's score). */
  private def scoreProbedLists(probes: DataFrame, lists: DataFrame,
      score: Column = cosine(col("q_emb"), col("embedding"))): DataFrame =
    broadcast(probes).join(lists, "centroid_id")
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"), score.as("cos"), col("probe_rank"))

  // ------------------------------------------------- persisted IVF index
  /** Deterministic 64-bit fingerprint of a codebook's logical content:
    * (centroid_id, dim, float bit patterns) folded through xxHash64 in
    * ascending-id order. The codebook IS the index's routing config —
    * the analogue of the reference's BloomFilterConfig, whose merge
    * discipline is refuse-on-mismatch (km_bloom_filter.rs:185–187) —
    * so it gets the same identity treatment: persisted with the index,
    * verified on every append and probe. Driver-side collect is fine:
    * the codebook is tiny by construction. */
  def codebookFingerprint(book: DataFrame): Long = {
    // the SAME materialization as every assignment path (collectBook) —
    // the fingerprint guards against routing drift, so it must not be
    // able to drift from the thing it guards
    val cents = collectBook(book)
    var h = 0x49564643L // 'IVFC'
    cents.foreach { case (id, emb) =>
      h = Hashing.xxHash64Long(id, h)
      h = Hashing.xxHash64Long(emb.length.toLong, h)
      emb.foreach { f =>
        h = Hashing.xxHash64Long(
          java.lang.Float.floatToIntBits(f).toLong & 0xFFFFFFFFL, h)
      }
    }
    h
  }

  /** The codebook sidecar lives INSIDE the index directory (`_codebook`
    * — the underscore prefix keeps every Spark read of the index data
    * from listing it), so index + routing config move/replicate as one
    * unit and can never drift apart. Written LAST: a half-finished index
    * write leaves no sidecar, so probes fail fast instead of reading a
    * torn index. Rows carry the fingerprint AND the assignment mode as
    * columns (the mode is routing config too: an append that assigned
    * with a different algorithm than the build would scatter
    * nearly-tied vectors differently — appends read the mode from the
    * sidecar and reproduce it); readers verify recomputed-vs-stored to
    * catch a corrupt or hand-edited sidecar. */
  private def writeCodebookSidecar(book: DataFrame, indexPath: String,
      mode: String): Unit = {
    val fp = codebookFingerprint(book)
    book.select(col("centroid_id"), col("c_emb"))
      .withColumn("__fingerprint", lit(fp))
      .withColumn("__assign", lit(mode))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$indexPath/_codebook")
  }

  /** ONE verified sidecar read, shared by every verification shape:
    * returns (book, stored fingerprint, assignment mode). The stored
    * book must match its own fingerprint. The fingerprint, the mode and
    * the file schema are memoized on the sidecar's on-disk identity
    * ([[SidecarCache]]), so a repeat read of an unchanged sidecar runs
    * no job until the book itself is used. Sidecars written before the
    * mode column default to flat. */
  private def readSidecar(spark: SparkSession, indexPath: String)
      : (DataFrame, Long, String) = {
    val dir = s"$indexPath/_codebook"
    val (fs, p) = IndexManifest.requireSidecar(spark, indexPath, "_codebook",
      "an IVF index", "writeIvfIndex")
    def book(raw: DataFrame) = raw.select(col("centroid_id"), col("c_emb"))
    val (stored, mode, schema) = codebookMemo.getOrLoad(fs, p) {
      val raw = spark.read.parquet(dir)
      val meta =
        if (raw.schema.fieldNames.contains("__assign"))
          raw.select(col("__fingerprint"), col("__assign")).distinct().collect()
            .map(r => (r.getLong(0), r.getString(1)))
        else raw.select(col("__fingerprint")).distinct().collect()
          .map(r => (r.getLong(0), IvfAssign.Flat.mode))
      require(meta.length == 1, s"codebook sidecar at $indexPath carries " +
        s"${meta.length} (fingerprint, mode) pairs — corrupt sidecar")
      require(codebookFingerprint(book(raw)) == meta.head._1,
        s"codebook sidecar at $indexPath fails its own fingerprint — corrupt sidecar")
      (meta.head._1, meta.head._2, raw.schema)
    }
    (book(spark.read.schema(schema).parquet(dir)), stored, mode)
  }

  /** Read (and integrity-verify) the codebook an index was built with —
    * the read path needs NO separate codebook argument. */
  def readIvfCodebook(spark: SparkSession, indexPath: String): DataFrame =
    readSidecar(spark, indexPath)._1

  /** Refuse a codebook that is not the one the index was built with:
    * appending rows assigned under a retrained codebook (or probing with
    * one) silently mis-routes — recall degrades with no error anywhere.
    * This was the one silent-corruption path in the library; now it
    * throws at the door like every other config mismatch. One verified
    * (memoized) sidecar read, one fingerprint pass over the supplied
    * book. Returns the index's assignment mode. */
  private def requireCodebookMatch(spark: SparkSession, indexPath: String,
      book: DataFrame): String = {
    val (_, stored, mode) = readSidecar(spark, indexPath)
    require(codebookFingerprint(book) == stored,
      s"codebook mismatch against index at $indexPath: the supplied codebook " +
        "is not the one the index was built with — re-training the codebook " +
        "requires a REBUILD (mixing codebooks mixes routing). Probe without " +
        "a codebook argument to use the index's own persisted codebook.")
    mode
  }

  /** Routing by an [[IvfAssign]]: the flat exact argmax or the
    * two-level coarse → fine one. */
  private def assign(corpus: DataFrame, book: DataFrame, a: IvfAssign): DataFrame =
    a match {
      case IvfAssign.Flat => ivfAssign(corpus, book)
      case IvfAssign.TwoLevel(coarseK, probes) => ivfAssignTwoLevel(corpus, book, coarseK, probes)
    }

  /** The ONE index-row projection, shared by write and append so the two
    * can never drift apart: routing always runs on the FLOAT vectors
    * against the float codebook (bit-identical for every storage), and
    * only the stored payload differs — the float `embedding`, the int8
    * `qe` blob ([[graft.spark.catalyst.QuantizeI8]], 1 B/dim) or the
    * `pq` code ([[graft.spark.catalyst.PqEncode]], m bytes). */
  private def indexRows(corpus: DataFrame, book: DataFrame, layout: IvfLayout): DataFrame = {
    val assigned = assign(corpus, book, layout.assign)
    def payload(c: Column) = assigned.select(col("vec_id"), c, col("centroid_id"))
    layout.storage match {
      case IvfStorage.Float => assigned
      case IvfStorage.Int8 =>
        payload(graft.spark.catalyst.quantizeI8(col("embedding")).as("qe"))
      case IvfStorage.Pq(books) =>
        payload(graft.spark.catalyst.pqEncodeNative(col("embedding"), books).as("pq"))
    }
  }

  /** The storage an index was written with, read from its on-disk
    * payload column — `embedding`, `qe` or `pq` (a PQ index's books come
    * from its verified `_pqbooks`). Readers and appends never take the
    * storage from the caller, so an append cannot mix payloads and a
    * probe cannot score one payload as another. Anything else refuses. */
  private def storageOf(spark: SparkSession, indexPath: String,
      schema: org.apache.spark.sql.types.StructType): IvfStorage =
    Seq("embedding", "qe", "pq").filter(schema.fieldNames.contains) match {
      case Seq("embedding") => IvfStorage.Float
      case Seq("qe") => IvfStorage.Int8
      case Seq("pq") => IvfStorage.Pq(readPqBooks(spark, indexPath))
      case _ => throw new IllegalArgumentException(
        s"index at $indexPath has columns ${schema.fieldNames.mkString(", ")} — " +
          "not an IVF payload this build can read (embedding, qe or pq)")
    }

  /** The sidecars, written LAST (a torn write leaves a probe-refusing
    * index): the `_codebook` with the routing mode, then, for a PQ
    * payload, the `_pqbooks`. */
  private def writeSidecars(book: DataFrame, path: String, mode: String,
      storage: IvfStorage): Unit = {
    writeCodebookSidecar(book, path, mode)
    storage match {
      case IvfStorage.Pq(books) => writePqBooksSidecar(book.sparkSession, books, path)
      case _ =>
    }
  }

  /** Write the IVF index in the INVERTED-LIST layout: the assigned corpus
    * partitioned by centroid_id on storage. This is what makes "scan only
    * nprobe/ncentroids of the corpus" literally true at 100 TB — a query
    * against [[ivfScoredCandidatesFromIndex]] reaches the parquet scan
    * with a `centroid_id IN (probed...)` PARTITION filter, so unprobed
    * inverted lists are never read from storage at all (directory-level
    * pruning), instead of being scanned and discarded by a post-scan
    * filter. Write path is the shuffle-free assignment projection + one
    * partitioned write, then the sidecars (the routing config travels
    * inside the index).
    *
    * `layout` picks the routing and the payload. Two-level routing is the
    * write path once ncentroids outgrows the flat scan (6.9× at
    * k=1024/probes=2, BENCH.md); its mode is recorded in the sidecar, so
    * appends reproduce the same routing. `Int8` is IVF-SQ8 (each list 4×
    * smaller on disk and in the scoring scan); `Pq` is IVF-PQ (a
    * 20 B/vector payload at m=16: 12.8× less list IO than float, 3.2×
    * less than SQ8). The `_codebook` sidecar always stores the FLOAT
    * codebook. */
  def writeIvfIndex(corpus: DataFrame, book: DataFrame, path: String,
      layout: IvfLayout = IvfLayout.default): Unit = {
    indexRows(corpus, book, layout)
      .write.partitionBy("centroid_id").mode("overwrite").parquet(path)
    writeSidecars(book, path, layout.assign.mode, layout.storage)
  }

  /** INCREMENTAL index maintenance: assign a new vector batch with the
    * SAME codebook the index was built with and append it into the
    * partitioned layout — at corpus scale an index is never built once,
    * it accretes. Append is directory-level (new files land inside the
    * existing centroid_id=... partitions), so probes see old + new rows
    * with the same pruning, and the result is value-identical to having
    * built the index over the union in one pass (assignment and encoding
    * are deterministic pure functions of (vector, sidecar state)). The
    * layout comes from the index itself: the assignment mode from the
    * `_codebook` sidecar, the payload from the on-disk column. Re-training
    * the codebook requires a REBUILD — the supplied codebook is
    * fingerprint-verified against the index's persisted one, so a
    * retrained-codebook append THROWS instead of silently corrupting
    * routing. */
  def appendToIvfIndex(batch: DataFrame, book: DataFrame, path: String): Unit =
    appendRows(batch, book, path, requireCodebookMatch(batch.sparkSession, path, book))

  /** Append a batch using the index's OWN persisted codebook — the
    * incremental-ingest shape with no routing config to pass (and
    * nothing to get wrong; the sidecar's self-verify stands in for the
    * match). */
  def appendToIvfIndex(batch: DataFrame, path: String): Unit = {
    val (book, _, mode) = readSidecar(batch.sparkSession, path)
    appendRows(batch, book, path, mode)
  }

  private def appendRows(batch: DataFrame, book: DataFrame, path: String,
      mode: String): Unit = {
    val spark = batch.sparkSession
    val layout = IvfLayout(IvfAssign.parse(mode),
      storageOf(spark, path, spark.read.parquet(path).schema))
    indexRows(batch, book, layout).write.partitionBy("centroid_id").mode("append").parquet(path)
  }

  /** Scored candidates against a WRITTEN index ([[writeIvfIndex]]):
    * identical semantics to [[ivfScoredCandidates]] (same probes, same
    * deterministic assignment), but the corpus scan is partition-pruned
    * to the probed inverted lists. The probed-centroid id pull is ≤
    * ncentroids values — constant-size, never corpus-bound. Routing is
    * always the float query against the float codebook; scoring follows
    * the index's payload: float [[cosine]], the integer-MAC
    * [[graft.spark.catalyst.CosineSimI8]] on the quantized query, or
    * ADC ([[graft.spark.catalyst.PqAdcCosine]]) against per-query
    * lookup tables riding the broadcast probe relation. The supplied
    * codebook must be the index's own. Returns (q_id, n_id, cos,
    * probe_rank). */
  def ivfScoredCandidatesFromIndex(spark: SparkSession, indexPath: String,
      book: DataFrame, queries: DataFrame, maxProbe: Int): DataFrame = {
    requireCodebookMatch(spark, indexPath, book)
    scoredFromIndex(spark, indexPath, book, queries, maxProbe)
  }

  /** Same, routing with the index's OWN persisted codebook — the read
    * path needs no codebook argument at all (and cannot be handed a
    * stale one; one sidecar read, self-verified). */
  def ivfScoredCandidatesFromIndex(spark: SparkSession, indexPath: String,
      queries: DataFrame, maxProbe: Int): DataFrame =
    scoredFromIndex(spark, indexPath,
      readIvfCodebook(spark, indexPath), queries, maxProbe)

  private def scoredFromIndex(spark: SparkSession, indexPath: String,
      book: DataFrame, queries: DataFrame, maxProbe: Int): DataFrame = {
    import graft.spark.catalyst.{cosineI8, pqAdcCosineNative, quantizeI8}
    val index = spark.read.parquet(indexPath)
    val probed = centroidProbes(book, queries, maxProbe)
    val (probes, score) = storageOf(spark, indexPath, index.schema) match {
      case IvfStorage.Float => (probed, cosine(col("q_emb"), col("embedding")))
      case IvfStorage.Int8 =>
        (probed.withColumn("q_qe", quantizeI8(col("q_emb"))).drop("q_emb"),
          cosineI8(col("q_qe"), col("qe")))
      case IvfStorage.Pq(books) =>
        // table built on the QUERIES relation (one m·ksub·subdim pass per
        // query), then joined onto the probe fan-out — building it after
        // centroidProbes would run the UDF maxProbe× per query
        val qTabs = queries.select(col("vec_id").as("q_id"),
          pqAdcTable(books)(col("embedding")).as("q_tab"))
        (probed.drop("q_emb").join(broadcast(qTabs), "q_id"),
          pqAdcCosineNative(col("q_tab"), col("pq")))
    }
    // probes is computed twice (id pull here + the join below) — it is
    // |queries|·maxProbe rows against a broadcast codebook, so the
    // recompute is cheaper than holding a cache registration open past
    // this call's lifetime
    val probedIds = probes.select(col("centroid_id")).distinct()
      .collect().map(_.getLong(0)).sorted
    scoreProbedLists(probes, index.filter(col("centroid_id").isin(probedIds.toSeq: _*)), score)
  }

  /** Top-k against a written index with partition-pruned scans. */
  def ivfTopKFromIndex(spark: SparkSession, indexPath: String, book: DataFrame,
      queries: DataFrame, k: Int, nprobe: Int): DataFrame =
    topKFromScored(
      ivfScoredCandidatesFromIndex(spark, indexPath, book, queries, nprobe), k)

  /** Same, routing with the index's own persisted codebook. */
  def ivfTopKFromIndex(spark: SparkSession, indexPath: String,
      queries: DataFrame, k: Int, nprobe: Int): DataFrame =
    topKFromScored(ivfScoredCandidatesFromIndex(spark, indexPath, queries, nprobe), k)

  /** IVF top-k: probe the nprobe nearest centroids per query, scan only
    * those inverted lists. */
  def ivfTopK(assigned: DataFrame, book: DataFrame, queries: DataFrame,
      k: Int, nprobe: Int): DataFrame =
    topKFromScored(ivfScoredCandidates(assigned, book, queries, nprobe), k)

  // ------------------------------------------- two-stage quantized search
  /** EXACT float re-rank of an int8-scored candidate relation — stage
    * two of the standard quantized search: the 1 B/dim scan generates
    * top-C candidates per query (C = `candidates`), then ONLY those C
    * rows are re-scored with [[cosine]] on their float vectors and
    * ranked to top-k. Restores the float path's recall (q44 gates ≥0.99
    * vs 0.90 for the int8-only ranking) for negligible extra IO: the
    * re-rank reads C·dim floats per query — at 10^9 vectors and C=40,
    * five orders of magnitude below re-scanning the corpus in float.
    *
    * The candidate set (|queries|·C rows of ids) is broadcast against
    * ONE (vec_id, embedding) projection of the float corpus — a
    * broadcast semi-join at scan speed, with column pruning keeping
    * everything but the two needed columns out of the read. */
  def rerankTopK(scoredI8: DataFrame, corpus: DataFrame, queries: DataFrame,
      k: Int, candidates: Int): DataFrame = {
    val cand = topKFromScored(scoredI8, candidates)
      .select(col("q_id"), col("n_id"))
    val qe = queries.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val rescored = corpus.select(col("vec_id").as("n_id"), col("embedding"))
      .join(broadcast(cand), "n_id")
      .join(broadcast(qe), "q_id")
      .select(col("q_id"), col("n_id"),
        cosine(col("q_emb"), col("embedding")).as("cos"))
    topKFromScored(rescored, k)
  }

  /** Brute-force two-stage: int8 scan → top-(candMult·k) → float
    * re-rank → top-k. */
  def bruteForceTopKQuantizedReranked(corpus: DataFrame, queries: DataFrame,
      k: Int, candMult: Int = 4): DataFrame =
    rerankTopK(bruteForceScoredQuantized(corpus, queries), corpus, queries,
      k, candMult * k)

  // ---------------------------------------------- product quantization

  /** DISTRIBUTED deterministic PQ training (Jégou et al., TPAMI 2011 —
    * PAPERS.md): per subspace j, a plain-L2 Lloyd over the RAW
    * subvectors (no normalization — disjoint coordinates make the
    * reconstruction norm exact, and the ADC cosine divides norms out at
    * score time). ALL m subspaces train in ONE pass per iteration: each
    * sample row contributes m (subspace, code) partial sums, assignment
    * is the SAME codegen'd [[graft.spark.catalyst.PqEncode]] expression
    * the write path uses — so train-time and encode-time assignment can
    * never diverge. Determinism at any parallelism by the
    * [[trainedCodebookDistributed]] rules: hash-ordered sample, fixed
    * `parts` partitioning with in-partition sort, partial fold in
    * (subspace, code, partition) order, init = first ksub sample rows
    * in hash order, an empty cell keeps its centroid. Driver memory
    * O(parts · m · ksub · subdim) doubles per iteration — the fold
    * buffer, never the corpus. Returns books(j)(c) = centroid c of
    * subspace j. */
  def trainedPqBooks(corpus: DataFrame, m: Int = 8, ksub: Int = 256,
      sampleN: Int = 1 << 17, iters: Int = 8, parts: Int = 64): Seq[Seq[Seq[Float]]] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    require(m >= 1 && ksub >= 1 && ksub <= 256,
      s"PQ needs 1 <= ksub <= 256 one-byte codes and m >= 1, got m=$m ksub=$ksub")
    require(sampleN >= ksub, s"need sampleN >= ksub, got $sampleN < $ksub")
    val hashOrder = Seq(xxhash64(col("vec_id")), col("vec_id"))
    val sample = corpus
      .select(col("vec_id"), col("embedding"))
      .orderBy(hashOrder: _*)
      .limit(sampleN)
      .repartition(parts, col("vec_id"))
      .sortWithinPartitions(hashOrder: _*)
      .cache()
    val initRows = sample.orderBy(hashOrder: _*).limit(ksub).collect()
    require(initRows.nonEmpty, "cannot train PQ books on an empty corpus")
    val dim = initRows.head.getSeq[Float](1).length
    require(dim % m == 0, s"embedding dim $dim is not divisible by m=$m subspaces")
    val subdim = dim / m
    val kEff = math.min(ksub, initRows.length)
    var books: Array[Array[Array[Float]]] = Array.tabulate(m, kEff) { (j, c) =>
      initRows(c).getSeq[Float](1).slice(j * subdim, (j + 1) * subdim).toArray
    }
    for (_ <- 0 until iters) {
      val bSeq: Seq[Seq[Seq[Float]]] = books.map(_.map(_.toSeq).toSeq).toSeq
      val partials = sample
        .select(col("embedding"),
          graft.spark.catalyst.pqEncodeNative(col("embedding"), bSeq).as("pq"))
        .filter(col("pq").isNotNull)
        .as[(Seq[Float], Array[Byte])]
        .mapPartitions { it =>
          val pid = org.apache.spark.TaskContext.getPartitionId()
          // (subspace, code) buffers on first touch: a partition holds
          // ≤ sampleN/parts rows, so task memory tracks touched cells
          val sums = Array.ofDim[Array[Double]](m, kEff)
          val cnts = Array.ofDim[Long](m, kEff)
          it.foreach { case (emb, pq) =>
            var j = 0
            while (j < m) {
              val c = pq(j) & 0xFF
              if (sums(j)(c) == null) sums(j)(c) = new Array[Double](subdim)
              val s = sums(j)(c)
              var d = 0
              while (d < subdim) { s(d) += emb(j * subdim + d).toDouble; d += 1 }
              cnts(j)(c) += 1L
              j += 1
            }
          }
          (for (j <- 0 until m; c <- 0 until kEff if cnts(j)(c) > 0)
            yield PqPartial(pid, j, c, cnts(j)(c), sums(j)(c))).iterator
        }
        .collect()
      val grouped = partials.groupBy(p => (p.sub, p.code))
      books = Array.tabulate(m, kEff) { (j, c) =>
        grouped.get((j, c)) match {
          case Some(ps) =>
            val acc = new Array[Double](subdim)
            var n = 0L
            ps.sortBy(_.part).foreach { p =>
              var d = 0
              while (d < subdim) { acc(d) += p.sums(d); d += 1 }
              n += p.cnt
            }
            acc.map(x => (x / n).toFloat)
          case None => books(j)(c) // empty cell keeps its centroid
        }
      }
    }
    sample.unpersist()
    books.map(_.map(_.toSeq).toSeq).toSeq
  }

  /** Order-sensitive 64-bit fingerprint of a PQ book set — the
    * determinism gate's comparator (bit-level, like
    * [[codebookFingerprint]]). */
  def pqBooksFingerprint(books: Seq[Seq[Seq[Float]]]): Long = {
    var h = graft.core.Hashing.xxHash64Long(
      (books.length.toLong << 32) | books.head.length.toLong, 0x5051L)
    for (b <- books; c <- b; f <- c)
      h = graft.core.Hashing.xxHash64Long(
        java.lang.Float.floatToIntBits(f).toLong & 0xFFFFFFFFL, h)
    h
  }

  /** Per-QUERY ADC lookup table: [ m , |q| , dot(q_j, C_j[c]) row-major
    * j·ksub+c ] as array<double> (the m header is the books-mismatch
    * guard — see PqKernel.adcCosine). A UDF is the right tool here — it
    * runs once per QUERY row (a bounded broadcast set), never per
    * corpus row; the per-corpus-row work is the codegen'd
    * [[graft.spark.catalyst.PqAdcCosine]]. Double accumulation over
    * float multiplies, left to right — the CosineSim fold, so the
    * ADC score equals the explicit reconstructed dot bit for bit
    * (PqSpec pins that). */
  def pqAdcTable(books: Seq[Seq[Seq[Float]]])(embedding: Column): Column = {
    val m = books.length
    val ksub = books.head.length
    val subdim = books.head.head.length
    val mat = books.map(_.map(_.toArray).toArray).toArray
    udf((emb: Seq[Float]) => {
      if (emb == null || emb.length != m * subdim) null
      else {
        val x = emb.toArray
        var nq = 0.0d
        var i = 0
        while (i < x.length) { nq += (x(i) * x(i)).toDouble; i += 1 }
        val out = new Array[Double](2 + m * ksub)
        out(0) = m.toDouble
        out(1) = math.sqrt(nq)
        var j = 0
        while (j < m) {
          var c = 0
          while (c < ksub) {
            val cv = mat(j)(c)
            var dot = 0.0d
            var d = 0
            while (d < subdim) { dot += (x(j * subdim + d) * cv(d)).toDouble; d += 1 }
            out(2 + j * ksub + c) = dot
            c += 1
          }
          j += 1
        }
        out
      }
    }).apply(embedding)
  }

  /** The PQ brute-force SCORED relation (q_id, n_id, cos): encoded
    * corpus × broadcast query tables, ADC per row. The 100 TB shape —
    * the corpus scan reads m+4 bytes per vector (21× under float at
    * m=8, dim=64) and never decodes a float; queries ship one 8·ksub
    * table each. */
  def bruteForceScoredPq(corpus: DataFrame, queries: DataFrame,
      books: Seq[Seq[Seq[Float]]]): DataFrame = {
    import graft.spark.catalyst.{pqAdcCosineNative, pqEncodeNative}
    val pc = corpus.select(col("vec_id"), pqEncodeNative(col("embedding"), books).as("pq"))
    val qq = queries.select(col("vec_id").as("q_id"),
      pqAdcTable(books)(col("embedding")).as("q_tab"))
    pc.crossJoin(broadcast(qq))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        pqAdcCosineNative(col("q_tab"), col("pq")).as("cos"))
  }

  /** One-stage PQ top-k. */
  def bruteForceTopKPq(corpus: DataFrame, queries: DataFrame,
      books: Seq[Seq[Seq[Float]]], k: Int): DataFrame =
    topKFromScored(bruteForceScoredPq(corpus, queries, books), k)

  /** Two-stage PQ: ADC scan → top-(candMult·k) → float re-rank → top-k
    * (the [[rerankTopK]] tail the int8 path uses). */
  def bruteForceTopKPqReranked(corpus: DataFrame, queries: DataFrame,
      books: Seq[Seq[Seq[Float]]], k: Int, candMult: Int = 4): DataFrame =
    rerankTopK(bruteForceScoredPq(corpus, queries, books), corpus, queries,
      k, candMult * k)

  // ------------------------------------------------ IVF-PQ composition

  /** PQ-books sidecar (`_pqbooks` inside the index dir, the `_codebook`
    * rules: written LAST, self-verified fingerprint, moves with the
    * index as one unit). Rows: (sub, code, c_emb, __fingerprint) —
    * m·ksub ≤ 4096 rows, bounded like the codebook itself. */
  private def writePqBooksSidecar(spark: SparkSession,
      books: Seq[Seq[Seq[Float]]], indexPath: String): Unit = {
    import spark.implicits._
    val fp = pqBooksFingerprint(books)
    val rows = for ((b, j) <- books.zipWithIndex; (c, ci) <- b.zipWithIndex)
      yield (j, ci, c, fp)
    rows.toDF("sub", "code", "c_emb", "__fingerprint")
      .coalesce(1).write.mode("overwrite").parquet(s"$indexPath/_pqbooks")
  }

  /** Read (and integrity-verify) the PQ books a PQ index was encoded
    * with — probe and append paths take no books argument, so they
    * cannot be handed books the codes were not produced by (that would
    * silently score garbage: codes index into the WRONG centroids).
    * Memoized on the sidecar's on-disk identity ([[SidecarCache]]), like
    * the `_codebook`: a repeat read of an unchanged sidecar runs no job,
    * and an overwritten one is verified again. */
  def readPqBooks(spark: SparkSession, indexPath: String): Seq[Seq[Seq[Float]]] = {
    val (fs, p) = IndexManifest.requireSidecar(spark, indexPath, "_pqbooks",
      "a PQ index", "writeIvfIndex with IvfStorage.Pq")
    pqBooksMemo.getOrLoad(fs, p) {
      val raw = spark.read.parquet(s"$indexPath/_pqbooks").collect()
      val fps = raw.map(_.getAs[Long]("__fingerprint")).distinct
      require(fps.length == 1,
        s"_pqbooks sidecar at $indexPath carries ${fps.length} fingerprints — corrupt")
      val byCell = raw.map(r =>
        ((r.getAs[Int]("sub"), r.getAs[Int]("code")), r.getSeq[Float](2))).toMap
      require(byCell.size == raw.length,
        s"_pqbooks sidecar at $indexPath has duplicate (sub, code) rows — corrupt")
      val m = raw.map(_.getAs[Int]("sub")).max + 1
      val ksub = raw.map(_.getAs[Int]("code")).max + 1
      require(byCell.size == m * ksub,
        s"_pqbooks sidecar at $indexPath is missing cells — corrupt")
      val books: Seq[Seq[Seq[Float]]] =
        (0 until m).map(j => (0 until ksub).map(c => byCell((j, c))))
      require(pqBooksFingerprint(books) == fps.head,
        s"_pqbooks sidecar at $indexPath fails its own fingerprint — corrupt")
      books
    }
  }

  /** Index observability: per-inverted-list row/file counts straight
    * from the partitioned layout, plus the list's share of the corpus.
    * List imbalance here is query-latency skew (a hot list dominates
    * every probe that touches it — the signal that says "re-train the
    * codebook" or "split the hot list"), and file counts surface
    * append-driven fragmentation (many small files per list ⇒ compact).
    * One scan of the index's (centroid_id) column — column pruning
    * keeps payloads out of the read. */
  def ivfIndexStats(spark: SparkSession, indexPath: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rows = spark.read.parquet(indexPath)
      // input_file_name() is non-deterministic and must be PROJECTED
      // before it can feed an aggregate
      .select(col("centroid_id"), input_file_name().as("__file"))
      .groupBy(col("centroid_id"))
      .agg(count(lit(1)).as("n_vectors"),
        countDistinct(col("__file")).as("n_files"))
    // corpus total as an unpartitioned window sum over the ALREADY
    // AGGREGATED ≤ ncentroids rows — a crossJoin against rows.agg(...)
    // would re-run the whole per-centroid aggregation on its branch
    rows
      .withColumn("share_bp", (col("n_vectors") * 10000L /
        sum(col("n_vectors")).over(Window.partitionBy())).cast("long"))
      .orderBy(col("centroid_id"))
  }

  /** Compact a fragmented index into `destPath`: appends accrete small
    * files per inverted list ([[ivfIndexStats]]' n_files is the
    * signal); compaction shuffles each list onto one task and rewrites
    * it as coalesced files, then reinstalls the SAME codebook sidecar
    * (fingerprint and assignment mode travel unchanged — compaction is
    * a physical rewrite, never a re-route) and, for a PQ index, the SAME
    * `_pqbooks`. Writes to a NEW path on purpose: an in-place
    * delete-and-rename is not atomic on object stores, so the swap is
    * the caller's metadata flip (point readers at destPath, then retire
    * srcPath). destPath must not exist. */
  def compactIvfIndex(spark: SparkSession, srcPath: String, destPath: String): Unit = {
    val (book, _, mode) = readSidecar(spark, srcPath)
    val rows = spark.read.parquet(srcPath)
    // a PQ payload is only decodable with its books: read (and verify)
    // them before the rewrite, and reinstall them with the codebook
    val storage = storageOf(spark, srcPath, rows.schema)
    rows.repartition(col("centroid_id"))
      .write.partitionBy("centroid_id").mode("errorifexists").parquet(destPath)
    writeSidecars(book, destPath, mode, storage)
  }

  // ------------------------------------------- versioned index lifecycle
  // The generational root layout, the atomic manifest flip, and the
  // retire rule live in [[IndexManifest]] (shared with the band indexes
  // — one lifecycle for every persisted index in the library).

  private val IvfVersionedHint = "writeIvfIndexVersioned"

  /** Verified `_codebook` reads of every IVF index in the JVM: (stored
    * fingerprint, assignment mode, file schema), keyed by the sidecar's
    * file identity. */
  private val codebookMemo =
    new SidecarCache[(Long, String, org.apache.spark.sql.types.StructType)]()

  /** Verified `_pqbooks` reads of every IVF-PQ index in the JVM, keyed
    * the same way. */
  private val pqBooksMemo = new SidecarCache[Seq[Seq[Seq[Float]]]]()

  /** Current index DATA path under a versioned root — every existing
    * probe/append entry point takes this resolved path. */
  def currentIvfIndexPath(spark: SparkSession, rootPath: String): String =
    IndexManifest.currentPath(spark, rootPath, IvfVersionedHint)

  /** Build a generation of a versioned index root (data + `_codebook`
    * sidecar) and flip the manifest ([[IndexManifest.installNext]]).
    * Returns the data path. */
  def writeIvfIndexVersioned(corpus: DataFrame, book: DataFrame,
      rootPath: String): String =
    IndexManifest.installNext(corpus.sparkSession, rootPath)(writeIvfIndex(corpus, book, _))

  /** Compact the CURRENT generation into a new one and flip the
    * manifest — the complete defragmentation lifecycle ([[ivfIndexStats]]
    * signals it, [[compactIvfIndex]] rewrites, this installs). The old
    * generation is left on disk for in-flight readers; call
    * [[retireIvfIndexGenerations]] once their horizon passes. Returns
    * the new data path. */
  def compactIvfIndexVersioned(spark: SparkSession, rootPath: String): String =
    IndexManifest.rewriteCurrent(spark, rootPath, IvfVersionedHint)(compactIvfIndex(spark, _, _))

  /** Delete every generation dir strictly older than the current one —
    * the retire half of the swap (see [[IndexManifest.retireOldGenerations]]
    * for why strictly-older). Returns the deleted paths. */
  def retireIvfIndexGenerations(spark: SparkSession, rootPath: String): Seq[String] =
    IndexManifest.retireOldGenerations(spark, rootPath, IvfVersionedHint)

  /** Rank a scored candidate relation to per-query top-k. */
  def topKFromScored(scored: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }
}

/** How a persisted IVF index routes vectors to inverted lists
  * ([[IvfAssign]]) and what each list row stores ([[IvfStorage]]) —
  * the one value [[VectorPipeline.writeIvfIndex]] takes. Appends and
  * probes read both back from the index itself. */
final case class IvfLayout(assign: IvfAssign = IvfAssign.Flat,
    storage: IvfStorage = IvfStorage.Float)

object IvfLayout {
  /** Flat exact routing, float payload. */
  val default: IvfLayout = IvfLayout()
}

/** Write-time routing of an IVF index, persisted as the `_codebook`
  * sidecar's `__assign` mode string. */
sealed trait IvfAssign {
  def mode: String
}

object IvfAssign {
  /** The exact flat argmax ([[VectorPipeline.ivfAssign]]). */
  case object Flat extends IvfAssign {
    val mode = "flat"
  }

  /** Two-level coarse → fine routing ([[VectorPipeline.ivfAssignTwoLevel]]).
    * The mode string is VERSIONED like a codec byte: `v1` pins the whole
    * coarse-training scheme (spherical k-means, init = first coarseK
    * fine centroids in id order, 10 iterations, the tie rules) — not
    * just the (coarseK, probes) numbers — because a book-free append
    * retrains the coarse book from the mode string alone, and a silently
    * changed trainer would scatter nearly-tied vectors differently than
    * the build did. Changing ANY of that scheme means writing
    * `2l:v2:...` and teaching [[parse]] both. */
  final case class TwoLevel(coarseK: Int, probes: Int) extends IvfAssign {
    def mode: String = s"2l:v1:$coarseK:$probes"
  }

  private val TwoLevelV1 = "2l:v1:(\\d+):(\\d+)".r

  /** The routing a persisted mode string names. Unknown modes AND
    * unknown two-level trainer versions throw — an append must never
    * guess at routing it cannot reproduce. The sidecar fingerprint
    * covers the codebook, not the mode string, so a truncated or
    * corrupted mode lands here too. */
  def parse(mode: String): IvfAssign = mode match {
    case Flat.mode => Flat
    case TwoLevelV1(ck, p) if ck.toIntOption.exists(_ >= 1) && p.toIntOption.exists(_ >= 1) =>
      TwoLevel(ck.toInt, p.toInt)
    case other => throw new IllegalArgumentException(
      s"unknown index assignment mode '$other' — this build cannot " +
        "reproduce that routing; rebuild the index or upgrade")
  }
}

/** The payload of an IVF index's list rows: the float `embedding`, the
  * int8 `qe` blob (IVF-SQ8) or the `pq` code of `books` (IVF-PQ, Jégou
  * et al., TPAMI 2011), books(j)(c) = centroid c of subspace j. */
sealed trait IvfStorage

object IvfStorage {
  case object Float extends IvfStorage
  case object Int8 extends IvfStorage
  final case class Pq(books: Seq[Seq[Seq[scala.Float]]]) extends IvfStorage
}
