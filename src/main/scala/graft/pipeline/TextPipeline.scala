package graft.pipeline

import graft.core.Hashing
import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** Training-data text operators over the `documents` table: exact dedup,
  * MinHash+LSH near-dup, SimHash near-dup, exact n-gram Jaccard, language
  * ID, quality scoring, token counting, fingerprinting.
  *
  * Scale notes (the 100 TB shapes):
  *  - exact dedup = hash-groupBy (one shuffle on the text hash, never the
  *    text itself for the count path);
  *  - MinHash-LSH = per-doc signature (map-only) → explode band keys →
  *    shuffle on band key (tiny rows) → candidate pairs → verify join;
  *    no all-pairs product ever materializes;
  *  - SimHash = 64-bit signature + byte-banding (8 keys/doc, pigeonhole
  *    guarantees hd ≤ 7 collides in ≥ 1 band);
  *  - exact Jaccard = inverted-index join on shingles (bounded by shared-
  *    shingle pairs, not n²).
  */
object TextPipeline {

  def documents(spark: SparkSession, sfDir: String): DataFrame =
    documents(spark, graft.spark.TableSource.parquetDir(sfDir))

  def documents(spark: SparkSession, source: graft.spark.TableSource): DataFrame =
    source.table(spark, "documents")

  /** Word-shingle width — the constant every shingling path is BUILT
    * from, and the one the LSH index sidecar records as part of its hash
    * family (the `_lshmeta` fields of LshIndex): the sidecar's "foreign
    * banding refuses to probe" guard only works if it reads the same
    * constant the band keys are derived from, not an unconnected literal. */
  val ShingleWidth: Int = 3

  /** Word 3-shingles, distinct, as an array column — built from codegen'd
    * collection functions only (split/transform/sequence), no UDF.
    * NOTE: inline use re-evaluates `split` per element_at (Catalyst does
    * not CSE non-cheap expressions into higher-order lambdas) — use
    * [[withShingles]] in pipelines so the word array materializes once. */
  def shingles3(text: Column): Column = shinglesOf(split(text, " "))

  private def shinglesOf(ws: Column): Column =
    when(size(ws) >= ShingleWidth,
      array_distinct(transform(
        sequence(lit(0), size(ws) - ShingleWidth),
        i => concat_ws(" ", (1 to ShingleWidth).map(o => element_at(ws, i + o)): _*))))
      .otherwise(array().cast("array<string>"))

  /** Adds a distinct-3-shingle array column, materializing the split word
    * array in its own projection so the regex split runs ONCE per row
    * (a separate projection survives CollapseProject because the array is
    * referenced 4 times and split is non-cheap). ~40x faster than the
    * inline form on the sf0.1 corpus. */
  def withShingles(docs: DataFrame, out: String): DataFrame =
    docs.withColumn("__graft_ws", split(col("text"), " "))
      .withColumn(out, shinglesOf(col("__graft_ws")))
      .drop("__graft_ws")

  /** (doc_id, shingle) inverted-index relation. explode_outer + post-
    * filter, NOT explode: InferFiltersFromGenerate would otherwise insert
    * a pre-Generate filter that re-evaluates the whole shingle expression
    * (with the split re-inlined) once more per row — measured 20x slower. */
  def docShingles(docs: DataFrame): DataFrame =
    docShinglesFromShingled(withShingles(docs, "__sh"))

  /** Inverted-index relation from a precomputed (doc_id, __sh) frame. */
  def docShinglesFromShingled(shingled: DataFrame): DataFrame =
    shingled
      .select(col("doc_id"), explode_outer(col("__sh")).as("sh"))
      .filter(col("sh").isNotNull)

  /** (doc_a, doc_b, n_common, na, nb) for every doc pair sharing ≥ 1
    * shingle — the shared base of the exact Jaccard and exact cosine
    * near-dup criteria. Inverted-index join, never an n² product. */
  private def pairStats(docs: DataFrame): DataFrame =
    pairStatsFromShingled(withShingles(docs, "__sh"))

  private[pipeline] def pairStatsFromShingled(shingled: DataFrame): DataFrame = {
    val sh = docShinglesFromShingled(shingled)
    val counts = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    // merge (sort-merge), not broadcast, on the self-join: identical
    // children → the second Exchange is a ReusedExchange, so the shingle
    // explode runs once for the pair count (broadcast would re-evaluate it
    // per side). SMJ rather than shuffle-hash because hot shingles shared
    // by many docs make this a skewed big-big join — SMJ spills where a
    // hash build side would OOM. Hint scoped to the self-join only (a
    // hint on `sh` itself would leak into the counts joins below and
    // stop the small counts side from broadcasting).
    val shH = sh.hint("merge")
    val common = shH.as("a").join(shH.as("b"), "sh")
      .filter(col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_common"))
    common
      .join(counts.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_sh", "na"), "doc_a")
      .join(counts.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_sh", "nb"), "doc_b")
  }

  /** EXACT near-duplicate pairs by 3-shingle Jaccard ≥ 1/2, computed with
    * integer arithmetic (2·common ≥ union) so the DuckDB oracle reproduces
    * it bit-for-bit. */
  def exactJaccardPairs(docs: DataFrame): DataFrame =
    exactJaccardPairsFromShingled(withShingles(docs, "__sh"))

  def exactJaccardPairsFromShingled(shingled: DataFrame): DataFrame =
    pairStatsFromShingled(shingled)
      .select(col("doc_a"), col("doc_b"), col("n_common"),
        (col("na") + col("nb") - col("n_common")).as("n_union"))
      .filter(col("n_common") * 2 >= col("n_union"))

  /** EXACT near-duplicate pairs by embedding cosine ≥ tauNum/tauDen, where
    * the document embedding is its binary 3-shingle incidence vector: dot
    * product = n_common and ‖v‖ = √n_sh, so cos = n_common/√(na·nb) and the
    * threshold is the integer predicate den²·n_common² ≥ num²·na·nb —
    * DuckDB-reproducible bit-for-bit. Jaccard ≥ 1/2 implies cos ≥ 2/3
    * (AM–GM), so the default τ = 3/5 strictly contains the planted set. */
  def exactCosinePairs(docs: DataFrame, tauNum: Int = 3, tauDen: Int = 5): DataFrame =
    exactCosinePairsFromShingled(withShingles(docs, "__sh"), tauNum, tauDen)

  def exactCosinePairsFromShingled(shingled: DataFrame, tauNum: Int = 3, tauDen: Int = 5): DataFrame =
    pairStatsFromShingled(shingled)
      .filter(col("n_common") * col("n_common") * (tauDen * tauDen) >=
        col("na") * col("nb") * (tauNum * tauNum))
      .select(col("doc_a"), col("doc_b"), col("n_common"), col("na"), col("nb"))

  // ------------------------------------------------------------- MinHash
  val MinhashRows: Int = graft.spark.catalyst.MinhashBandKernel.Rows
  val MinhashBands: Int = graft.spark.catalyst.MinhashBandKernel.Bands

  /** One pass per doc: 126 minhash minima folded straight into 42 band
    * keys — no signature column ever leaves the map side. Production
    * path is the NATIVE MinhashBandKeys expression (UTF8String bytes in,
    * primitive longs out, inside whole-stage codegen); this per-row
    * Scala reference stays as the INDEPENDENT implementation the parity
    * spec pins the expression against (java.lang.String decode path —
    * shares no Catalyst plumbing with the expression). The hash family
    * is Kirsch–Mitzenmacher style (the same trick that sizes the Bloom
    * probes): g_i = h1 + i·h2 over (xxHash64, Murmur3-128 low64), so each
    * shingle costs two real hashes + 126 multiply-adds instead of 126
    * full hash passes (~4x on the sf0.1 corpus; h2 forced odd so i ↦ g_i
    * is a bijection mod 2^64 and the minima stay well distributed). */
  private[graft] def bandKeysOf(sh: Seq[String]): Array[Long] = {
    val mins = new Array[Long](MinhashRows * MinhashBands)
    java.util.Arrays.fill(mins, Long.MaxValue)
    sh.foreach { s =>
      val bytes = s.getBytes("UTF-8")
      var g = Hashing.xxHash64(bytes, 0L)
      val step = Hashing.murmur3_64(bytes, 0L) | 1L
      var i = 0
      while (i < mins.length) {
        if (g < mins(i)) mins(i) = g
        g += step
        i += 1
      }
    }
    val keys = new Array[Long](MinhashBands)
    var b = 0
    while (b < MinhashBands) {
      var h = b.toLong
      var i = 0
      while (i < MinhashRows) { h = Hashing.xxHash64Long(mins(b * MinhashRows + i), h); i += 1 }
      keys(b) = h
      b += 1
    }
    keys
  }

  /** LSH candidate pairs (doc_a < doc_b) from banded minhash signatures.
    * Shuffle carries only (doc_id, band, 8-byte key) rows — at corpus
    * scale this is the entire cross-node traffic of near-dup detection. */
  def minhashCandidates(docs: DataFrame): DataFrame =
    minhashCandidatesFromShingled(withShingles(docs, "__sh"))

  /** Same join over a precomputed (doc_id, __sh) relation — lets q13/q29
    * cache ONE shingle materialization and share it between the exact
    * pair criterion and the LSH candidate path (the split+shingle UDF
    * work is the dominant map-side cost on both). */
  def minhashCandidatesFromShingled(shingled: DataFrame): DataFrame = {
    val bands = shingled
      .select(col("doc_id"),
        posexplode_outer(graft.spark.catalyst.minhashBandKeys(col("__sh"))).as(Seq("band", "bkey")))
      .filter(col("bkey").isNotNull)
      // shuffle-hash, not broadcast: identical children make the second
      // Exchange a ReusedExchange, so the shingle+minhash pipeline runs
      // ONCE (a broadcast join re-evaluates it per side — measured 2x
      // cold); it is also the only join shape that exists at corpus
      // scale, where the band table is never broadcastable
      .hint("shuffle_hash")
    bands.as("a").join(bands.as("b"), Seq("band", "bkey"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  // ------------------------------------------------------------- SimHash
  /** 64-bit SimHash over the 3-shingle feature set. A doc with an EMPTY
    * feature set gets a doc-unique sentinel signature (seeded hash of its
    * doc_id): every short doc sharing signature 0 would pair quadratically
    * with every other one and surface as hd=0 "near-dups". A sentinel
    * never sits within hd ≤ 7 of anything except with probability
    * ~C(64,7)/2⁶⁴ ≈ 1e-10 per pair. NOT null: a nullable UDF makes the
    * banded join keys nullable, and the inferred IS NOT NULL join-key
    * filter gets substitution-pushed to the scan, re-evaluating the whole
    * split→shingle→UDF chain per row (measured 2.5x on q14). */
  private val simhashUdf = udf { (docId: Long, sh: Seq[String]) =>
    if (sh == null || sh.isEmpty) Hashing.xxHash64Long(docId, 0x51D4E17L)
    else simhashOf(sh)
  }

  private def simhashOf(sh: Seq[String]): Long = {
    val votes = new Array[Int](64)
    sh.foreach { s =>
      val h = Hashing.xxHash64(s.getBytes("UTF-8"), 0L)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /** (doc_id, simhash); featureless docs carry their sentinel signature
    * (see [[simhashUdf]]). */
  def simhashes(docs: DataFrame): DataFrame =
    withShingles(docs, "__sh")
      .select(col("doc_id"), simhashUdf(col("doc_id"), col("__sh")).as("simhash"))

  /** Near-dup pairs with Hamming distance ≤ maxHd via byte-banding
    * (8 bands; pigeonhole: hd ≤ 7 ⇒ some byte equal, so recall is total
    * for maxHd ≤ 7). */
  def simhashPairs(docs: DataFrame, maxHd: Int = 6): DataFrame =
    simhashPairsFromSigs(simhashes(docs), maxHd)

  /** Same, over a precomputed (doc_id, simhash) relation — lets q14 cache
    * ONE signature table and run both banding schemes on it.
    *
    * Two 8-band decompositions of the 64 bits, each a PARTITION of the
    * bit positions (so each is independently exhaustive for hd ≤ 7 by
    * pigeonhole — at most 7 differing positions cannot touch all 8
    * disjoint bands):
    *   - contiguous (default): band j = byte j (bits 8j..8j+7);
    *   - interleaved: band j = bits {j, j+8, …, j+56} (position mod 8).
    * Agreement of the two schemes' hd≤maxHd pair sets is q14's fully
    * DISTRIBUTED correctness gate: each path is provably equal to the
    * exhaustive all-pairs set, and they share no band structure, so a
    * banding/join bug in either breaks the agreement — no O(n²)
    * driver-side loop needed. */
  def simhashPairsFromSigs(sigs: DataFrame, maxHd: Int = 6,
      interleaved: Boolean = false): DataFrame = {
    require(maxHd <= 7, "8-band decompositions only guarantee recall for hd <= 7")
    simhashCandidatesFromSigs(sigs, interleaved)
      .filter(bit_count(col("sim_a").bitwiseXOR(col("sim_b"))) <= maxHd)
      .select(col("doc_a"), col("doc_b"))
  }

  /** UNFILTERED banded candidates (doc_a < doc_b, both signatures kept):
    * every pair sharing ≥ 1 band under the chosen decomposition — the
    * pigeonhole superset of the hd ≤ 7 pair set. Exposed so callers can
    * apply an INDEPENDENT Hamming filter (q14 gates the Catalyst
    * bit_count path against a lookup-table popcount UDF). */
  def simhashCandidatesFromSigs(sigs: DataFrame, interleaved: Boolean = false): DataFrame = {
    val bkey =
      if (interleaved)
        expr((0 until 8).map(i => s"(((simhash >> (band + ${8 * i})) & 1) << $i)")
          .mkString("(", " | ", ")"))
      else expr("(simhash >> (band * 8)) & 255")
    val bands = sigs.select(col("doc_id"), col("simhash"),
        explode(sequence(lit(0), lit(7))).as("band"))
      .withColumn("bkey", bkey)
      // see minhashCandidates: ReusedExchange evaluates the input once
      .hint("shuffle_hash")
    bands.as("a").join(bands.as("b"), Seq("band", "bkey"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("a.simhash").as("sim_a"),
        col("b.doc_id").as("doc_b"), col("b.simhash").as("sim_b"))
      .distinct()
  }

  /** Independent Hamming-distance implementation for verification: a
    * 256-entry lookup table over xor bytes — shares NO primitive with
    * Catalyst's bit_count, so a regression in the production filter
    * cannot hide in its own verifier. */
  private lazy val PopTable: Array[Int] =
    Array.tabulate(256)(b => (0 until 8).count(i => ((b >> i) & 1) == 1))
  val hammingTableUdf = udf { (a: Long, b: Long) =>
    val x = a ^ b
    var hd = 0
    var i = 0
    while (i < 8) { hd += PopTable(((x >>> (8 * i)) & 0xffL).toInt); i += 1 }
    hd
  }

  // -------------------------------------------------- near-dup clustering
  /** Connected components over a near-dup PAIR relation — the step that
    * turns pair detection into actual deduplication (pick one canonical
    * doc per cluster, drop the rest). Minimum-label propagation WITH
    * POINTER DOUBLING: each round every node adopts the smallest of
    *   - its own label,
    *   - its neighbors' labels (one distributed join+groupBy), and
    *   - its label's label (one self-join — the "label ← min(label,
    *     label-of-label)" doubling step).
    * Every adopted label is a node id inside the same component, so the
    * fixpoint is the per-component minimum id. Doubling pays where ids
    * grow along a path: a 100-hop chain of templated docs converges in 9
    * rounds where plain neighbor-min needs 100 (pinned in
    * TextPipelineSpec); ids in random order along a path still take
    * rounds on the order of its length. Throws if `maxIters` rounds
    * don't reach the fixpoint rather than returning a half-propagated
    * labeling.
    *
    * ONE Spark action per round. Round 1 reads the edges alone (every
    * label starts as its doc_id). Each round's label table is
    * materialized through an EAGER `localCheckpoint`, which (unlike
    * cache + count) also TRUNCATES the logical plan: the table is
    * referenced three times per round, so an unchecked plan grows as
    * 3^rounds. The same job counts (`Dataset.observe`) the labels that
    * dropped; a round in which none did is the fixpoint. The checkpoint
    * carries that job's row count as its statistics
    * (`GraftSqlBridge.withRowCount`).
    *
    * FAULT TOLERANCE: `localCheckpoint` blocks are executor-local and
    * non-replicated — once lineage is truncated a lost executor fails
    * the job (it cannot recompute). For long runs on preemptible
    * infrastructure, set `spark.sparkContext.setCheckpointDir(...)`:
    * each round's action is then a write of MANAGED parquet under that
    * dir (survives executor loss); round i−1's files go as round i
    * lands, and all of them on EVERY exit path. The RETURNED frame is
    * handed off through `localCheckpoint` because the final round's
    * parquet is deleted before return: durability holds per round, not
    * across the handoff, so a caller that needs a durable result writes
    * it to its own storage first.
    *
    * Returns (doc_id, canonical_id) for every doc that appears in a
    * pair; canonical_id = the cluster's minimum doc_id. Docs with no
    * near-dup pair are their own canonical and are NOT emitted (join
    * with the corpus and coalesce for the full mapping). The RETURNED
    * DataFrame is cached, lazily (local mode: over the last round's
    * checkpoint blocks) — the caller unpersists it when done. */
  def dedupClusters(pairs: DataFrame, maxIters: Int = 20): DataFrame = {
    val spark = pairs.sparkSession
    // Reliable mode (session has a checkpoint dir): managed parquet, as a
    // bare Dataset.checkpoint() leaks every round's files (Spark removes
    // them only under the non-default cleanCheckpoints, on driver GC)
    val reliableBase = spark.sparkContext.getCheckpointDir
      .map(d => s"$d/graft_cc_${java.util.UUID.randomUUID().toString.replace("-", "")}")
    def deleteDir(dir: String): Unit = {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      ()
    }
    // round i's ONE action: materialize its (doc_id, label) table and,
    // in the same job, count its rows and the labels that dropped
    def materialize(round: DataFrame, i: Int): (DataFrame, Long) = {
      val seen = Observation()
      val labels = round
        .observe(seen, count_if(col("__chg")).as("changed"), count(lit(1)).as("rows"))
        .select(col("doc_id"), col("label"))
      val out = reliableBase match {
        case Some(base) =>
          labels.write.parquet(s"$base/round$i")
          if (i > 0) deleteDir(s"$base/round${i - 1}")
          spark.read.parquet(s"$base/round$i")
        case None =>
          val ckpt = labels.localCheckpoint()
          GraftSqlBridge.withRowCount(ckpt, seen.get("rows").asInstanceOf[Long])
      }
      (out, seen.get("changed").asInstanceOf[Long])
    }
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .cache()
    // round 1 over the edges alone: while every label is its doc_id, the
    // neighbor minimum is min(dst) and the label-of-label is the label
    def firstRound: DataFrame = {
      val chg = col("neighbor_label") < col("doc_id")
      edges.groupBy(col("src").as("doc_id"))
        .agg(min(col("dst")).as("neighbor_label"))
        .select(col("doc_id"), when(chg, col("neighbor_label")).otherwise(col("doc_id")).as("label"),
          chg.as("__chg"))
    }
    def nextRound(labels: DataFrame): DataFrame = {
      val neighborMin = edges
        .join(labels.withColumnRenamed("doc_id", "dst"), "dst")
        .groupBy(col("src").as("doc_id"))
        .agg(min(col("label")).as("neighbor_label"))
      // pointer doubling: the label of my label (labels are node ids, so
      // this is a self-join on the label table; left join + coalesce
      // because a label may itself be a pair-free node only in degenerate
      // inputs — defensive, costs nothing)
      val labelOfLabel = labels
        .join(labels.select(col("doc_id").as("__lbl_id"), col("label").as("label_label")),
          col("label") === col("__lbl_id"), "left")
        .select(col("doc_id"), col("label"),
          coalesce(col("label_label"), col("label")).as("label_label"))
      labelOfLabel
        .join(neighborMin, Seq("doc_id"), "left")
        .select(col("doc_id"), col("label"),
          least(col("label"), col("label_label"),
            coalesce(col("neighbor_label"), col("label"))).as("new_label"))
        .select(col("doc_id"), col("new_label").as("label"),
          (col("new_label") < col("label")).as("__chg"))
    }
    // try/finally so the managed round files (and the edges cache) are
    // released on EVERY exit path — the non-convergence throw and any
    // mid-round failure included, not just successful convergence
    try {
    var labels: Option[DataFrame] = None
    var iters = 0
    var changed = 1L
    while (changed > 0 && iters < maxIters) {
      val (next, n) = materialize(labels.fold(firstRound)(nextRound), iters)
      labels = Some(next)
      changed = n
      iters += 1
    }
    if (changed != 0) {
      throw new IllegalArgumentException(
        s"label propagation did not converge in $maxIters rounds")
    }
    // local mode: the last round's checkpoint blocks live as long as
    // the result does. Reliable mode: the finally below deletes the
    // last round's parquet, so hand off through a localCheckpoint.
    val out = labels.get.select(col("doc_id"), col("label").as("canonical_id"))
    (if (reliableBase.isDefined) out.localCheckpoint() else out).cache()
    } finally {
      edges.unpersist()
      reliableBase.foreach(deleteDir)
    }
  }

  // ------------------------------------------------------------ language ID
  /** Deterministic n-gram/stopword language heuristic. The synthetic
    * corpus's text does not correlate with its `lang` column, so accuracy
    * is asserted on real multilingual samples in LangIdSpec; here the
    * oracle checks determinism + exact per-lang counts. */
  // marker tables hoisted out of the UDF: one shared immutable array per
  // executor, zero per-row allocation beyond the lowercase copy. Languages
  // sorted ASCENDING so a later equal score overwrites an earlier one —
  // identical tie-break to maxBy((score, lang)) on the old per-row Map.
  private val LangMarkers: Array[(String, Array[String])] = Array(
    "de" -> Array(" der ", " die ", " und ", " ist ", " das "),
    "en" -> Array(" the ", " and ", " of ", " to ", " is "),
    "es" -> Array(" el ", " la ", " y ", " los ", " es "),
    "fr" -> Array(" le ", " la ", " et ", " les ", " est "),
    "zh" -> Array("的", "是", "了", "在", "我"))

  /** Count non-overlapping-start occurrences of `m` in `t` (every start
    * offset counts, same as the old sliding-window equality count). */
  @inline private def occurrences(t: String, m: String): Int = {
    var n = 0
    var i = t.indexOf(m)
    while (i >= 0) { n += 1; i = t.indexOf(m, i + 1) }
    n
  }

  val langIdUdf = udf { (text: String) =>
    if (text == null || text.isEmpty) "und"
    else {
      val t = " " + text.toLowerCase + " "
      var best = "und"
      var bestScore = 0
      var li = 0
      while (li < LangMarkers.length) {
        val (lang, markers) = LangMarkers(li)
        var score = 0
        var mi = 0
        while (mi < markers.length) { score += occurrences(t, markers(mi)); mi += 1 }
        if (lang == "zh")
          score += text.count(c => Character.UnicodeScript.of(c) == Character.UnicodeScript.HAN)
        if (score > 0 && score >= bestScore) { best = lang; bestScore = score }
        li += 1
      }
      best
    }
  }

  // ------------------------------------------------------- quality / tokens
  /** Heuristic quality score in [0,1]: length band + space ratio +
    * alphabetic ratio (deterministic, codegen-free scalar UDF is avoided —
    * all built-ins). */
  def qualityScore(text: Column): Column = {
    val len = length(text)
    val spaces = len - length(regexp_replace(text, " ", ""))
    val alpha = length(regexp_replace(text, "[^a-zA-Z]", ""))
    val lenScore = when(len.between(20, 10000), 1.0).otherwise(0.3)
    val spaceRatio = spaces.cast("double") / greatest(len, lit(1)).cast("double")
    val spaceScore = when(spaceRatio.between(0.05, 0.4), 1.0).otherwise(0.5)
    val alphaScore = (alpha.cast("double") / greatest(len, lit(1)).cast("double"))
    (lenScore * 0.4 + spaceScore * 0.3 + alphaScore * 0.3)
  }

  /** Whitespace token count — semantics chosen to match DuckDB's
    * len(string_split(text, ' ')) exactly (empty tokens included). */
  def wsTokenCount(text: Column): Column = size(split(text, " "))

  /** BPE-ish subword count: word-boundary pieces + digit runs + residue
    * (regexp built-ins; the contract is determinism, not a real BPE). */
  def bpeIshTokenCount(text: Column): Column =
    size(filter(split(text, "(?=[ .,;:!?])|(?<=[ .,;:!?])"), s => length(trim(s)) > 0))

  // ---------------------------------------------- repetition signals
  /** Per-document REPETITION signals (the Gopher-style quality filters
    * a training-data pipeline runs before dedup): word totals, distinct
    * words, bigram totals and the count of the single most repeated
    * bigram — all integers, so the DuckDB oracle reproduces every value
    * bit-for-bit (no float fractions cross the engine boundary; callers
    * derive ratios downstream). 100 TB shape: ENTIRELY MAP-ONLY — every
    * signal, including max_bigram_count, depends only on the row's own
    * word array, so the most-repeated-bigram count is computed per row
    * as the longest equal run of the SORTED bigram array (array_sort +
    * aggregate fold), with zero shuffle anywhere (an earlier draft
    * exploded bigrams through two hash aggregations and a join — two
    * corpus-token-count shuffles for a per-row quantity). Word
    * semantics match wsTokenCount's split-on-space exactly (empty
    * tokens included — DuckDB string_split parity). Returns the input
    * columns plus (n_words, n_distinct_words, n_bigrams,
    * max_bigram_count). */
  def repetitionSignals(docs: DataFrame): DataFrame =
    docs
      .withColumn("__ws", split(col("text"), " "))
      .withColumn("n_words", size(col("__ws")))
      .withColumn("n_distinct_words", size(array_distinct(col("__ws"))))
      .withColumn("n_bigrams", greatest(col("n_words") - 1, lit(0)))
      .withColumn("max_bigram_count", expr(
        """aggregate(
          |  array_sort(CASE WHEN size(__ws) >= 2
          |    THEN transform(sequence(1, size(__ws) - 1),
          |      i -> concat(element_at(__ws, i), ' ', element_at(__ws, i + 1)))
          |    ELSE CAST(array() AS array<string>) END),
          |  struct(CAST('' AS STRING) AS prev, CAST(0 AS BIGINT) AS run,
          |    CAST(0 AS BIGINT) AS best),
          |  (acc, x) -> struct(x AS prev,
          |    CASE WHEN x = acc.prev THEN acc.run + 1 ELSE CAST(1 AS BIGINT) END AS run,
          |    GREATEST(acc.best,
          |      CASE WHEN x = acc.prev THEN acc.run + 1 ELSE CAST(1 AS BIGINT) END) AS best),
          |  acc -> acc.best)""".stripMargin))
      .drop("__ws")

  // ---------------------------------------------------------- PII scrub
  /** Conservative PII patterns shared verbatim by the Spark scrub and
    * the DuckDB oracle (Java regex ∩ RE2 — no lookarounds, no
    * backrefs). */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** Redact emails then IPv4s (order matters only for auditability —
    * the patterns cannot overlap: an email match requires '@'). All
    * codegen'd built-ins, map-only at any scale. */
  def scrubPii(text: Column): Column =
    regexp_replace(regexp_replace(text, EmailRe, "<EMAIL>"), Ipv4Re, "<IP>")
}
