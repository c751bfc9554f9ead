package graft

import graft.core._
import graft.spark.{functions => gf, Transcripts}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Oracle pattern: the DuckDB oracle can only reproduce EXACT values, so
  * every estimate query outputs (a) exact anchors DuckDB recomputes
  * (counts, group keys) and (b) bound-satisfaction BOOLEANS computed by
  * Spark (estimate vs Spark-computed exact, gated at the sketch's
  * published bound). A failed bound ⇒ boolean false ⇒ hash mismatch ⇒
  * the driver's correctness gate fails. Exact-only queries get full
  * value-level oracles.
  */
object SparkEntry {

  private val P = 0.001 // Bloom fpp used throughout
  private def cap(n: Long): Long = math.max(n, 1000L)

  private def key2(a: String, b: String) = gf.sketchKey(col(a), col(b))
  private def key1(a: String) = gf.sketchKey(col(a))

  /** Shard count for the contract-query global builds. Small here (the
    * test corpora are tiny); production builds size it to the data
    * (CheckpointedBuild.NumShards = 256 at the 10^12-turn sizing). */
  private val BuildShards = 16

  /** Global sketch blob(s) over transcripts via the SHARDED path
    * (graft.spark.catalyst.shardedSketchBlobs): the input is coalesced to
    * at most BuildShards tasks, no row is shuffled, full-size Bloom
    * buffers exist once per task — never once per input partition — and
    * each partial buffer merges straight into the final blob
    * executor-side; only the final merged row reaches the driver.
    * Projects to the named columns first so the scan below the coalesce
    * reads the key columns only. */
  private def shardedBlobRow(t: DataFrame, cols: Seq[String],
      aggs: (String, Column)*): org.apache.spark.sql.Row =
    graft.spark.catalyst.shardedSketchBlobs(
      t.select(cols.map(col): _*), BuildShards)(aggs: _*).head

  /** q58's retraction set: the error turns (~20% of rows). */
  private def errorTurn: Column = col("tool") === "error"

  /** q58's signed relation (k, m): every turn inserts (+1) and every
    * error turn retracts (−1), keyed by key2(conv_id, turn_idx) — each
    * retracted key inserted exactly once and retracted exactly once.
    * Also dumped by graft.tools.Q58InternalPlanDump. */
  private[graft] def q58Signed(t: DataFrame): DataFrame = {
    val k = key2("conv_id", "turn_idx").as("k")
    t.select(k, lit(1L).as("m")).unionByName(t.filter(errorTurn).select(k, lit(-1L).as("m")))
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q01_bloom_membership")(spark, "/root/testdata/sf0.001")

  /** Run a query body with AQE allowed to re-partition CACHED plan
    * output (spark.sql.optimizer.canChangeCachedPlanOutputPartitioning).
    * Spark defaults this OFF for cached-plan stability, which makes
    * every `.cache()` materialize at the UN-coalesced initial shuffle
    * partition count — under the bench session's scale-adaptive
    * initialPartitionNum=128 a cached 3M-row table lands as 128 tiny
    * partitions and every downstream job over it pays 128 tasks of
    * almost nothing. Measured on q49 (two caches × ~10 consuming jobs):
    * 7.2 s → 1.8 s at the identical session config. With the conf ON,
    * AQE sizes cached partitions from DATA VOLUME (advisory partition
    * size), which is the scale-adaptive behaviour the optimization
    * guide §2.2 prescribes — not a local-core-count constant. Values
    * are partitioning-independent (the partitioning-invariance gates
    * q32/q38/q52 exist to pin exactly that), and the conf is restored
    * on exit so the shared bench session never leaks it: every cache a
    * query creates is materialized (and released) inside its own fn. */
  private def withAdaptiveCachedPartitioning[A](s: SparkSession)(body: => A): A = {
    val key = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
    val old = s.conf.getOption(key)
    s.conf.set(key, "true")
    try body
    finally old match {
      case Some(v) => s.conf.set(key, v)
      case None => s.conf.unset(key)
    }
  }

  /** One entry per implemented operator from SURVEY.md §2 (q01–q11 here;
    * training-data pipeline + relational q12–q26 in PipelineEntries).
    * Every entry runs under [[withAdaptiveCachedPartitioning]]. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    (sketchQueries ++ PipelineEntries.queries).map { case (name, fn) =>
      name -> ((s: SparkSession, dir: String) =>
        withAdaptiveCachedPartitioning(s)(fn(s, dir)))
    }

  private def sketchQueries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // §2.1 #1–7, #10–12: build KM Bloom over (conv_id, turn_idx), probe
    // every inserted key — zero false negatives (lib.rs:207–208) makes the
    // per-role contained-counts EXACTLY the per-role row counts.
    // r07: the events→transcripts row_number window used to run THREE
    // times (count, build, probe) — now once into a cache whose release
    // is made safe by materializing the 3-row result eagerly (the q38
    // collect+parallelize pattern; values and schema unchanged).
    "q01_bloom_membership" -> ((s, dir) => {
      val t = Transcripts.load(s, dir).cache()
      val n = t.count()
      val sketch = shardedBlobRow(t, Seq("conv_id", "turn_idx"),
        "sk" -> gf.bloomAgg(cap(n), P)(key2("conv_id", "turn_idx")))
        .getAs[Array[Byte]]("sk")
      val out = t.filter(gf.bloomProbe(sketch)(key2("conv_id", "turn_idx")))
        .groupBy(col("role")).agg(count(lit(1)).as("n_contained"))
        .orderBy(col("role"))
      val rows = out.collect()
      t.unpersist()
      s.createDataFrame(s.sparkContext.parallelize(rows.toSeq, 1), out.schema)
    }),

    // §2.1 #7 negative side + #16: probe n DISJOINT keys (turn_idx shifted
    // out of range), gate observed FP count and estimated FPP at the
    // theoretical bound (integration.rs:148–189 shape).
    "q02_bloom_fpr" -> ((s, dir) => {
      import s.implicits._
      // r07: cached — count, sharded build and FP probe each re-derived
      // the row_number window before; the result row is local, so the
      // cache releases before return
      val t = Transcripts.load(s, dir).cache()
      val n = t.count()
      val sketch = shardedBlobRow(t, Seq("conv_id", "turn_idx"),
        "sk" -> gf.bloomAgg(cap(n), P)(key2("conv_id", "turn_idx")))
        .getAs[Array[Byte]]("sk")
      val probeKey = gf.sketchKey(col("conv_id"), (col("turn_idx") + 1000000).cast("int"))
      val fp = t.filter(gf.bloomProbe(sketch)(probeKey)).count()
      t.unpersist()
      val fprOk = fp <= n * P * 1.05 + 3 * math.sqrt(n * P) + 1
      val estOk = SketchCodec.decodeBloom(sketch).approximateCurrentFpp <= P * 1.05
      Seq((n, estOk, fprOk)).toDF("n_probes", "est_fpp_ok", "fpr_ok")
    }),

    // §2.1 #10 union at scale: per-shard sketches (groupBy shard = the
    // 10^12-turn sharding strategy, SURVEY §7.5) merged across shards ≡
    // one bulk filter, bit-identical (north rule: union/merge equivalence
    // to bulk insertion; integration.rs:310–366).
    "q03_bloom_union_shards" -> ((s, dir) => {
      import s.implicits._
      // r07: cached — count, sharded-union build, bulk comparandum and
      // zero-FN probe each re-derived the window before (4 passes → 1)
      val t = Transcripts.load(s, dir).cache()
      val n = t.count()
      // shard function mirrored exactly by the oracle's n_shards count
      val shard = pmod(expr("CAST(SUBSTR(conv_id, 2) AS BIGINT)"), lit(8L))
      // per-shard filters fold EXECUTOR-SIDE (sketchMergeAgg) — only the
      // one merged blob ever reaches the driver, never the shard blobs
      // (at the 10^12-turn sizing a driver collect of 65k shard blobs is
      // a ~1.8 TB pull; this row is one blob)
      val mRow = t.select(col("conv_id"), col("turn_idx"))
        .repartition(8, shard)
        .groupBy(shard.as("shard"))
        .agg(gf.bloomAgg(cap(n), P)(key2("conv_id", "turn_idx")).as("sketch"))
        .agg(count(lit(1)).as("n_shards"),
          graft.spark.catalyst.sketchMergeAgg(col("sketch")).as("merged"))
        .head
      val nShards = mRow.getAs[Long]("n_shards")
      val mergedBlob = mRow.getAs[Array[Byte]]("merged")
      require(mergedBlob != null, "sharded union over an empty input produced no sketch")
      // the comparandum IS bulk insertion into one filter (the reference
      // union law, integration.rs:310–366) — the global agg here is the
      // semantic object under test, not a production build path
      val bulk = SketchCodec.decodeBloom(
        t.agg(gf.bloomAgg(cap(n), P)(key2("conv_id", "turn_idx"))).head.getAs[Array[Byte]](0))
      val zeroFn = t.filter(gf.bloomProbe(mergedBlob)(
        key2("conv_id", "turn_idx"))).count() == n
      t.unpersist()
      Seq((nShards, SketchCodec.decodeBloom(mergedBlob) == bulk, zeroFn))
        .toDF("n_shards", "union_equals_bulk", "zero_false_negatives")
    }),

    // §2.1 #14 intersect: conversations active in BOTH turn-parity windows
    // (the reference's query-side set algebra, km_bloom_filter.rs:253–263).
    "q04_bloom_intersect" -> ((s, dir) => {
      import s.implicits._
      // r07: cached — the parity aggregate and the sharded two-sided
      // build each re-derived the window before (2 passes → 1)
      val t = Transcripts.load(s, dir).cache()
      // one shuffle: per-conv parity spread — `parity` is both the distinct
      // conv list (nConv) and, filtered to par=2, the true intersection
      val parity = t.groupBy(col("conv_id"))
        .agg(countDistinct(pmod(col("turn_idx"), lit(2))).as("par")).cache()
      val nConv = parity.count()
      val c = cap(nConv)
      // one SHARDED pass builds BOTH sketches: the aggregators skip null
      // keys, so each side's when() masks the other parity's rows (same
      // inserted sets as two filtered jobs, half the scan + hash work)
      val p = pmod(col("turn_idx"), lit(2))
      val row = shardedBlobRow(t, Seq("conv_id", "turn_idx"),
        "even" -> gf.bloomAgg(c, P)(when(p === 0, key1("conv_id"))),
        "odd" -> gf.bloomAgg(c, P)(when(p === 1, key1("conv_id"))))
      val inter = SketchCodec.encodeBloom(
        SketchCodec.decodeBloom(row.getAs[Array[Byte]]("even"))
          .intersectInPlace(SketchCodec.decodeBloom(row.getAs[Array[Byte]]("odd"))))
      val nBoth = parity.filter(col("par") === 2).count()
      val probed = parity.filter(gf.bloomProbe(inter)(key1("conv_id")))
        .agg(count(lit(1)).as("n"),
          coalesce(sum(when(col("par") === 2, 1L).otherwise(0L)), lit(0L)).as("nb")).head
      // no false negatives on the true intersection
      val noFn = probed.getLong(1) == nBoth
      // false positives on the rest within margin (reference margin 0.07)
      val extra = probed.getLong(0) - probed.getLong(1)
      val fpOk = extra <= (nConv - nBoth) * P * 1.07 + 3 * math.sqrt(nConv * P) + 1
      parity.unpersist(); t.unpersist()
      Seq((nBoth, noFn, fpOk)).toDF("n_both", "intersect_no_fn", "fp_within_margin")
    }),

    // §2.1 #2, #8–9, #13: the seeded variant end-to-end (per-index seeded
    // hashes, seeded_bloom_filter.rs:205–230), zero-FN + FPR gate.
    "q05_bloom_seeded" -> ((s, dir) => {
      import s.implicits._
      val t = Transcripts.load(s, dir).cache()
      val n = t.count()
      val sketch = shardedBlobRow(t, Seq("conv_id", "turn_idx"),
        "sk" -> gf.bloomSeededAgg(cap(n), P)(key2("conv_id", "turn_idx")))
        .getAs[Array[Byte]]("sk")
      val probeKey = gf.sketchKey(col("conv_id"), (col("turn_idx") + 1000000).cast("int"))
      // one pass over the cache for both the zero-FN sweep and the
      // disjoint-key FP count
      val probes = t.agg(
        coalesce(sum(when(gf.bloomProbe(sketch)(key2("conv_id", "turn_idx")), 1L).otherwise(0L)),
          lit(0L)).as("hit"),
        coalesce(sum(when(gf.bloomProbe(sketch)(probeKey), 1L).otherwise(0L)), lit(0L)).as("fp")).head
      t.unpersist()
      val zeroFn = probes.getLong(0) == n
      val fprOk = probes.getLong(1) <= n * P * 1.06 + 3 * math.sqrt(n * P) + 1 // seeded margin 0.06
      Seq((n, zeroFn, fprOk)).toDF("n_probes", "zero_fn", "fpr_ok")
    }),

    // §2.2 HLL: distinct conversations + distinct turns, estimate within
    // ±3·1.04/√m of the exact count (exact recomputed by DuckDB).
    "q06_hll_distinct" -> ((s, dir) => {
      import s.implicits._
      val t = Transcripts.load(s, dir)
      val row = t.agg(
        gf.hllAgg(key1("conv_id")).as("hc"),
        gf.hllAgg(key2("conv_id", "turn_idx")).as("ht"),
        countDistinct(col("conv_id")).as("ec"),
        count(lit(1)).as("et")).head // (conv_id, turn_idx) unique ⇒ count = distinct
      val rse = 3 * 1.04 / math.sqrt(1 << HLLSketch.DefaultP)
      val estC = SketchCodec.decodeHll(row.getAs[Array[Byte]]("hc")).estimate
      val estT = SketchCodec.decodeHll(row.getAs[Array[Byte]]("ht")).estimate
      val ec = row.getAs[Long]("ec")
      val et = row.getAs[Long]("et")
      Seq((ec, math.abs(estC - ec) <= rse * ec + 1, et, math.abs(estT - et) <= rse * et + 1))
        .toDF("exact_conv", "conv_ok", "exact_turn", "turn_ok")
    }),

    // §2.2 HLL grouped: distinct conversations per role — the grouped
    // sketch-table shape (groupBy(role).agg(hll)).
    "q07_hll_by_role" -> ((s, dir) => {
      val t = Transcripts.load(s, dir)
      val rse = 3 * 1.04 / math.sqrt(1 << HLLSketch.DefaultP)
      t.groupBy(col("role"))
        .agg(gf.hllAgg(key1("conv_id")).as("sketch"),
          countDistinct(col("conv_id")).as("exact_distinct"))
        .select(col("role"), col("exact_distinct"),
          (abs(gf.hllEstimate(col("sketch")) - col("exact_distinct"))
            <= lit(rse) * col("exact_distinct") + 1).as("within_bound"))
        .orderBy(col("role"))
    }),

    // §2.2 CMS heavy hitters: per-tool frequency, estimate ≥ exact (one-
    // sided guarantee) and ≤ exact + εN.
    "q08_cms_tools" -> ((s, dir) => {
      // r07: 3 window derivations → 1 — sketch and row count fold into
      // ONE aggregation over a cache, and the 5-row result materializes
      // eagerly so the cache releases before return (values unchanged)
      val t = Transcripts.load(s, dir).cache()
      val eps = 0.0005
      val row = t.agg(gf.cmsAgg(eps, 0.01)(key1("tool")).as("sk"),
        count(lit(1)).as("n")).head
      val sketch = row.getAs[Array[Byte]]("sk")
      val total = row.getAs[Long]("n")
      val out = t.groupBy(col("tool")).agg(count(lit(1)).as("exact_cnt"))
        .select(col("tool"), col("exact_cnt"),
          (gf.cmsEstimate(lit(sketch), key1("tool")) >= col("exact_cnt") &&
            gf.cmsEstimate(lit(sketch), key1("tool")) <= col("exact_cnt")
              + lit(math.ceil(eps * total).toLong)).as("cms_ok"))
        .orderBy(col("tool"))
      val rows = out.collect()
      t.unpersist()
      s.createDataFrame(s.sparkContext.parallelize(rows.toSeq, 1), out.schema)
    }),

    // §2.2 t-digest over ts-gap seconds (lag window per conversation,
    // SURVEY §2.3 "windows derive inputs"): rank error of p50/p95/p99 vs
    // the exact distribution within bound.
    "q09_tdigest_gaps" -> ((s, dir) => {
      import s.implicits._
      val gaps = tsGaps(s, dir).cache()
      // r07: sketch and row count fold into ONE pass (the count used to
      // be a separate cache-fill job before the aggregation)
      val row = gaps.agg(gf.tdigestAgg(col("gap")).as("sk"), count(lit(1)).as("n")).head
      val nG = row.getAs[Long]("n")
      val sketch = row.getAs[Array[Byte]]("sk")
      val td = SketchCodec.decodeTDigest(sketch)
      val ranks = exactRanks(gaps, nG, td.quantile(0.5), td.quantile(0.95), td.quantile(0.99))
      val out = Seq((nG,
        math.abs(ranks(0) - 0.5) <= 0.02,
        math.abs(ranks(1) - 0.95) <= 0.02,
        math.abs(ranks(2) - 0.99) <= 0.02))
        .toDF("n_gaps", "p50_ok", "p95_ok", "p99_ok")
      gaps.unpersist()
      out
    }),

    // §2.2 KLL over the same gaps: uniform rank-error bound 3·(2.296/k^0.9).
    "q10_kll_gaps" -> ((s, dir) => {
      import s.implicits._
      val gaps = tsGaps(s, dir).cache()
      // r07: sketch + count in ONE pass (the q09 fold)
      val row = gaps.agg(gf.kllAgg(col("gap")).as("sk"), count(lit(1)).as("n")).head
      val nG = row.getAs[Long]("n")
      val sketch = row.getAs[Array[Byte]]("sk")
      val kll = SketchCodec.decodeKll(sketch)
      val bound = 3 * kll.normalizedRankError
      val ranks = exactRanks(gaps, nG, kll.quantile(0.5), kll.quantile(0.95), kll.quantile(0.99))
      val out = Seq((nG,
        math.abs(ranks(0) - 0.5) <= bound,
        math.abs(ranks(1) - 0.95) <= bound,
        math.abs(ranks(2) - 0.99) <= bound))
        .toDF("n_gaps", "p50_ok", "p95_ok", "p99_ok")
      gaps.unpersist()
      out
    }),

    // §2.1 #15–16 estimators as first-class query output: element-count
    // estimate within 2% of truth, FPP estimate at/below configured bound.
    "q11_bloom_estimators" -> ((s, dir) => {
      import s.implicits._
      // r07: cached — count + sharded build re-derived the window twice
      val t = Transcripts.load(s, dir).cache()
      val n = t.count()
      val sk = SketchCodec.decodeBloom(
        shardedBlobRow(t, Seq("conv_id", "turn_idx"),
          "sk" -> gf.bloomAgg(cap(n), P)(key2("conv_id", "turn_idx")))
          .getAs[Array[Byte]]("sk"))
      t.unpersist()
      val countOk = math.abs(sk.approximateElementCount - n) / math.max(n, 1L) <= 0.02
      val fppOk = sk.approximateCurrentFpp <= P * 1.05
      Seq((n, countOk, fppOk)).toDF("exact_n", "count_est_ok", "fpp_le_bound")
    }),

    // Theta sketches COMPOSED ACROSS WINDOWS (round 4): the windowed
    // streaming state carries one theta per window precisely so that
    // "convs NEW this window / RETAINED from the previous one" is a
    // sketch-level set expression — this query proves that composition
    // end to end. Per 6h tumbling window: theta over conv_id;
    // consecutive pairs meet through a window-start self-join
    // (join-shaped — plan width independent of window count); per-window
    // difference/intersect estimates are gated at the published KMV
    // set-expression bound (θ=1 exact mode at these SFs makes the gates
    // tight), and the exact flux totals are DuckDB-anchored integers
    // (EXCEPT/INTERSECT on the distinct (window, conv) relation).
    "q49_window_theta_flux" -> ((s, dir) => {
      import s.implicits._
      import graft.spark.catalyst._
      val t = Transcripts.load(s, dir)
      val wt = t.withColumn("ws",
        window(col("ts").cast("timestamp"), "6 hours").getField("start")).cache()
      val perWin = wt.groupBy(col("ws"))
        .agg(thetaAggNative(col("conv_id")).as("th"))
      val prevW = perWin.select((col("ws") + expr("INTERVAL 6 HOURS")).as("ws"),
        col("th").as("th_prev"))
      // exact flux on the distinct (window, conv) relation — anti/semi
      // joins, no sketch on this side (it is the verifier)
      val wc = wt.select(col("ws"), col("conv_id")).distinct().cache()
      val prevC = wc.select((col("ws") + expr("INTERVAL 6 HOURS")).as("ws"), col("conv_id"))
      val curEx = wc.groupBy(col("ws")).agg(count(lit(1)).as("n_cur"))
      val prevEx = curEx.select((col("ws") + expr("INTERVAL 6 HOURS")).as("ws"),
        col("n_cur").as("n_prev"))
      val newEx = wc.join(prevC, Seq("ws", "conv_id"), "left_anti")
        .groupBy(col("ws")).agg(count(lit(1)).as("n_new"))
      val retEx = wc.join(prevC, Seq("ws", "conv_id"), "left_semi")
        .groupBy(col("ws")).agg(count(lit(1)).as("n_ret"))
      // Set-expression estimates COMPOSED from the registered theta
      // functions (round-5: the previous ad-hoc UDFs duplicated
      // thetaDifference/thetaIntersect). Null th_prev (first window)
      // propagates null through the set ops ⇒ coalesce to the
      // "everything is new / nothing retained" base case.
      def estNewCol(cur: Column, prev: Column): Column =
        round(coalesce(gf.thetaEstimate(gf.thetaDifference(cur, prev)),
          gf.thetaEstimate(cur))).cast("long")
      def estRetCol(cur: Column, prev: Column): Column =
        round(coalesce(gf.thetaEstimate(gf.thetaIntersect(cur, prev)),
          lit(0.0))).cast("long")
      val joined = perWin.join(prevW, Seq("ws"), "left")
        .join(curEx, Seq("ws"))
        .join(prevEx, Seq("ws"), "left")
        .join(newEx, Seq("ws"), "left")
        .join(retEx, Seq("ws"), "left")
        .select(col("ws"),
          coalesce(col("n_new"), lit(0L)).as("n_new"),
          coalesce(col("n_ret"), lit(0L)).as("n_ret"),
          (col("n_cur") + coalesce(col("n_prev"), lit(0L))).as("n_union_ub"),
          estNewCol(col("th"), col("th_prev")).as("est_new"),
          estRetCol(col("th"), col("th_prev")).as("est_ret"))
      // q31's KMV set-expression model: sd(X̂) ≤ √(|X|·|U|/k); 5σ + 1
      // rounding slack per window (θ=1 exact mode here ⇒ est == exact)
      val kTheta = ThetaSketch.DefaultK
      def slackCol(x: org.apache.spark.sql.Column) =
        sqrt(x.cast("double") * col("n_union_ub") / kTheta) * 5 + 1
      // ONE action over the five-join DAG: the bound-violation count is
      // folded into the same aggregation as the totals (round-5 fix — the
      // previous separate filter().count() re-evaluated the whole DAG).
      val violates =
        abs(col("est_new") - col("n_new")) > slackCol(col("n_new")) ||
          abs(col("est_ret") - col("n_ret")) > slackCol(col("n_ret"))
      val agg = joined.agg(count(lit(1)).as("w"),
        coalesce(sum(col("n_new")), lit(0L)).as("tn"),
        coalesce(sum(col("n_ret")), lit(0L)).as("tr"),
        coalesce(sum(when(violates, 1L).otherwise(0L)), lit(0L)).as("bad")).head
      wt.unpersist(); wc.unpersist()
      Seq((agg.getLong(0), agg.getLong(1), agg.getLong(2), agg.getLong(3) == 0L))
        .toDF("n_windows", "total_new", "total_retained", "flux_within_bound")
    }),

    // Counting Bloom with DELETION (round 6) — the one membership
    // operation neither reference variant offers (insert-only by design;
    // lib.rs:180–234 has no remove). Signed-stream shape (q58Signed):
    // every turn key inserts (+1); every error turn retracts (−1) — a
    // retraction matches its insert exactly, the Fan
    // et al. "Summary Cache" contract. ONE aggregation pass over the
    // signed union (retractions may arrive before their inserts across
    // partitions — the two-filter buffer absorbs any order). Gates:
    //  (a) kept_all_present — zero FN for every surviving key;
    //  (b) retracted_fpr_ok — fully-retracted keys probe true only at
    //      FPR rates (q02's bound shape);
    //  (c) collapse_eq_direct — the counting filter COLLAPSED to a bit
    //      filter is BYTE-IDENTICAL to a plain KM filter built over the
    //      surviving keys alone (canonical codec ⇒ bit-exact state).
    "q58_cbf_retraction" -> ((s, dir) => {
      import s.implicits._
      val t = Transcripts.load(s, dir).cache()
      val n = t.count()
      // r07: SHARDED builds (the q01 shape) instead of a bare global
      // agg. The bare `signed.agg(cbfAgg)` allocated one full-size DENSE
      // counting buffer (1 B/cell, ~14.4 cells per unit of capacity) PER
      // INPUT PARTITION and funneled every partial through ONE reducer —
      // measured as 8.1 s of GC on the bench's cold run. Coalescing the
      // input to BuildShards tasks bounds full-size buffers to one per
      // task with no row shuffle, and each partial buffer merges straight
      // into the final blob. A key's +1 and −1 rows need not meet in one
      // task: CbfSketchAgg keeps the insert and retract filters apart and
      // subtracts once, at eval. The buffer crosses the one exchange as
      // its two codec blobs, so a task's sparse partial filters travel
      // sparse.
      // Counting-cell addition is commutative, so the merged cells — and
      // the encoded blob — are BIT-IDENTICAL to the bare global build's
      // (the same union law the q03 gate pins for the bit filter;
      // inc_cbf_eq pins the counting merge). The direct comparandum
      // build is sharded identically.
      val cbfBlob = graft.spark.catalyst.shardedSketchBlobs(q58Signed(t), BuildShards)(
        "cbf" -> gf.cbfAgg(cap(n), P)(col("k"), col("m")))
        .head.getAs[Array[Byte]]("cbf")
      val directBlob = shardedBlobRow(t.filter(!errorTurn), Seq("conv_id", "turn_idx"),
        "sk" -> gf.bloomAgg(cap(n), P)(key2("conv_id", "turn_idx")))
        .getAs[Array[Byte]]("sk")
      // ONE probe pass over the raw table: kept/retracted counts and both
      // probe tallies in a single aggregation
      val hit = gf.cbfProbe(cbfBlob)(key2("conv_id", "turn_idx"))
      val r = t.agg(
        sum(when(!errorTurn, 1L).otherwise(0L)).as("n_kept"),
        sum(when(errorTurn, 1L).otherwise(0L)).as("n_gone"),
        sum(when(!errorTurn && hit, 1L).otherwise(0L)).as("kept_hits"),
        sum(when(errorTurn && hit, 1L).otherwise(0L)).as("fp")).head
      val (nKept, nGone) = (r.getAs[Long]("n_kept"), r.getAs[Long]("n_gone"))
      val fprOk = r.getAs[Long]("fp") <=
        nGone * P * 1.05 + 3 * math.sqrt(nGone * P) + 1
      val collapseEq = java.util.Arrays.equals(
        SketchCodec.encodeBloom(SketchCodec.decodeCountingBloom(cbfBlob).collapse()),
        directBlob)
      t.unpersist()
      Seq((n, nGone, nKept, r.getAs[Long]("kept_hits") == nKept, fprOk, collapseEq))
        .toDF("n_turns", "n_retracted", "n_kept", "kept_all_present",
          "retracted_fpr_ok", "collapse_eq_direct")
    }),

    // Theta (KMV) sketch: distinct counts under SET ALGEBRA — the
    // cardinality analogue of the reference's union/intersect pair
    // (km_bloom_filter.rs:184–263), plus difference (impossible on Bloom
    // bit-state). One grouped pass builds a sketch per turn parity; the
    // union/intersection/difference estimates are gated against the
    // exact parity partition (all DuckDB-exact anchors).
    "q31_theta_setops" -> ((s, dir) => {
      import s.implicits._
      import graft.spark.catalyst._
      val t = Transcripts.load(s, dir)
      // two overlapping TURN-KEY sets: A = even turns, B = turns ≤ 30.
      // Turn keys (10k at sf0.01) exceed k=4096, so this exercises
      // estimation mode; sf0.001 (1k turns) exercises exact mode.
      val inA = pmod(col("turn_idx"), lit(2)) === 0
      val inB = col("turn_idx") <= 30
      // ONE pass over the table: the 2x2 membership grouping yields both
      // the per-cell sketches AND the exact anchors (cell row counts).
      // Grouped (not null-masked) keys because the native row hasher
      // would hash a null key as the null tag, not skip it.
      val cells = t.select(col("conv_id"), col("turn_idx"),
          when(inA, 0).otherwise(1).as("ga"), when(inB, 0).otherwise(1).as("gb"))
        .groupBy(col("ga"), col("gb"))
        .agg(thetaAggNative(col("conv_id"), col("turn_idx")).as("s"),
          count(lit(1)).as("n"))
      // JOIN-SHAPED gate (round 5, the q45 pattern): the 2x2 cells never
      // reach the driver. A second tiny aggregation pivots them into ONE
      // row of blobs + counters (sketchMergeAgg skips the null branch of
      // each when() mask), and the set algebra runs as the registered
      // theta column functions over that row — the driver only ever sees
      // the final booleans + counters, at ANY cell cardinality.
      def cellBlob(a: Int, b: Int) =
        sketchMergeAgg(when(col("ga") === a && col("gb") === b, col("s")))
      def cellN(a: Int, b: Int) =
        coalesce(sum(when(col("ga") === a && col("gb") === b, col("n"))), lit(0L))
      val one = cells.agg(
        cellBlob(0, 0).as("s00"), cellBlob(0, 1).as("s01"), cellBlob(1, 0).as("s10"),
        cellN(0, 0).as("n_both"), cellN(0, 1).as("n_only_even"),
        cellN(1, 0).as("n_only_early"), cellN(1, 1).as("n_neither"))
      // Published KMV/theta error model (Theta-Sketch Framework, Dasgupta
      // et al. 2016 — see PAPERS.md): the union estimate has
      // sd ≈ |U|/√k; a set-expression result X (intersection/difference)
      // is sampled at θ ≈ k/|U|, so its count is ~Binomial(|X|, θ) and
      // sd(X̂) ≈ √(|X|(1−θ)/θ) ≤ √(|X|·|U|/k). Gates sit at 5σ of each
      // quantity's own bound (exact mode θ=1 ⇒ estimates exact, gates
      // trivially satisfied).
      val k = ThetaSketch.DefaultK
      // unions of possibly-absent cells: thetaUnion null-propagates, so
      // coalesce down to whichever side exists (empty cell ⇒ null blob)
      def unionC(x: Column, y: Column) = coalesce(gf.thetaUnion(x, y), x, y)
      val aCol = unionC(col("s00"), col("s01")) // A = even
      val bCol = unionC(col("s00"), col("s10")) // B = ≤30
      val nU = col("n_both") + col("n_only_even") + col("n_only_early")
      def estOf(c: Column) = coalesce(gf.thetaEstimate(c), lit(0.0))
      def slackC(x: Column) =
        sqrt(greatest(x, lit(1L)).cast("double") *
          greatest(nU, lit(1L)).cast("double") / k) * 5 + lit(1e-9)
      val slackU = greatest(nU, lit(1L)).cast("double") * (5.0 / math.sqrt(k.toDouble)) + lit(1e-9)
      one.select(
        (nU + col("n_neither")).as("n_turns"),
        col("n_both"), col("n_only_even"), col("n_only_early"),
        (abs(estOf(unionC(aCol, col("s10"))) - nU.cast("double")) <= slackU).as("union_ok"),
        (abs(estOf(gf.thetaIntersect(aCol, bCol)) - col("n_both").cast("double"))
          <= slackC(col("n_both"))).as("intersect_ok"),
        (abs(estOf(gf.thetaDifference(aCol, bCol)) - col("n_only_even").cast("double"))
          <= slackC(col("n_only_even")) &&
         abs(estOf(gf.thetaDifference(bCol, aCol)) - col("n_only_early").cast("double"))
          <= slackC(col("n_only_early"))).as("difference_ok"))
    }),

    // Bottom-k distinct sample: deterministic uniform sampling of
    // conversations (the eval/holdout-split primitive) — same sample at
    // ANY parallelism, gated on: membership (every sampled conv exists),
    // partitioning-invariance (bit-identical blob at 1 vs 13 shuffles),
    // and uniformity (subpopulation share within 5σ binomial).
    "q32_bottomk_sample" -> ((s, dir) => {
      import s.implicits._
      import graft.spark.catalyst._
      // r07 (late sweep): the two invariance builds and the distinct
      // conv list each re-derived the row_number window (3 passes → 1,
      // the q01–q04 cache pattern), and the repartitioned rebuild is
      // independent of the direct build — overlap them (guide §2.6).
      // Both aggregate the SAME cached rows; the gate IS the theorem
      // that their merge order cannot change the blob.
      val t = Transcripts.load(s, dir).cache()
      val k = 256
      // a failed direct build waits the overlapped build out quietly (no
      // orphan job on the shared session); t is released on every path
      try {
        val blob13F = graft.spark.Par.overlapped(
          t.repartition(13, col("turn_idx"))
            .agg(bottomKSampleAgg(k)(col("conv_id"))).head.getAs[Array[Byte]](0))
        val blob =
          try t.agg(bottomKSampleAgg(k)(col("conv_id"))).head.getAs[Array[Byte]](0)
          catch { case e: Throwable => graft.spark.Par.quietly(blob13F); throw e }
        val stable = java.util.Arrays.equals(blob, blob13F())
        val sample = SketchCodec.decodeBottomK(blob).sample
          .map(new String(_, java.nio.charset.StandardCharsets.UTF_8))
        val convs = t.select(col("conv_id")).distinct().cache()
        val nConv = convs.count()
        val sampleDf = sample.toSeq.toDF("conv_id")
        val exist = sampleDf.join(convs, "conv_id").count() == sample.length
        // uniformity: share of even-user conversations, sample vs population
        val isEven = expr("CAST(SUBSTRING(conv_id, 2) AS BIGINT) % 2 = 0")
        val popEven = convs.filter(isEven).count().toDouble / math.max(nConv, 1L)
        val sampEven = sampleDf.filter(isEven).count().toDouble / math.max(sample.length, 1)
        convs.unpersist()
        val sigma = math.sqrt(popEven * (1 - popEven) / math.max(sample.length, 1))
        val uniformOk = math.abs(sampEven - popEven) <= 5 * sigma + 1e-9
        Seq((nConv, sample.length.toLong, stable, exist, uniformOk))
          .toDF("n_conv", "sample_size", "parallelism_invariant",
            "all_sampled_exist", "uniform_ok")
      } finally t.unpersist()
    }),

    // Streaming shapes, oracle-gated (north rule: batch/stream
    // equivalence is exact for Bloom/HLL/CMS because the micro-batch
    // fold IS the reference's union, km_bloom_filter.rs:184–194, and
    // BOUND-level for t-digest/KLL, whose merges are order-dependent —
    // the stream-merged sketch must satisfy the same published rank
    // bound as the batch build): replay the transcripts as an
    // AvailableNow file stream in micro-batches; the incremental
    // foreachBatch union and the windowed aggregation must match their
    // batch twins bit-for-bit, the quantile sketches within bound.
    // Replay batch count and temp layout are set below where passed.
    "q33_stream_batch_equiv" -> ((s, dir) => {
      val t = Transcripts.load(s, dir)
      // capacity sizing only — row_number preserves cardinality, so the
      // raw events parquet count (footer metadata, no window shuffle)
      // equals the transcript count exactly
      val n = Transcripts.events(s, dir).count()
      // (4 micro-batches; tmpfs when available — the stream replay + two
      // checkpoints are pure fixed cost, keep them off rotating disk)
      val base = java.nio.file.Paths.get(
        if (new java.io.File("/dev/shm").isDirectory) "/dev/shm" else "/tmp")
      val tmp = java.nio.file.Files.createTempDirectory(base, "graft_q33_").toString
      try graft.streaming.StreamingSketch.batchStreamEquivalence(s, t, tmp, cap(n), files = 4)
      finally { // best-effort temp cleanup; blobs already materialized
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp)); ()
      }
    }),

    // THE 10^12-turn query path end-to-end, oracle-gated: build the
    // resumable sharded checkpoint (CheckpointedBuild, 256 per-shard
    // filters + lineage), then answer membership by ROUTING each probe
    // to its shard's filter (catalyst.probeShardTable) — the global
    // filter never exists as one object and no shard blob reaches the
    // driver. Gates: zero FN over every inserted key; disjoint-key FPR
    // at the per-shard configured bound. Capacity is 16n because shards
    // are conv-granular (hash of conv_id): a shard's load is whole
    // conversations, so per-shard sizing must absorb conv-count skew.
    "q35_sharded_probe" -> ((s, dir) => {
      import s.implicits._
      val t = Transcripts.load(s, dir).cache()
      val n = t.count()
      val base = java.nio.file.Paths.get(
        if (new java.io.File("/dev/shm").isDirectory) "/dev/shm" else "/tmp")
      val tmp = java.nio.file.Files.createTempDirectory(base, "graft_q35_").toString
      try {
        graft.pipeline.CheckpointedBuild.run(s, t, s"$tmp/ckpt", 16 * cap(n), P, "q35")
        // r07: the zero-FN sweep and the disjoint-key FP sweep are
        // independent probe jobs over the same cache — run them
        // concurrently (guide §2.6) instead of back-to-back
        val hitsF = graft.spark.Par.overlapped(graft.pipeline.CheckpointedBuild
          .probeShards(s, s"$tmp/ckpt", t, col("conv_id"), col("turn_idx")).count())
        val disjoint = t.withColumn("turn_idx", (col("turn_idx") + 1000000).cast("int"))
        val fp = graft.pipeline.CheckpointedBuild
          .probeShards(s, s"$tmp/ckpt", disjoint, col("conv_id"), col("turn_idx")).count()
        val hits = hitsF()
        t.unpersist()
        val fprOk = fp <= n * P * 1.05 + 3 * math.sqrt(n * P) + 1
        Seq((n, hits == n, fprOk)).toDF("n_turns", "zero_fn", "fpr_ok")
      } finally {
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp)); ()
      }
    }),

    // ROLLUP sketch table — the §2.3 grouping-sets aggregation shape: ONE
    // build pass over rollup(role, tool) yields a sketch per (role, tool)
    // cell, per role, and the grand total; the hierarchy-rollup IDENTITY
    // that makes sketch tables valuable (any parent cell ≡ merge of its
    // children, because HLL's register-max union is associative and
    // commutative — the reference union law lifted to grouping sets) is
    // gated BIT-level at both levels, and each role cell's estimate is
    // gated at the published HLL bound against the exact distinct count.
    // Anchors (per-role turn counts) are DuckDB-exact.
    "q40_rollup_sketches" -> ((s, dir) => {
      import s.implicits._
      import graft.spark.catalyst._
      val t = Transcripts.load(s, dir)
      val rse = 3 * 1.04 / math.sqrt(1 << HLLSketch.DefaultP)
      val cells = t.rollup(col("role"), col("tool"))
        .agg(hllAggNative(col("conv_id")).as("sk"), count(lit(1)).as("n"),
          grouping_id().as("gid"))
      val leaves = cells.filter(col("gid") === 0)
      val roleCells = cells.filter(col("gid") === 1)
      // parent ≡ merge of children, per role (executor-side fold)
      val mergedPerRole = leaves.groupBy(col("role"))
        .agg(sketchMergeAgg(col("sk")).as("msk"), sum(col("n")).as("mn"))
      val exact = t.groupBy(col("role"))
        .agg(countDistinct(col("conv_id")).as("exact_distinct"))
      // JOIN-SHAPED gates (round 5, the q45 pattern): bit-identity is a
      // native binary comparison inside the join, the estimate gate uses
      // the registered hll_estimate column, and the grand-total identity
      // is a 1×1 cross join — NOTHING is collected; the rollup shuffle
      // is planned once and reused across the branches (ReusedExchange).
      val perRole = roleCells.join(mergedPerRole, "role").join(exact, "role")
        .select(col("role"), col("n").as("n_turns"),
          (col("sk") === col("msk") && col("n") === col("mn"))
            .as("rollup_identity_ok"),
          (abs(gf.hllEstimate(col("sk")) - col("exact_distinct"))
            <= lit(rse) * col("exact_distinct") + 1).as("hll_ok"))
      // grand total cell ≡ merge of the role cells (one row × one row)
      val grand = cells.filter(col("gid") === 3)
        .select(col("sk").as("tsk"), col("n").as("tn"))
      val mergedAll = roleCells
        .agg(sketchMergeAgg(col("sk")).as("mall"), sum(col("n")).as("mnall"))
      val grandOkDf = grand.crossJoin(mergedAll)
        .select((col("tsk") === col("mall") && col("tn") === col("mnall"))
          .as("grand_identity_ok"))
      perRole.crossJoin(grandOkDf).orderBy(col("role"))
    }),

    // §2.1 #3 genericity: the KM filter takes ANY registered hash pair
    // (reference KMBloomFilter<H1,H2>, km_bloom_filter.rs:46–48; its
    // integration suite sweeps pairs with per-pair FPR margins,
    // integration.rs:39–146). Since round 3 this runs the PRODUCTION
    // path: one sharded pass of native `BloomSketchAgg` builds all three
    // non-default-pair filters (values hashed straight from the
    // InternalRow by the injected pair's chained fold) and the probes are
    // codegen'd `BloomMightContain` with the matching pair, which the
    // decode boundary verifies against the blob's pair id. Each filter
    // must show zero false negatives and disjoint-key FPR within its
    // margin. Per-pair kernel margins live in BloomSketchSpec's matrix;
    // here each pair gets the statistical 3σ-over-binomial gate at
    // 1.10·p (FNV is a weaker mixer than the avalanche hashes). The byte-key
    // pair path (functions.bloomAggPair) keeps its own coverage in
    // SparkAggSpec.
    "q34_bloom_hasher_pairs" -> ((s, dir) => {
      import s.implicits._
      import graft.spark.catalyst.{bloomAggNativePair, bloomMightContainNativePair}
      val t = Transcripts.load(s, dir).cache()
      val n = t.count()
      val pairs = Seq(
        "xf" -> KMHashPair.XxFnv,
        "fm" -> KMHashPair.FnvMurmur,
        "xx" -> KMHashPair.XxXx)
      val row = shardedBlobRow(t, Seq("conv_id", "turn_idx"),
        pairs.map { case (nm, p) =>
          nm -> bloomAggNativePair(cap(n), P, p)(col("conv_id"), col("turn_idx"))
        }: _*)
      val disjointIdx = (col("turn_idx") + 1000000).cast("int")
      // one cached pass for all six probe counts (3 pairs × hit/fp)
      val aggCols = pairs.flatMap { case (c, p) =>
        val blob = row.getAs[Array[Byte]](c)
        Seq(
          coalesce(sum(when(bloomMightContainNativePair(p)(
            lit(blob), col("conv_id"), col("turn_idx")), 1L).otherwise(0L)), lit(0L))
            .as(s"${c}_hit"),
          coalesce(sum(when(bloomMightContainNativePair(p)(
            lit(blob), col("conv_id"), disjointIdx), 1L).otherwise(0L)), lit(0L))
            .as(s"${c}_fp"))
      }
      val counts = t.agg(aggCols.head, aggCols.tail: _*).head
      t.unpersist()
      def ok(c: String): Boolean = {
        val hit = counts.getAs[Long](s"${c}_hit")
        val fp = counts.getAs[Long](s"${c}_fp")
        hit == n && fp <= n * P * 1.10 + 3 * math.sqrt(n * P) + 1
      }
      Seq((n, ok("xf"), ok("fm"), ok("xx")))
        .toDF("n_probes", "xx_fnv_ok", "fnv_murmur_ok", "xx_xx_ok")
    }),

    // Misra–Gries heavy hitters over the tool column — the DETERMINISTIC
    // frequent-items sketch (k=8 entries vs ~50 tools): CMS's complement,
    // carrying the keys themselves so "which tools dominate" needs no
    // candidate set or second pass. All three theorems gated (not
    // probabilities — MG has no randomness): undercount-only, error ≤
    // decrementTotal ≤ N/(k+1), and total recall of every tool with
    // frequency > N/(k+1). The sketch state crosses Spark's partial/final
    // merge (PODS 2012 mergeable-summaries rule), so the gates also prove
    // the distributed merge. n_heavy is DuckDB-recomputed exactly.
    // JOIN-SHAPED gate (round 4): only the ≤ k sketch ENTRIES reach the
    // driver (they are the query's deliverable); the exact per-tool
    // counts stay distributed and meet the entries in one full-outer
    // join (full outer so an est-only key — an overcount bug — would
    // surface; Spark cannot broadcast full-outer equi-joins, so it is
    // a shuffle join whose small side is the ≤ k entry rows) + boolean
    // aggregation — the gate survives a high-cardinality key column
    // because the driver only ever sees the entries and four counters.
    "q45_mg_heavy_hitters" -> ((s, dir) => {
      import s.implicits._
      import graft.spark.catalyst.mgAgg
      val t = Transcripts.load(s, dir).cache()
      val n = t.count()
      val k = 8
      val blob = t.agg(mgAgg(k)(col("tool"))).head.getAs[Array[Byte]](0)
      val mg = SketchCodec.decodeMg(blob)
      val thresh = n / (k + 1)
      val entries = mg.entries
        .map(e => (new String(e._1, java.nio.charset.StandardCharsets.UTF_8), e._2))
        .toSeq.toDF("tool", "est")
      val gates = t.groupBy(col("tool")).agg(count(lit(1)).as("cnt"))
        .join(entries, Seq("tool"), "full_outer")
        .select(coalesce(col("cnt"), lit(0L)).as("f"),
          col("est"), coalesce(col("est"), lit(0L)).as("e0"))
        .agg(
          coalesce(sum(when(col("f") > thresh, 1L).otherwise(0L)), lit(0L)).as("n_heavy"),
          coalesce(sum(when(col("f") > thresh && col("est").isNull, 1L).otherwise(0L)),
            lit(0L)).as("heavy_missed"),
          coalesce(sum(when(col("e0") > col("f"), 1L).otherwise(0L)), lit(0L))
            .as("overcounts"),
          coalesce(sum(when(col("f") - col("e0") > mg.decrementTotal, 1L).otherwise(0L)),
            lit(0L)).as("err_violations"))
        .head
      t.unpersist()
      Seq((n, gates.getAs[Long]("n_heavy"),
          gates.getAs[Long]("heavy_missed") == 0L,
          gates.getAs[Long]("overcounts") == 0L,
          mg.decrementTotal <= thresh && gates.getAs[Long]("err_violations") == 0L))
        .toDF("n_turns", "n_heavy", "heavy_recall_ok", "undercount_ok", "err_bound_ok")
    }),

    // HIGH-GROUP-CARDINALITY sketch table — the 100 TB shape where the
    // shuffle cost is per-GROUP blob size, not input size: one HLL + one
    // CMS per conversation (thousands of tiny groups, vs 3 roles in q07).
    // The canonical sparse codec (SketchCodec: HLL compact v5, CMS sparse
    // v3; SparseCodecSpec) must kick in for every group: a 30-turn
    // conversation encodes its HLL in
    // ~a hundred bytes instead of the 16 KiB dense register file, and its
    // tool-frequency CMS in ~1 KiB instead of the ~109 KiB dense grid —
    // this query gates that every blob IS sparse (version byte, checked
    // with a codegen'd binary substring, no UDF), that the whole sketch
    // column is ≥10× smaller than dense would be, and that every group's
    // HLL estimate still meets the published bound.
    "q41_sparse_sketch_table" -> ((s, dir) => {
      import graft.spark.catalyst._
      val t = Transcripts.load(s, dir)
      val rse = 3 * 1.04 / math.sqrt(1 << HLLSketch.DefaultP)
      val hllDense = 10L + (1L << HLLSketch.DefaultP)
      val cmsEps = 0.001
      val cmsDelta = 0.01
      val cmsDense = 23L + 8L * math.ceil(math.log(1.0 / cmsDelta)).toLong *
        math.ceil(math.E / cmsEps).toLong
      val estUdf = udf((b: Array[Byte]) => math.round(SketchCodec.decodeHll(b).estimate))
      // the version byte of a sparse blob: HLL compact v5, CMS sparse v3
      val hllSparse = lit(Array[Byte](5))
      val cmsSparse = lit(Array[Byte](3))
      val groups = t.groupBy(col("conv_id"))
        .agg(hllAggNative(col("turn_idx")).as("hsk"),
          cmsAggNative(cmsEps, cmsDelta)(col("tool")).as("csk"),
          countDistinct(col("turn_idx")).as("exact"))
      groups.agg(
        count(lit(1)).as("n_groups"),
        (coalesce(sum(when(abs(estUdf(col("hsk")) - col("exact"))
          <= lit(rse) * col("exact") + 1, 0L).otherwise(1L)), lit(0L)) === 0)
          .as("all_within_bound"),
        (coalesce(sum(when(substring(col("hsk"), 6, 1) === hllSparse &&
          substring(col("csk"), 6, 1) === cmsSparse, 0L).otherwise(1L)), lit(0L)) === 0)
          .as("all_blobs_sparse"),
        (sum(length(col("hsk"))) * 10 < count(lit(1)) * lit(hllDense) &&
          sum(length(col("csk"))) * 10 < count(lit(1)) * lit(cmsDense))
          .as("sparse_saves_10x"))
    }),

    // GROUPED BLOOM TABLE under the sparse codec (round 5 — the last
    // dense-only payload): the windowed-streaming-state shape, one
    // FIXED-CAPACITY filter per group, each lightly filled. Dense, a
    // capacity-100k p=.001 filter ships ~176 KiB per group REGARDLESS
    // of fill; the v4 offset-list ships ~2 B per set bit. Gates: every
    // per-conversation blob encodes sparse (version byte via codegen'd
    // binary substring, no UDF), the whole sketch column is ≥5× smaller
    // than dense, zero false negatives probing every row's own key
    // through the keyed LRU-decoding probe (the q35 shard-probe path —
    // the sparse decode feeds the SAME probe machinery), and disjoint
    // keys hold the configured FPR bound. All counters DuckDB-exact.
    "q50_bloom_grouped_sparse" -> ((s, dir) => {
      import graft.spark.catalyst._
      val t = Transcripts.load(s, dir)
      val capacity = 100000L // the streaming-state sizing: global worst case
      val m = BloomConfig(capacity, P).totalBits
      val denseBytes = 6L + 3L + 16L + 4L + 8L + 8L * ((m + 63) / 64)
      val groups = t.groupBy(col("conv_id"))
        .agg(bloomAggNative(capacity, P)(col("conv_id"), col("turn_idx")).as("bsk"))
      val gGates = groups.agg(
        count(lit(1)).as("n_groups"),
        (coalesce(sum(when(substring(col("bsk"), 6, 1) === lit(Array[Byte](4)), 0L)
          .otherwise(1L)), lit(0L)) === 0).as("all_blobs_sparse"),
        (sum(length(col("bsk"))) * 5 < count(lit(1)) * lit(denseBytes))
          .as("sparse_saves_5x"))
      // membership gates in ONE pass over the joined relation: the join
      // co-locates each conversation's rows with its blob, so the keyed
      // probe's decode memo hits on every row after the first per conv
      val probed = t.join(groups, "conv_id")
      val convKey = xxhash64(col("conv_id"))
      val disjointIdx = (col("turn_idx") + 1000000).cast("int")
      val pGates = probed.agg(
        count(lit(1)).as("n_probes"),
        coalesce(sum(when(bloomMightContainKeyed(convKey, col("bsk"),
          col("conv_id"), col("turn_idx")), 0L).otherwise(1L)), lit(0L)).as("fn"),
        coalesce(sum(when(bloomMightContainKeyed(convKey, col("bsk"),
          col("conv_id"), disjointIdx), 1L).otherwise(0L)), lit(0L)).as("fp"))
      gGates.crossJoin(pGates)
        .select(col("n_groups"), col("n_probes"),
          col("all_blobs_sparse"), col("sparse_saves_5x"),
          (col("fn") === 0L).as("zero_fn"),
          (col("fp").cast("double") <=
            col("n_probes").cast("double") * P * 1.10 +
            sqrt(col("n_probes").cast("double") * P) * 3 + 1).as("fpr_ok"))
    }),
  )

  /** Exact ranks of three quantile estimates in ONE pass over the gaps
    * (three filter+count jobs would rescan the cache per quantile).
    * coalesce: sum over zero rows is null — an empty gaps relation must
    * yield NaN ranks (0/0, gates false), not a null-getter crash. */
  private def exactRanks(gaps: DataFrame, n: Long, e1: Double, e2: Double, e3: Double): Seq[Double] = {
    val r = gaps.agg(
      coalesce(sum(when(col("gap") <= e1, 1L).otherwise(0L)), lit(0L)),
      coalesce(sum(when(col("gap") <= e2, 1L).otherwise(0L)), lit(0L)),
      coalesce(sum(when(col("gap") <= e3, 1L).otherwise(0L)), lit(0L))).head
    (0 to 2).map(i => r.getLong(i).toDouble / n)
  }

  /** ts-gap seconds per conversation (lag window), the quantile input. */
  private def tsGaps(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("conv_id")).orderBy(col("turn_idx"))
    Transcripts.load(s, dir)
      // testdata ts is TIMESTAMP_NTZ; session TZ is pinned UTC so the cast
      // is deterministic and matches DuckDB's naive-timestamp arithmetic
      .withColumn("ts_utc", col("ts").cast("timestamp"))
      .withColumn("gap",
        (unix_micros(col("ts_utc")) - unix_micros(lag(col("ts_utc"), 1).over(w))) / 1e6)
      .filter(col("gap").isNotNull)
      .select(col("gap"))
  }

  private val C = Transcripts.Cte

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Estimate queries anchor on exact values +
    * literal-true bound booleans (see object doc). */
  def oracleSql: Map[String, String] = sketchOracles ++ PipelineEntries.oracleSql

  private def sketchOracles: Map[String, String] = Map(
    "q01_bloom_membership" ->
      s"$C SELECT role, CAST(COUNT(*) AS BIGINT) AS n_contained FROM transcripts GROUP BY role ORDER BY role",
    "q02_bloom_fpr" ->
      s"$C SELECT CAST(COUNT(*) AS BIGINT) AS n_probes, true AS est_fpp_ok, true AS fpr_ok FROM transcripts",
    "q03_bloom_union_shards" ->
      (s"$C SELECT CAST(COUNT(DISTINCT CAST(SUBSTR(conv_id, 2) AS BIGINT) % 8) AS BIGINT) AS n_shards, " +
        "true AS union_equals_bulk, true AS zero_false_negatives FROM transcripts"),
    "q04_bloom_intersect" ->
      (s"$C SELECT CAST(COUNT(*) AS BIGINT) AS n_both, true AS intersect_no_fn, true AS fp_within_margin FROM " +
        "(SELECT conv_id FROM transcripts GROUP BY conv_id HAVING COUNT(DISTINCT turn_idx % 2) = 2) b"),
    "q05_bloom_seeded" ->
      s"$C SELECT CAST(COUNT(*) AS BIGINT) AS n_probes, true AS zero_fn, true AS fpr_ok FROM transcripts",
    "q58_cbf_retraction" ->
      (s"$C SELECT CAST(COUNT(*) AS BIGINT) AS n_turns, " +
        "CAST(SUM(CASE WHEN tool = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_retracted, " +
        "CAST(SUM(CASE WHEN tool = 'error' THEN 0 ELSE 1 END) AS BIGINT) AS n_kept, " +
        "true AS kept_all_present, true AS retracted_fpr_ok, true AS collapse_eq_direct " +
        "FROM transcripts"),
    "q31_theta_setops" ->
      (s"$C SELECT CAST(COUNT(*) AS BIGINT) AS n_turns, " +
        "CAST(SUM(CASE WHEN turn_idx % 2 = 0 AND turn_idx <= 30 THEN 1 ELSE 0 END) AS BIGINT) AS n_both, " +
        "CAST(SUM(CASE WHEN turn_idx % 2 = 0 AND turn_idx > 30 THEN 1 ELSE 0 END) AS BIGINT) AS n_only_even, " +
        "CAST(SUM(CASE WHEN turn_idx % 2 = 1 AND turn_idx <= 30 THEN 1 ELSE 0 END) AS BIGINT) AS n_only_early, " +
        "true AS union_ok, true AS intersect_ok, true AS difference_ok FROM transcripts"),
    "q49_window_theta_flux" ->
      (s"""$C, wc AS (SELECT DISTINCT to_timestamp(floor(epoch(ts) / 21600) * 21600) AS ws,
         |  conv_id FROM transcripts),
         |prev AS (SELECT ws + INTERVAL 6 HOUR AS ws, conv_id FROM wc)
         |SELECT CAST((SELECT COUNT(DISTINCT ws) FROM wc) AS BIGINT) AS n_windows,
         |CAST((SELECT COUNT(*) FROM (SELECT ws, conv_id FROM wc EXCEPT
         |  SELECT ws, conv_id FROM prev) x) AS BIGINT) AS total_new,
         |CAST((SELECT COUNT(*) FROM (SELECT ws, conv_id FROM wc INTERSECT
         |  SELECT ws, conv_id FROM prev) y) AS BIGINT) AS total_retained,
         |true AS flux_within_bound"""
        .stripMargin.replace("\n", " ")),
    "q32_bottomk_sample" ->
      (s"$C SELECT CAST(COUNT(DISTINCT conv_id) AS BIGINT) AS n_conv, " +
        "CAST(LEAST(256, COUNT(DISTINCT conv_id)) AS BIGINT) AS sample_size, " +
        "true AS parallelism_invariant, true AS all_sampled_exist, true AS uniform_ok " +
        "FROM transcripts"),
    "q06_hll_distinct" ->
      (s"$C SELECT CAST(COUNT(DISTINCT conv_id) AS BIGINT) AS exact_conv, true AS conv_ok, " +
        "CAST(COUNT(*) AS BIGINT) AS exact_turn, true AS turn_ok FROM transcripts"),
    "q07_hll_by_role" ->
      (s"$C SELECT role, CAST(COUNT(DISTINCT conv_id) AS BIGINT) AS exact_distinct, true AS within_bound " +
        "FROM transcripts GROUP BY role ORDER BY role"),
    "q08_cms_tools" ->
      (s"$C SELECT tool, CAST(COUNT(*) AS BIGINT) AS exact_cnt, true AS cms_ok " +
        "FROM transcripts GROUP BY tool ORDER BY tool"),
    "q09_tdigest_gaps" ->
      (s"$C SELECT CAST(COUNT(*) AS BIGINT) AS n_gaps, true AS p50_ok, true AS p95_ok, true AS p99_ok FROM " +
        "(SELECT ts - LAG(ts) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS gap FROM transcripts) g " +
        "WHERE gap IS NOT NULL"),
    "q10_kll_gaps" ->
      (s"$C SELECT CAST(COUNT(*) AS BIGINT) AS n_gaps, true AS p50_ok, true AS p95_ok, true AS p99_ok FROM " +
        "(SELECT ts - LAG(ts) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS gap FROM transcripts) g " +
        "WHERE gap IS NOT NULL"),
    "q11_bloom_estimators" ->
      s"$C SELECT CAST(COUNT(*) AS BIGINT) AS exact_n, true AS count_est_ok, true AS fpp_le_bound FROM transcripts",
    "q34_bloom_hasher_pairs" ->
      (s"$C SELECT CAST(COUNT(*) AS BIGINT) AS n_probes, true AS xx_fnv_ok, " +
        "true AS fnv_murmur_ok, true AS xx_xx_ok FROM transcripts"),
    "q33_stream_batch_equiv" ->
      (s"$C SELECT CAST(COUNT(*) AS BIGINT) AS n_turns, true AS inc_bloom_eq, " +
        "true AS inc_hll_eq, true AS inc_cms_eq, true AS inc_theta_eq, " +
        "true AS inc_bottomk_eq, true AS inc_wbk_eq, true AS inc_cbf_eq, " +
        "true AS inc_tdigest_ok, " +
        "true AS inc_kll_ok, true AS inc_mg_ok, true AS windowed_eq, " +
        "true AS win_quantiles_ok, true AS win_mg_ok FROM transcripts"),
    "q35_sharded_probe" ->
      s"$C SELECT CAST(COUNT(*) AS BIGINT) AS n_turns, true AS zero_fn, true AS fpr_ok FROM transcripts",
    "q40_rollup_sketches" ->
      (s"$C SELECT role, CAST(COUNT(*) AS BIGINT) AS n_turns, true AS rollup_identity_ok, " +
        "true AS hll_ok, true AS grand_identity_ok FROM transcripts GROUP BY role ORDER BY role"),
    "q41_sparse_sketch_table" ->
      (s"$C SELECT CAST(COUNT(DISTINCT conv_id) AS BIGINT) AS n_groups, true AS all_within_bound, " +
        "true AS all_blobs_sparse, true AS sparse_saves_10x FROM transcripts"),
    "q45_mg_heavy_hitters" ->
      (s"$C SELECT CAST(COUNT(*) AS BIGINT) AS n_turns, " +
        "(SELECT CAST(COUNT(*) AS BIGINT) FROM " +
        "  (SELECT tool, COUNT(*) AS c FROM transcripts GROUP BY tool) g " +
        "  WHERE c > (SELECT COUNT(*) FROM transcripts) // 9) AS n_heavy, " +
        "true AS heavy_recall_ok, true AS undercount_ok, true AS err_bound_ok " +
        "FROM transcripts"),
    "q50_bloom_grouped_sparse" ->
      (s"$C SELECT CAST(COUNT(DISTINCT conv_id) AS BIGINT) AS n_groups, " +
        "CAST(COUNT(*) AS BIGINT) AS n_probes, true AS all_blobs_sparse, " +
        "true AS sparse_saves_5x, true AS zero_fn, true AS fpr_ok FROM transcripts"),
  )
}
