package graft.spark

import graft.core._
import graft.spark.catalyst.{BloomSketchAgg, CmsSketchAgg, HllSketchAgg}
import org.apache.spark.sql.{Column, SparkSession, GraftSqlBridge => B}
import org.apache.spark.sql.catalyst.expressions.{Expression, IsNotNull}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction
import org.apache.spark.sql.functions._
import java.util.concurrent.ConcurrentHashMap

/** Column-level sketch API: aggregation columns + scalar probe/estimator
  * functions (SURVEY.md §2.1 #7, #10, #14–16 mapped to Spark).
  *
  * Scalar functions are Scala UDFs over BinaryType sketch blobs; a
  * per-executor decode cache keeps per-row probes from re-decoding the
  * same multi-KB blob (the common case: one sketch value joined or
  * broadcast against millions of probe rows). Aggregations are the
  * graft.spark.catalyst aggregates over one binary key (KeyMode.Bytes) →
  * ObjectHashAggregate with partial/final merge (= reference
  * insert/union); seeded Bloom and counting filters use SketchAggregators.
  */
object functions {

  /** Canonical binary key encoding for any column tuple: columns cast to
    * string, joined by  (never appears in the testdata keys), UTF-8.
    * Codegen'd built-ins end-to-end — no UDF on the hot path before the
    * aggregate. Nulls map to a dedicated tag — concat_ws SKIPS nulls,
    * which would make (null,"x") collide with ("x",null). The outer
    * coalesce never fires: it tells the optimizer the key is not null, so
    * the aggregates' null-key FILTER folds away instead of re-evaluating
    * the key per row. */
  def sketchKey(cols: Column*): Column =
    coalesce(encode(concat_ws("",
      cols.map(c => coalesce(c.cast("string"), lit("NULL"))): _*), "UTF-8"),
      lit(Array.emptyByteArray))

  // ------------------------------------------------------- aggregations
  /** A native aggregate over one BINARY key, null keys skipped by the
    * aggregate's FILTER (WHERE key IS NOT NULL) — the native aggregates
    * themselves fold a null key into the hash as a tag. */
  private def byteKeyAgg(key: Column)(agg: Expression => AggregateFunction): Column = {
    val k = B.expression(key)
    B.column(agg(k).toAggregateExpression(isDistinct = false, filter = Some(IsNotNull(k))))
  }

  def bloomAgg(capacity: Long, fpp: Double)(key: Column): Column =
    bloomAggPair(capacity, fpp, KMHashPair.XxMurmur)(key)

  def bloomSeededAgg(capacity: Long, fpp: Double)(key: Column): Column =
    udaf(new SeededBloomAggregator(capacity, fpp)).apply(key)

  /** KM Bloom aggregation with an INJECTED hash pair — the reference's
    * `KMBloomFilter<H1, H2>` genericity (km_bloom_filter.rs:46–48) as a
    * constructor argument. The pair id travels in the blob, so probes
    * decode the right pair and cross-pair merges are rejected; custom
    * (unregistered) pairs cannot cross the shuffle codec and are
    * rejected here. */
  def bloomAggPair(capacity: Long, fpp: Double, hashers: KMHashPair)(key: Column): Column =
    byteKeyAgg(key)(k => BloomSketchAgg(Seq(k), capacity, fpp,
      catalyst.registeredId(hashers), SketchCodec.KeyMode.Bytes))

  def hllAgg(key: Column, p: Int = HLLSketch.DefaultP): Column =
    byteKeyAgg(key)(k => HllSketchAgg(Seq(k), p))

  def cmsAgg(eps: Double, delta: Double)(key: Column): Column =
    byteKeyAgg(key)(k => CmsSketchAgg(Seq(k), eps, delta, SketchCodec.KeyMode.Bytes))

  def tdigestAgg(v: Column, compression: Double = TDigestSketch.DefaultCompression): Column =
    catalyst.tdigestAggNative(v, compression)

  def kllAgg(v: Column, k: Int = KLLSketch.DefaultK): Column =
    catalyst.kllAggNative(v, k)

  /** Counting-Bloom aggregation over a SIGNED stream (key, multiplicity):
    * positive multiplicities insert, negative retract — the DELETION
    * surface neither reference filter variant has. Commutative in any
    * merge/arrival order (see CbfAggregator). `cbfAgg(...)(key)` with no
    * sign column is plain insertion (multiplicity 1/row). */
  def cbfAgg(capacity: Long, fpp: Double)(key: Column,
      multiplicity: Column = lit(1L)): Column =
    udaf(new CbfAggregator(capacity, fpp)).apply(key, multiplicity.cast("long"))

  // --------------------------------------------------------- decode cache
  /** Executor-local decoded-sketch cache keyed by (length, xxhash) of the
    * blob. Bounded; cleared wholesale on overflow (sketch-table
    * cardinality is shards/groups — small by design). */
  private object DecodeCache {
    private val MaxEntries = 1024
    private val m = new ConcurrentHashMap[(Int, Long), AnyRef]()
    def get(bytes: Array[Byte], decode: Array[Byte] => AnyRef): AnyRef = {
      val key = (bytes.length, Hashing.xxHash64(bytes, 0L))
      var v = m.get(key)
      if (v == null) {
        v = decode(bytes)
        if (m.size >= MaxEntries) m.clear()
        m.put(key, v)
      }
      v
    }
  }

  private def bloomOf(b: Array[Byte]): BloomSketch =
    DecodeCache.get(b, SketchCodec.decodeBloom(_)).asInstanceOf[BloomSketch]
  private def hllOf(b: Array[Byte]): HLLSketch =
    DecodeCache.get(b, SketchCodec.decodeHll(_)).asInstanceOf[HLLSketch]
  private def cmsOf(b: Array[Byte]): CMSSketch =
    DecodeCache.get(b, SketchCodec.decodeCms(_)).asInstanceOf[CMSSketch]
  private def tdigestOf(b: Array[Byte]): TDigestSketch =
    DecodeCache.get(b, SketchCodec.decodeTDigest(_)).asInstanceOf[TDigestSketch]
  private def kllOf(b: Array[Byte]): KLLSketch =
    DecodeCache.get(b, SketchCodec.decodeKll(_)).asInstanceOf[KLLSketch]

  private def cbfOf(b: Array[Byte]): CountingBloomSketch =
    DecodeCache.get(b, SketchCodec.decodeCountingBloom(_))
      .asInstanceOf[CountingBloomSketch]

  // ----------------------------------------------------- scalar functions
  /** Probe a sketch column (per-shard sketch tables). For probing ONE
    * sketch against a big table prefer [[bloomProbe]] (broadcast form). */
  def bloomMightContain(sketch: Column, key: Column): Column =
    udf(bloomMightContainBlob _).apply(sketch, key)

  /** Byte-key probes are only valid against byte-key-built sketches —
    * probing a native row-hash sketch here would be silent zero-FN loss.
    * The Column API and the SQL names share these guarded kernels. */
  private def requireBytesMode(blob: Array[Byte]): Unit =
    require(SketchCodec.bloomKeyMode(blob) == SketchCodec.KeyMode.Bytes,
      "sketch was built with native row-hash keys; probe it with graft.spark.catalyst")

  private def bloomMightContainBlob(s: Array[Byte], k: Array[Byte]): Boolean =
    if (s == null || k == null) false
    else { requireBytesMode(s); bloomOf(s).mightContain(k) }

  private def cmsEstimateBlob(s: Array[Byte], k: Array[Byte]): Long = {
    require(SketchCodec.cmsKeyMode(s) == SketchCodec.KeyMode.Bytes,
      "CMS was built with native row-hash keys; query it with graft.spark.catalyst")
    cmsOf(s).estimate(k)
  }

  /** Broadcast-style probe: decode once on the driver, ship the decoded
    * sketch in the UDF closure (classic Bloom semi-join reduction). */
  def bloomProbe(sketchBytes: Array[Byte])(key: Column): Column = {
    requireBytesMode(sketchBytes)
    val sketch = SketchCodec.decodeBloom(sketchBytes)
    udf((k: Array[Byte]) => k != null && sketch.mightContain(k)).apply(key)
  }

  private def mergeBlobs(x: Array[Byte], y: Array[Byte], intersect: Boolean): Array[Byte] = {
    val mode = SketchCodec.bloomKeyMode(x)
    require(mode == SketchCodec.bloomKeyMode(y),
      "cannot combine sketches built with different key conventions")
    val merged = SketchCodec.decodeBloom(x).copySketch()
    if (intersect) merged.intersectInPlace(SketchCodec.decodeBloom(y))
    else merged.unionInPlace(SketchCodec.decodeBloom(y))
    SketchCodec.encodeBloom(merged, mode)
  }

  def bloomUnion(a: Column, b: Column): Column =
    udf((x: Array[Byte], y: Array[Byte]) => mergeBlobs(x, y, intersect = false)).apply(a, b)

  def bloomIntersect(a: Column, b: Column): Column =
    udf((x: Array[Byte], y: Array[Byte]) => mergeBlobs(x, y, intersect = true)).apply(a, b)

  /** Shared blob-level kernels of the counting-filter binary/probe
    * functions — ONE implementation behind both the Column API and the
    * SQL registrations below, so the key-mode guards can never drift
    * between the two surfaces (a bytes-keyed blob probed or combined
    * with a native-row-hash one must throw, not silently mis-answer —
    * false negatives included). */
  private def cbfMightContainBlob(s: Array[Byte], k: Array[Byte]): Boolean =
    if (s == null || k == null) false
    else {
      require(SketchCodec.countingBloomKeyMode(s) == SketchCodec.KeyMode.Bytes,
        "counting filter was built with native row-hash keys")
      cbfOf(s).mightContain(k)
    }

  private def cbfCombineBlobs(x: Array[Byte], y: Array[Byte],
      subtract: Boolean): Array[Byte] =
    if (x == null || y == null) null
    else {
      val mode = SketchCodec.countingBloomKeyMode(x)
      require(mode == SketchCodec.countingBloomKeyMode(y),
        "cannot combine counting filters built with different key conventions")
      val a = SketchCodec.decodeCountingBloom(x).copySketch()
      SketchCodec.encodeCountingBloom(
        if (subtract) a.subtractInPlace(SketchCodec.decodeCountingBloom(y))
        else a.mergeInPlace(SketchCodec.decodeCountingBloom(y)), mode)
    }

  /** Probe a counting-Bloom column. Same never-false-negative contract as
    * the bit filters, PROVIDED retractions only ever matched inserts. */
  def cbfMightContain(sketch: Column, key: Column): Column =
    udf(cbfMightContainBlob _).apply(sketch, key)

  /** Broadcast-style counting-filter probe: decode once on the driver,
    * ship the decoded filter in the UDF closure (the bloomProbe shape). */
  def cbfProbe(sketchBytes: Array[Byte])(key: Column): Column = {
    require(SketchCodec.countingBloomKeyMode(sketchBytes) == SketchCodec.KeyMode.Bytes,
      "counting filter was built with native row-hash keys")
    val sketch = SketchCodec.decodeCountingBloom(sketchBytes)
    udf((k: Array[Byte]) => k != null && sketch.mightContain(k)).apply(key)
  }

  /** Collapse a counting-Bloom blob to a PLAIN KM Bloom blob — bit-exact
    * to a filter built over the net (inserted − retracted) multiset when
    * no cell saturated. The bridge into every existing bloom_* probe,
    * union and estimator surface. */
  def cbfToBloom(sketch: Column): Column =
    udf((s: Array[Byte]) =>
      if (s == null) null
      // cbfOf: DecodeCache — a sketch-table scan collapsing the same few
      // blobs over many rows must not re-parse the cell array per row
      // (collapse() reads, never mutates, the cached sketch)
      else SketchCodec.encodeBloom(cbfOf(s).collapse(),
        SketchCodec.countingBloomKeyMode(s))).apply(sketch)

  /** Per-cell floored subtraction of two counting-Bloom blobs — snapshot
    * algebra: `cbfSubtract(inserts, deletes)` yields the net filter when
    * the two sides were built as separate daily/periodic aggregates
    * (exact when no cell saturated; the same finalization
    * CbfAggregator's signed path runs internally). Configs, hash pairs
    * and key conventions must match. */
  def cbfSubtract(a: Column, b: Column): Column =
    udf((x: Array[Byte], y: Array[Byte]) => cbfCombineBlobs(x, y, subtract = true))
      .apply(a, b)

  /** Saturating per-cell merge of two counting-Bloom blobs (the
    * aggregation merge as a query-side binary function, the bloomUnion
    * sibling). */
  def cbfMerge(a: Column, b: Column): Column =
    udf((x: Array[Byte], y: Array[Byte]) => cbfCombineBlobs(x, y, subtract = false))
      .apply(a, b)

  def cbfElementCount(sketch: Column): Column =
    udf((s: Array[Byte]) =>
      if (s == null) null else Double.box(cbfOf(s).approximateElementCount))
      .apply(sketch)

  def bloomElementCount(sketch: Column): Column =
    udf((s: Array[Byte]) => bloomOf(s).approximateElementCount).apply(sketch)

  def bloomFpp(sketch: Column): Column =
    udf((s: Array[Byte]) => bloomOf(s).approximateCurrentFpp).apply(sketch)

  def hllEstimate(sketch: Column): Column =
    udf((s: Array[Byte]) => math.round(hllOf(s).estimate)).apply(sketch)

  def hllMerge(a: Column, b: Column): Column =
    udf((x: Array[Byte], y: Array[Byte]) =>
      SketchCodec.encodeHll(
        SketchCodec.decodeHll(x).copySketch().mergeInPlace(SketchCodec.decodeHll(y))))
      .apply(a, b)

  // theta UDFs guard null blobs (outer joins against sketch tables yield
  // null rows) the same way sketchDescribe/bottomKSampleStrings do —
  // null in ⇒ null out, never an NPE
  def thetaEstimate(sketch: Column): Column =
    udf((s: Array[Byte]) =>
      if (s == null) null else Double.box(SketchCodec.decodeTheta(s).estimate)).apply(sketch)

  def thetaUnion(a: Column, b: Column): Column =
    udf((x: Array[Byte], y: Array[Byte]) =>
      if (x == null || y == null) null
      else SketchCodec.encodeTheta(
        SketchCodec.decodeTheta(x).mergeInPlace(SketchCodec.decodeTheta(y))))
      .apply(a, b)

  /** Distinct count of the intersection — the cardinality analogue of
    * bloomIntersect (reference km_bloom_filter.rs:253–263). */
  def thetaIntersect(a: Column, b: Column): Column =
    udf((x: Array[Byte], y: Array[Byte]) =>
      if (x == null || y == null) null
      else SketchCodec.encodeTheta(
        SketchCodec.decodeTheta(x).intersect(SketchCodec.decodeTheta(y))))
      .apply(a, b)

  /** Distinct count of A \ B — beyond the reference's union/intersect
    * pair (impossible on Bloom bit-state, natural on theta entries). */
  def thetaDifference(a: Column, b: Column): Column =
    udf((x: Array[Byte], y: Array[Byte]) =>
      if (x == null || y == null) null
      else SketchCodec.encodeTheta(
        SketchCodec.decodeTheta(x).difference(SketchCodec.decodeTheta(y))))
      .apply(a, b)

  /** Describe ANY sketch blob (type, config, size, estimates) — the
    * observability column for sketch tables and checkpoints. */
  def sketchDescribe(sketch: Column): Column =
    udf((s: Array[Byte]) => if (s == null) null else SketchCodec.describe(s)).apply(sketch)

  /** Unwrap a bottom-k sample blob into its sampled keys as strings
    * (UTF-8; for binary keys use bottomKSampleBytes). Null blob (e.g.
    * from an outer join against a sketch table) → null, not an NPE. */
  def bottomKSampleStrings(sketch: Column): Column =
    udf((s: Array[Byte]) => if (s == null) null else SketchCodec.decodeBottomK(s).sample
      .map(new String(_, java.nio.charset.StandardCharsets.UTF_8))).apply(sketch)

  def bottomKSampleBytes(sketch: Column): Column =
    udf((s: Array[Byte]) =>
      if (s == null) null else SketchCodec.decodeBottomK(s).sample).apply(sketch)

  /** Unwrap a WEIGHTED bottom-k sample blob into its sampled keys as
    * strings, in race (selection-strength) order. Null blob → null. */
  def weightedSampleStrings(sketch: Column): Column =
    udf((s: Array[Byte]) => if (s == null) null
      else SketchCodec.decodeWeightedBottomK(s).sample
        .map(new String(_, java.nio.charset.StandardCharsets.UTF_8))).apply(sketch)

  /** Unwrap a Misra–Gries blob into (key, est) structs as strings,
    * sorted (est desc, key asc) — `explode` it for a heavy-hitter
    * relation. Null blob → null. */
  def mgHeavyHitters(sketch: Column): Column =
    udf((s: Array[Byte]) => if (s == null) null
      else SketchCodec.decodeMg(s).entries
        .map(e => (new String(e._1, java.nio.charset.StandardCharsets.UTF_8), e._2)))
      .apply(sketch)

  /** The Misra–Gries blob's REALIZED error bound: for every key,
    * trueCount − estimate ≤ this (≤ N/(k+1)). Null blob → null. */
  def mgErrorBound(sketch: Column): Column =
    udf((s: Array[Byte]) =>
      if (s == null) null else Long.box(SketchCodec.decodeMg(s).decrementTotal))
      .apply(sketch)

  def cmsEstimate(sketch: Column, key: Column): Column =
    udf(cmsEstimateBlob _).apply(sketch, key)

  def cmsTotalCount(sketch: Column): Column =
    udf((s: Array[Byte]) => cmsOf(s).totalCount).apply(sketch)

  def tdigestQuantile(sketch: Column, q: Double): Column =
    udf((s: Array[Byte]) => tdigestOf(s).quantile(q)).apply(sketch)

  def kllQuantile(sketch: Column, q: Double): Column =
    udf((s: Array[Byte]) => kllOf(s).quantile(q)).apply(sketch)

  def kllRank(sketch: Column, x: Double): Column =
    udf((s: Array[Byte]) => kllOf(s).rank(x)).apply(sketch)

  /** Register the SQL-facing names (estimates/probes usable from
    * spark.sql). Aggregations need explicit sizing, so SQL registration
    * takes the common defaults. */
  def registerAll(spark: SparkSession, defaultCapacity: Long = 1000000L,
      defaultFpp: Double = 0.001): Unit = {
    Seq[(String, Column => Column)](
      "bloom_agg" -> bloomAgg(defaultCapacity, defaultFpp),
      "hll_agg" -> (hllAgg(_)),
      "cms_agg" -> cmsAgg(0.001, 0.01),
      "tdigest_agg" -> (tdigestAgg(_)),
      "kll_agg" -> (kllAgg(_))
    ).foreach { case (name, agg) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(name, args => {
        require(args.length == 1, s"$name takes one argument")
        B.expression(agg(B.column(args.head)))
      }, "scala_udf")
    }
    spark.udf.register("bloom_might_contain", bloomMightContainBlob _)
    spark.udf.register("bloom_element_count", (s: Array[Byte]) => bloomOf(s).approximateElementCount)
    spark.udf.register("bloom_fpp", (s: Array[Byte]) => bloomOf(s).approximateCurrentFpp)
    spark.udf.register("bloom_union",
      (x: Array[Byte], y: Array[Byte]) => mergeBlobs(x, y, intersect = false))
    spark.udf.register("bloom_intersect",
      (x: Array[Byte], y: Array[Byte]) => mergeBlobs(x, y, intersect = true))
    spark.udf.register("hll_estimate", (s: Array[Byte]) => math.round(hllOf(s).estimate))
    spark.udf.register("cms_estimate", cmsEstimateBlob _)
    spark.udf.register("tdigest_quantile",
      (s: Array[Byte], q: Double) => tdigestOf(s).quantile(q))
    spark.udf.register("kll_quantile", (s: Array[Byte], q: Double) => kllOf(s).quantile(q))
    spark.udf.register("theta_estimate", (s: Array[Byte]) =>
      if (s == null) null else Double.box(SketchCodec.decodeTheta(s).estimate))
    spark.udf.register("theta_intersect", (x: Array[Byte], y: Array[Byte]) =>
      if (x == null || y == null) null
      else SketchCodec.encodeTheta(SketchCodec.decodeTheta(x).intersect(SketchCodec.decodeTheta(y))))
    spark.udf.register("theta_difference", (x: Array[Byte], y: Array[Byte]) =>
      if (x == null || y == null) null
      else SketchCodec.encodeTheta(SketchCodec.decodeTheta(x).difference(SketchCodec.decodeTheta(y))))
    spark.udf.register("theta_union", (x: Array[Byte], y: Array[Byte]) =>
      if (x == null || y == null) null
      else SketchCodec.encodeTheta(
        SketchCodec.decodeTheta(x).mergeInPlace(SketchCodec.decodeTheta(y))))
    spark.udf.register("sketch_describe", (s: Array[Byte]) =>
      if (s == null) null else SketchCodec.describe(s))
    spark.udf.register("bottomk_sample_strings", (s: Array[Byte]) =>
      if (s == null) null else SketchCodec.decodeBottomK(s).sample
        .map(new String(_, java.nio.charset.StandardCharsets.UTF_8)))
    spark.udf.register("weighted_sample_strings", (s: Array[Byte]) =>
      if (s == null) null else SketchCodec.decodeWeightedBottomK(s).sample
        .map(new String(_, java.nio.charset.StandardCharsets.UTF_8)))
    spark.udf.register("cbf_agg",
      udaf(new CbfAggregator(defaultCapacity, defaultFpp)))
    // SQL lambdas route through the SAME guarded kernels as the Column
    // API (cbfMightContainBlob / cbfCombineBlobs): mixing a native-row-
    // hash-built blob with a bytes-keyed one errors instead of silently
    // returning wrong membership
    spark.udf.register("cbf_might_contain", cbfMightContainBlob _)
    spark.udf.register("cbf_to_bloom", (s: Array[Byte]) =>
      if (s == null) null
      else SketchCodec.encodeBloom(cbfOf(s).collapse(),
        SketchCodec.countingBloomKeyMode(s)))
    spark.udf.register("cbf_element_count", (s: Array[Byte]) =>
      if (s == null) null else Double.box(cbfOf(s).approximateElementCount))
    spark.udf.register("cbf_subtract",
      (x: Array[Byte], y: Array[Byte]) => cbfCombineBlobs(x, y, subtract = true))
    spark.udf.register("cbf_merge",
      (x: Array[Byte], y: Array[Byte]) => cbfCombineBlobs(x, y, subtract = false))
  }
}
