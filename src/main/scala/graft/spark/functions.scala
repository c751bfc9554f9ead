package graft.spark

import graft.core._
import graft.spark.catalyst.{BloomSketchAgg, CbfSketchAgg, CmsSketchAgg, HllSketchAgg,
  SeededBloomSketchAgg, SketchKey}
import org.apache.spark.sql.{Column, SparkSession, GraftSqlBridge => B}
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, IsNotNull, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import java.util.concurrent.ConcurrentHashMap

/** Column-level sketch API: aggregation columns + scalar probe/estimator
  * functions (SURVEY.md §2.1 #7, #10, #14–16 mapped to Spark).
  *
  * Scalar functions are Scala UDFs over BinaryType sketch blobs, one
  * UserDefinedFunction value each, shared with their SQL names; a
  * per-executor decode cache keeps per-row probes from re-decoding the
  * same multi-KB blob (the common case: one sketch value joined or
  * broadcast against millions of probe rows). Aggregations are the
  * graft.spark.catalyst aggregates over one binary key (KeyMode.Bytes) →
  * ObjectHashAggregate with partial/final merge (= reference
  * insert/union), the seeded Bloom and the signed counting filter
  * included.
  */
object functions {

  /** Canonical binary key of a column tuple, built by ONE codegen'd
    * expression (catalyst.SketchKey) that writes each part's bytes once:
    *   - each column is cast to string (kept at the Column level, so the
    *     analyzer resolves time zones); a cast of an integral column is
    *     written as its decimal digits without building a string;
    *   - a null part is `\u0002NULL\u0003`, so (null, "x") and ("x", null)
    *     stay distinct;
    *   - parts are joined by 0x01 (never in the testdata keys); zero
    *     columns give the empty key.
    * The bytes are the UTF-8 of that string, checked in one pass over the
    * whole key: malformed UTF-8 inside a part (a binary column cast to
    * string) becomes U+FFFD exactly as `encode(…, 'UTF-8')` makes it, so
    * the bytes equal the former `encode(concat_ws(…), 'UTF-8')` key for
    * every input. The key is never null, so the aggregates' null-key
    * FILTER folds away. */
  def sketchKey(cols: Column*): Column =
    B.column(SketchKey(cols.map(c => B.expression(c.cast("string")))))

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
    byteKeyAgg(key)(k => SeededBloomSketchAgg(Seq(k), capacity, fpp))

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
    * positive multiplicities insert, negative retract, 0 or null is
    * skipped — the DELETION surface neither reference filter variant has.
    * Commutative in any merge/arrival order (see CbfSketchAgg).
    * `cbfAgg(...)(key)` with no sign column is plain insertion
    * (multiplicity 1/row). The default is an expression-backed column:
    * SQL `cbf_agg(key)` hands this aggregate straight to the analyzer,
    * which does not convert a nested `lit(1L)` column node. */
  def cbfAgg(capacity: Long, fpp: Double)(key: Column,
      multiplicity: Column = B.column(Literal(1L))): Column =
    byteKeyAgg(key)(k => CbfSketchAgg(k, Cast(B.expression(multiplicity), LongType), capacity, fpp))

  // --------------------------------------------------------- decode cache
  /** Executor-local decoded-sketch cache keyed by (length, xxhash) of the
    * blob. Bounded; cleared wholesale on overflow (sketch-table
    * cardinality is shards/groups — small by design). */
  private object DecodeCache {
    private val MaxEntries = 1024
    private val m = new ConcurrentHashMap[(Int, Long), AnyRef]()
    def get[T <: AnyRef](bytes: Array[Byte], decode: Array[Byte] => T): T = {
      val key = (bytes.length, Hashing.xxHash64(bytes, 0L))
      var v = m.get(key)
      if (v == null) {
        v = decode(bytes)
        if (m.size >= MaxEntries) m.clear()
        m.put(key, v)
      }
      v.asInstanceOf[T]
    }
  }

  private def bloomOf(b: Array[Byte]): BloomSketch = DecodeCache.get(b, SketchCodec.decodeBloom)
  private def hllOf(b: Array[Byte]): HLLSketch = DecodeCache.get(b, SketchCodec.decodeHll)
  private def cmsOf(b: Array[Byte]): CMSSketch = DecodeCache.get(b, SketchCodec.decodeCms)
  private def tdigestOf(b: Array[Byte]): TDigestSketch = DecodeCache.get(b, SketchCodec.decodeTDigest)
  private def kllOf(b: Array[Byte]): KLLSketch = DecodeCache.get(b, SketchCodec.decodeKll)
  private def cbfOf(b: Array[Byte]): CountingBloomSketch =
    DecodeCache.get(b, SketchCodec.decodeCountingBloom)

  // ----------------------------------------------------- scalar functions
  // Each scalar is ONE UserDefinedFunction value: the Column API applies
  // it and registerAll registers the same value under its SQL name, so
  // the two surfaces — key-mode guards included — cannot drift. Spark
  // does not null-guard Array[Byte] inputs, so every blob kernel maps a
  // null blob (outer joins against sketch tables yield null rows) to
  // null, never an NPE; the membership probes answer false.

  /** Byte-key probes are only valid against byte-key-built sketches —
    * probing a native row-hash sketch here would be silent zero-FN loss
    * (and mixing conventions in a binary function would mis-answer). */
  private def requireBytesMode(blob: Array[Byte]): Unit =
    require(SketchCodec.bloomKeyMode(blob) == SketchCodec.KeyMode.Bytes,
      "sketch was built with native row-hash keys; probe it with graft.spark.catalyst")
  private def requireCbfBytesMode(blob: Array[Byte]): Unit =
    require(SketchCodec.countingBloomKeyMode(blob) == SketchCodec.KeyMode.Bytes,
      "counting filter was built with native row-hash keys")

  private def bloomCombine(intersect: Boolean) = udf((x: Array[Byte], y: Array[Byte]) =>
    if (x == null || y == null) null
    else {
      val mode = SketchCodec.bloomKeyMode(x)
      require(mode == SketchCodec.bloomKeyMode(y),
        "cannot combine sketches built with different key conventions")
      val merged = SketchCodec.decodeBloom(x).copySketch()
      if (intersect) merged.intersectInPlace(SketchCodec.decodeBloom(y))
      else merged.unionInPlace(SketchCodec.decodeBloom(y))
      SketchCodec.encodeBloom(merged, mode)
    })

  private def cbfCombine(subtract: Boolean) = udf((x: Array[Byte], y: Array[Byte]) =>
    if (x == null || y == null) null
    else {
      val mode = SketchCodec.countingBloomKeyMode(x)
      require(mode == SketchCodec.countingBloomKeyMode(y),
        "cannot combine counting filters built with different key conventions")
      val a = SketchCodec.decodeCountingBloom(x).copySketch()
      SketchCodec.encodeCountingBloom(
        if (subtract) a.subtractInPlace(SketchCodec.decodeCountingBloom(y))
        else a.mergeInPlace(SketchCodec.decodeCountingBloom(y)), mode)
    })

  private def thetaCombine(op: (ThetaSketch, ThetaSketch) => ThetaSketch) =
    udf((x: Array[Byte], y: Array[Byte]) =>
      if (x == null || y == null) null
      else SketchCodec.encodeTheta(op(SketchCodec.decodeTheta(x), SketchCodec.decodeTheta(y))))

  private def utf8(keys: Array[Array[Byte]]): Array[String] =
    keys.map(new String(_, java.nio.charset.StandardCharsets.UTF_8))

  private lazy val bloomMightContainUdf = udf((s: Array[Byte], k: Array[Byte]) =>
    s != null && k != null && { requireBytesMode(s); bloomOf(s).mightContain(k) })
  private lazy val bloomElementCountUdf = udf((s: Array[Byte]) =>
    if (s == null) null else Double.box(bloomOf(s).approximateElementCount))
  private lazy val bloomFppUdf = udf((s: Array[Byte]) =>
    if (s == null) null else Double.box(bloomOf(s).approximateCurrentFpp))
  private lazy val bloomUnionUdf = bloomCombine(intersect = false)
  private lazy val bloomIntersectUdf = bloomCombine(intersect = true)
  private lazy val hllEstimateUdf = udf((s: Array[Byte]) =>
    if (s == null) null else Long.box(math.round(hllOf(s).estimate)))
  private lazy val hllMergeUdf = udf((x: Array[Byte], y: Array[Byte]) =>
    if (x == null || y == null) null
    else SketchCodec.encodeHll(
      SketchCodec.decodeHll(x).copySketch().mergeInPlace(SketchCodec.decodeHll(y))))
  private lazy val cmsEstimateUdf = udf((s: Array[Byte], k: Array[Byte]) =>
    if (s == null) null
    else {
      require(SketchCodec.cmsKeyMode(s) == SketchCodec.KeyMode.Bytes,
        "CMS was built with native row-hash keys; query it with graft.spark.catalyst")
      Long.box(cmsOf(s).estimate(k))
    })
  private lazy val cmsTotalCountUdf = udf((s: Array[Byte]) =>
    if (s == null) null else Long.box(cmsOf(s).totalCount))
  private lazy val tdigestQuantileUdf = udf((s: Array[Byte], q: Double) =>
    if (s == null) null else Double.box(tdigestOf(s).quantile(q)))
  private lazy val kllQuantileUdf = udf((s: Array[Byte], q: Double) =>
    if (s == null) null else Double.box(kllOf(s).quantile(q)))
  private lazy val kllRankUdf = udf((s: Array[Byte], x: Double) =>
    if (s == null) null else Double.box(kllOf(s).rank(x)))
  private lazy val thetaEstimateUdf = udf((s: Array[Byte]) =>
    if (s == null) null else Double.box(SketchCodec.decodeTheta(s).estimate))
  private lazy val thetaUnionUdf = thetaCombine(_.mergeInPlace(_))
  private lazy val thetaIntersectUdf = thetaCombine(_.intersect(_))
  private lazy val thetaDifferenceUdf = thetaCombine(_.difference(_))
  private lazy val sketchDescribeUdf = udf((s: Array[Byte]) =>
    if (s == null) null else SketchCodec.describe(s))
  private lazy val bottomKSampleStringsUdf = udf((s: Array[Byte]) =>
    if (s == null) null else utf8(SketchCodec.decodeBottomK(s).sample))
  private lazy val bottomKSampleBytesUdf = udf((s: Array[Byte]) =>
    if (s == null) null else SketchCodec.decodeBottomK(s).sample)
  private lazy val weightedSampleStringsUdf = udf((s: Array[Byte]) =>
    if (s == null) null else utf8(SketchCodec.decodeWeightedBottomK(s).sample))
  private lazy val mgHeavyHittersUdf = udf((s: Array[Byte]) =>
    if (s == null) null
    else SketchCodec.decodeMg(s).entries
      .map(e => (new String(e._1, java.nio.charset.StandardCharsets.UTF_8), e._2)))
  private lazy val mgErrorBoundUdf = udf((s: Array[Byte]) =>
    if (s == null) null else Long.box(SketchCodec.decodeMg(s).decrementTotal))
  private lazy val cbfMightContainUdf = udf((s: Array[Byte], k: Array[Byte]) =>
    s != null && k != null && { requireCbfBytesMode(s); cbfOf(s).mightContain(k) })
  // cbfOf: DecodeCache — a sketch-table scan collapsing the same few
  // blobs over many rows must not re-parse the cell array per row
  // (collapse() reads, never mutates, the cached sketch)
  private lazy val cbfToBloomUdf = udf((s: Array[Byte]) =>
    if (s == null) null
    else SketchCodec.encodeBloom(cbfOf(s).collapse(), SketchCodec.countingBloomKeyMode(s)))
  private lazy val cbfElementCountUdf = udf((s: Array[Byte]) =>
    if (s == null) null else Double.box(cbfOf(s).approximateElementCount))
  private lazy val cbfSubtractUdf = cbfCombine(subtract = true)
  private lazy val cbfMergeUdf = cbfCombine(subtract = false)

  /** Probe a sketch column (per-shard sketch tables). For probing ONE
    * sketch against a big table prefer [[bloomProbe]] (broadcast form). */
  def bloomMightContain(sketch: Column, key: Column): Column = bloomMightContainUdf(sketch, key)

  /** Broadcast-style probe: decode once on the driver, ship the decoded
    * sketch in the UDF closure (classic Bloom semi-join reduction). */
  def bloomProbe(sketchBytes: Array[Byte])(key: Column): Column = {
    requireBytesMode(sketchBytes)
    val sketch = SketchCodec.decodeBloom(sketchBytes)
    udf((k: Array[Byte]) => k != null && sketch.mightContain(k)).apply(key)
  }

  def bloomUnion(a: Column, b: Column): Column = bloomUnionUdf(a, b)
  def bloomIntersect(a: Column, b: Column): Column = bloomIntersectUdf(a, b)
  def bloomElementCount(sketch: Column): Column = bloomElementCountUdf(sketch)
  def bloomFpp(sketch: Column): Column = bloomFppUdf(sketch)

  /** Probe a counting-Bloom column. Same never-false-negative contract as
    * the bit filters, PROVIDED retractions only ever matched inserts. */
  def cbfMightContain(sketch: Column, key: Column): Column = cbfMightContainUdf(sketch, key)

  /** Broadcast-style counting-filter probe: decode once on the driver,
    * ship the decoded filter in the UDF closure (the bloomProbe shape). */
  def cbfProbe(sketchBytes: Array[Byte])(key: Column): Column = {
    requireCbfBytesMode(sketchBytes)
    val sketch = SketchCodec.decodeCountingBloom(sketchBytes)
    udf((k: Array[Byte]) => k != null && sketch.mightContain(k)).apply(key)
  }

  /** Collapse a counting-Bloom blob to a PLAIN KM Bloom blob — bit-exact
    * to a filter built over the net (inserted − retracted) multiset when
    * no cell saturated. The bridge into every existing bloom_* probe,
    * union and estimator surface. */
  def cbfToBloom(sketch: Column): Column = cbfToBloomUdf(sketch)

  /** Per-cell floored subtraction of two counting-Bloom blobs — snapshot
    * algebra: `cbfSubtract(inserts, deletes)` yields the net filter when
    * the two sides were built as separate daily/periodic aggregates
    * (exact when no cell saturated; the same finalization
    * CbfSketchAgg's signed path runs internally). Configs, hash pairs
    * and key conventions must match. */
  def cbfSubtract(a: Column, b: Column): Column = cbfSubtractUdf(a, b)

  /** Saturating per-cell merge of two counting-Bloom blobs (the
    * aggregation merge as a query-side binary function, the bloomUnion
    * sibling). */
  def cbfMerge(a: Column, b: Column): Column = cbfMergeUdf(a, b)

  def cbfElementCount(sketch: Column): Column = cbfElementCountUdf(sketch)

  def hllEstimate(sketch: Column): Column = hllEstimateUdf(sketch)
  def hllMerge(a: Column, b: Column): Column = hllMergeUdf(a, b)

  def thetaEstimate(sketch: Column): Column = thetaEstimateUdf(sketch)
  def thetaUnion(a: Column, b: Column): Column = thetaUnionUdf(a, b)

  /** Distinct count of the intersection — the cardinality analogue of
    * bloomIntersect (reference km_bloom_filter.rs:253–263). */
  def thetaIntersect(a: Column, b: Column): Column = thetaIntersectUdf(a, b)

  /** Distinct count of A \ B — beyond the reference's union/intersect
    * pair (impossible on Bloom bit-state, natural on theta entries). */
  def thetaDifference(a: Column, b: Column): Column = thetaDifferenceUdf(a, b)

  /** Describe ANY sketch blob (type, config, size, estimates) — the
    * observability column for sketch tables and checkpoints. */
  def sketchDescribe(sketch: Column): Column = sketchDescribeUdf(sketch)

  /** Unwrap a bottom-k sample blob into its sampled keys as strings
    * (UTF-8; for binary keys use bottomKSampleBytes). */
  def bottomKSampleStrings(sketch: Column): Column = bottomKSampleStringsUdf(sketch)
  def bottomKSampleBytes(sketch: Column): Column = bottomKSampleBytesUdf(sketch)

  /** Unwrap a WEIGHTED bottom-k sample blob into its sampled keys as
    * strings, in race (selection-strength) order. */
  def weightedSampleStrings(sketch: Column): Column = weightedSampleStringsUdf(sketch)

  /** Unwrap a Misra–Gries blob into (key, est) structs as strings,
    * sorted (est desc, key asc) — `explode` it for a heavy-hitter
    * relation. */
  def mgHeavyHitters(sketch: Column): Column = mgHeavyHittersUdf(sketch)

  /** The Misra–Gries blob's REALIZED error bound: for every key,
    * trueCount − estimate ≤ this (≤ N/(k+1)). */
  def mgErrorBound(sketch: Column): Column = mgErrorBoundUdf(sketch)

  def cmsEstimate(sketch: Column, key: Column): Column = cmsEstimateUdf(sketch, key)
  def cmsTotalCount(sketch: Column): Column = cmsTotalCountUdf(sketch)
  def tdigestQuantile(sketch: Column, q: Double): Column = tdigestQuantileUdf(sketch, lit(q))
  def kllQuantile(sketch: Column, q: Double): Column = kllQuantileUdf(sketch, lit(q))
  def kllRank(sketch: Column, x: Double): Column = kllRankUdf(sketch, lit(x))

  /** Register the SQL-facing names (estimates/probes usable from
    * spark.sql). Aggregations need explicit sizing, so SQL registration
    * takes the common defaults. */
  def registerAll(spark: SparkSession, defaultCapacity: Long = 1000000L,
      defaultFpp: Double = 0.001): Unit = {
    Seq[(String, PartialFunction[Seq[Column], Column])](
      "bloom_agg" -> { case Seq(k) => bloomAgg(defaultCapacity, defaultFpp)(k) },
      "hll_agg" -> { case Seq(k) => hllAgg(k) },
      "cms_agg" -> { case Seq(k) => cmsAgg(0.001, 0.01)(k) },
      "tdigest_agg" -> { case Seq(v) => tdigestAgg(v) },
      "kll_agg" -> { case Seq(v) => kllAgg(v) },
      "cbf_agg" -> {
        case Seq(k) => cbfAgg(defaultCapacity, defaultFpp)(k)
        case Seq(k, m) => cbfAgg(defaultCapacity, defaultFpp)(k, m)
      }
    ).foreach { case (name, agg) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(name, args => {
        val cols = args.map(B.column)
        require(agg.isDefinedAt(cols), s"$name: wrong number of arguments (${args.length})")
        B.expression(agg(cols))
      }, "scala_udf")
    }
    Seq(
      "bloom_might_contain" -> bloomMightContainUdf,
      "bloom_element_count" -> bloomElementCountUdf,
      "bloom_fpp" -> bloomFppUdf,
      "bloom_union" -> bloomUnionUdf,
      "bloom_intersect" -> bloomIntersectUdf,
      "hll_estimate" -> hllEstimateUdf,
      "cms_estimate" -> cmsEstimateUdf,
      "tdigest_quantile" -> tdigestQuantileUdf,
      "kll_quantile" -> kllQuantileUdf,
      "theta_estimate" -> thetaEstimateUdf,
      "theta_intersect" -> thetaIntersectUdf,
      "theta_difference" -> thetaDifferenceUdf,
      "theta_union" -> thetaUnionUdf,
      "sketch_describe" -> sketchDescribeUdf,
      "bottomk_sample_strings" -> bottomKSampleStringsUdf,
      "weighted_sample_strings" -> weightedSampleStringsUdf,
      "cbf_might_contain" -> cbfMightContainUdf,
      "cbf_to_bloom" -> cbfToBloomUdf,
      "cbf_element_count" -> cbfElementCountUdf,
      "cbf_subtract" -> cbfSubtractUdf,
      "cbf_merge" -> cbfMergeUdf
    ).foreach { case (name, f) => spark.udf.register(name, f) }
  }
}
