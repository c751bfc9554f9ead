package graft.spark

import graft.core.{HLLSketch, KLLSketch, TDigestSketch}
import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge => B}

/** Column API over the native Catalyst sketch expressions. */
package object catalyst {

  /** Build a KM Bloom sketch over the raw key columns (no canonical-string
    * materialization — values are hashed straight from the InternalRow). */
  def bloomAggNative(capacity: Long, fpp: Double)(keys: Column*): Column =
    B.aggColumn(BloomSketchAgg(keys.map(B.expression(_)), capacity, fpp))

  /** Native build with an INJECTED registered hash pair — the reference's
    * `KMBloomFilter<H1, H2>` genericity (km_bloom_filter.rs:46–48) over
    * the raw key columns (functions.bloomAggPair is the same aggregate
    * over one byte key). Custom (unregistered) pairs cannot cross the
    * shuffle codec and are rejected here. */
  def bloomAggNativePair(capacity: Long, fpp: Double,
      pair: graft.core.KMHashPair)(keys: Column*): Column =
    B.aggColumn(BloomSketchAgg(keys.map(B.expression(_)), capacity, fpp,
      registeredId(pair)))

  /** Probe a row-hash Bloom sketch column for the raw key columns. */
  def bloomMightContainNative(sketch: Column, keys: Column*): Column =
    B.column(BloomMightContain(B.expression(sketch), keys.map(B.expression(_))))

  /** Pair-aware probe: the blob's pair id is verified at decode, so a
    * mismatched probe fails fast instead of silently returning garbage. */
  def bloomMightContainNativePair(pair: graft.core.KMHashPair)(
      sketch: Column, keys: Column*): Column =
    B.column(BloomMightContain(B.expression(sketch), keys.map(B.expression(_)),
      registeredId(pair)))

  /** Probe a PER-ROW sketch column (shard tables): `cacheKey` must
    * functionally determine the blob (the shard id) — decode then runs
    * once per distinct key per task, not once per row (see
    * BloomMightContainKeyed). */
  def bloomMightContainKeyed(cacheKey: Column, sketch: Column, keys: Column*): Column =
    B.column(BloomMightContainKeyed(B.expression(cacheKey), B.expression(sketch),
      keys.map(B.expression(_))))

  /** Codegen'd cosine similarity of two array<float> columns (see
    * CosineSim — bit-identical to the zip_with/aggregate form it
    * replaces, minus the per-row allocation and codegen fallback). */
  def cosineNative(a: Column, b: Column): Column =
    B.column(CosineSim(B.expression(a), B.expression(b)))

  /** Nearest-centroid id by cosine against a driver-side codebook — the
    * IVF write-time assignment as one fused zero-allocation expression
    * (see CosineArgmax; ties to the smallest centroid id). */
  def cosineArgmaxNative(embedding: Column,
      centroidIds: Seq[Long], centroids: Seq[Seq[Float]]): Column =
    B.column(CosineArgmax(B.expression(embedding), centroidIds, centroids))

  /** Symmetric int8 quantization of a float embedding to binary (1 B per
    * dimension; the per-vector scale cancels in cosine so none is
    * stored — see QuantizeI8). */
  def quantizeI8(embedding: Column): Column =
    B.column(QuantizeI8(B.expression(embedding)))

  /** Cosine similarity of two QuantizeI8 blobs (integer MAC loop; 4×
    * less scan IO than the float path). */
  def cosineI8(a: Column, b: Column): Column =
    B.column(CosineSimI8(B.expression(a), B.expression(b)))

  /** Product-quantization encode against driver-trained subspace
    * codebooks: dim floats → m code bytes + exact reconstruction norm
    * (see PqEncode / PqKernel.encode). */
  def pqEncodeNative(embedding: Column, books: Seq[Seq[Seq[Float]]]): Column =
    B.column(PqEncode(B.expression(embedding), books))

  /** ADC cosine of a per-query lookup table against a PqEncode blob —
    * m table reads per corpus row, no float decode (see PqAdcCosine). */
  def pqAdcCosineNative(table: Column, codes: Column): Column =
    B.column(PqAdcCosine(B.expression(table), B.expression(codes)))

  /** 42 MinHash band keys of a shingle array (codegen'd; the map-side
    * signature step of LSH near-dup — see MinhashBandKeys). */
  def minhashBandKeys(shingles: Column): Column =
    B.column(MinhashBandKeys(B.expression(shingles)))

  /** 32 SRP band keys of a dense float embedding (codegen'd; the
    * map-side signature step of dense-embedding LSH near-dup — see
    * SrpBandKeys / SrpBandKernel). */
  def srpBandKeysNative(embedding: Column): Column =
    B.column(SrpBandKeys(B.expression(embedding)))

  /** Two-level (coarse → fine) nearest-centroid assignment — the flat
    * argmax's successor past k ≈ 10³ centroids (see
    * CosineArgmaxTwoLevel; probes = coarseK degenerates to the exact
    * flat scan). */
  def cosineArgmaxTwoLevelNative(embedding: Column, centroidIds: Seq[Long],
      centroids: Seq[Seq[Float]], coarseK: Int, probes: Int): Column =
    B.column(CosineArgmaxTwoLevel(B.expression(embedding), centroidIds,
      centroids, coarseK, probes))

  private[spark] def registeredId(pair: graft.core.KMHashPair): Byte = {
    require(pair.id >= 0,
      s"hash pair '$pair' is not registered — only KMHashPair.registered " +
        "pairs can cross the shuffle codec (give the pair a stable id)")
    pair.id
  }

  def hllAggNative(keys: Column*): Column =
    B.aggColumn(HllSketchAgg(keys.map(B.expression(_))))

  def hllAggNativeP(p: Int)(keys: Column*): Column =
    B.aggColumn(HllSketchAgg(keys.map(B.expression(_)), p))

  /** Theta (KMV) sketch over the raw key columns: distinct counts that
    * survive union, intersection, and difference (see functions.theta*). */
  def thetaAggNative(keys: Column*): Column =
    B.aggColumn(ThetaSketchAgg(keys.map(B.expression(_))))

  def thetaAggNativeK(k: Int)(keys: Column*): Column =
    B.aggColumn(ThetaSketchAgg(keys.map(B.expression(_)), k))

  def cmsAggNative(eps: Double, delta: Double)(keys: Column*): Column =
    B.aggColumn(CmsSketchAgg(keys.map(B.expression(_)), eps, delta))

  def cmsEstimateNative(sketch: Column, keys: Column*): Column =
    B.column(CmsEstimate(B.expression(sketch), keys.map(B.expression(_))))

  def tdigestAggNative(value: Column,
      compression: Double = TDigestSketch.DefaultCompression): Column =
    B.aggColumn(TDigestSketchAgg(B.expression(value), compression))

  def kllAggNative(value: Column, k: Int = KLLSketch.DefaultK): Column =
    B.aggColumn(KllSketchAgg(B.expression(value), k))

  /** Deterministic bottom-k uniform sample of a string/binary column's
    * distinct values (merge-order-independent; same sample at any
    * parallelism — the eval-split primitive). */
  def bottomKSampleAgg(k: Int)(key: Column): Column =
    B.aggColumn(BottomKSampleAgg(B.expression(key), k))

  /** Deterministic WEIGHTED bottom-k sample of a string/binary column's
    * distinct values (A-ES race keys over the key's own hash: inclusion
    * probability ≈ k·w/Σw, merge-order-independent, same sample at any
    * parallelism — the weighted training-mix primitive). The weight must
    * be a pure function of the key, finite and > 0. */
  def weightedBottomKSampleAgg(k: Int)(key: Column, weight: Column): Column =
    B.aggColumn(WeightedBottomKSampleAgg(
      B.expression(key), B.expression(weight.cast("double")), k))

  /** Misra–Gries heavy hitters of a string/binary column: at most k
    * (key, count) entries, undercount-only, every key with frequency
    * > N/(k+1) guaranteed present (deterministic — no probabilities). */
  def mgAgg(k: Int)(key: Column): Column =
    B.aggColumn(MgSketchAgg(B.expression(key), k))

  /** Fold a column of sketch blobs into one blob (hierarchical rollup /
    * two-stage salted aggregation / incremental union). Works for every
    * sketch type in the codec. */
  def sketchMergeAgg(blob: Column): Column =
    B.aggColumn(SketchMergeAgg(B.expression(blob)))

  /** Sharded build of GLOBAL (full-config) sketch blobs — the shape
    * every one-blob build must take at 10^12 turns. A narrow
    * `coalesce(shards)` groups the input partitions into at most
    * `shards` tasks, and each task folds all of its rows straight into
    * ONE full-size partial buffer: there are ≤ `shards` partial buffers,
    * never one per input partition (a bare `df.agg(bloomAgg(...))`
    * allocates a full-size buffer per input partition and funnels every
    * merge through one reducer: measured 0.11 scaling efficiency,
    * BENCH.md). No row is shuffled. The only exchange carries the ≤
    * `shards` encoded buffers to the final step, which decodes each
    * once, unions it in and encodes the result once — one merged row
    * ever exists, nothing per-shard reaches the driver.
    *
    * Parallelism is min(input partitions, `shards`), and the coalesce
    * is narrow: the work between it and the last exchange or scan below
    * (a window, a join's reduce side) runs in those tasks too. An input
    * that arrives in fewer partitions than there are cores, or that
    * carries heavy narrow work, should be repartitioned or cached
    * upstream. At the 10^12-turn sizing (256 shards over
    * far more input partitions) this beats a hash shuffle of the rows:
    * that shuffle writes and reads every key once more to bound the
    * same buffer count, and a skewed shard key makes its slowest shard
    * the stage's wall time, while a coalesce moves no row and gives each
    * task a whole number of input partitions.
    *
    * All agg columns must produce codec blobs (byte-key or row-hash; key
    * conventions are preserved per column). Returns the one-row frame of
    * blobs under the given names. Because sketch union is
    * commutative/associative, ANY grouping of the input yields the blob a
    * one-shot `df.agg(…)` builds, byte for byte (reference union law,
    * km_bloom_filter.rs:184–194; Agarwal et al., "Mergeable Summaries"). */
  def shardedSketchBlobs(df: DataFrame, shards: Int)(
      aggs: (String, Column)*): DataFrame = {
    import org.apache.spark.sql.functions.{count, lit, raise_error, when}
    // a global aggregate over zero rows still yields a row of empty
    // sketches — surface that as a meaningful error HERE, once, instead
    // of a silently empty filter in every caller's probe
    val rows = count(lit(1))
    val cols = aggs.map { case (nm, c) =>
      when(rows > 0, c)
        .otherwise(raise_error(lit(s"sharded build '$nm' over an empty input produced no sketch")))
        .as(nm)
    }
    df.coalesce(shards).agg(cols.head, cols.tail: _*)
  }

  /** [[shardedSketchBlobs(df, shards)]] with an ignored shard key. */
  @deprecated("the shard key is unused: call shardedSketchBlobs(df, shards)(aggs*)", "0.1.0")
  def shardedSketchBlobs(df: DataFrame, shards: Int, shardOn: Column)(
      aggs: (String, Column)*): DataFrame = shardedSketchBlobs(df, shards)(aggs: _*)

  /** Probe a SHARD TABLE of row-hash Bloom filters WITHOUT ever merging
    * it — the query shape that actually exists at 10^12 turns, where the
    * global filter is never one object (65k shards × 27 MB; merging it
    * is exactly the driver-pull this library avoids). Each probe row is
    * routed to its shard by the SAME shard function the build used, the
    * shard table joins in (broadcast while it fits — Spark picks it for
    * a small sketch table; co-partitioned shuffle join beyond that), and
    * only that shard's filter is tested. Returns the probe rows that
    * might be contained (zero false negatives per shard, reference
    * lib.rs:207–208; FP rate = the per-shard configured fpp).
    *
    * `shardTable` must carry (`shardCol`: long, `sketchCol`: row-hash
    * Bloom blob); `shardOn` must reproduce the build's shard key and
    * `keys` its sketch key columns. */
  def probeShardTable(shardTable: DataFrame, shardCol: String, sketchCol: String,
      numShards: Int, probes: DataFrame, shardOn: Column, keys: Column*): DataFrame = {
    import org.apache.spark.sql.functions.col
    // The keyed probe makes decode once-per-shard-per-task regardless of
    // join strategy: the blob column is a fresh byte[] per row out of
    // the UnsafeRow (no identity memo can hit), so the shard id is the
    // per-row-cheap cache key. No explicit repartition — past the
    // broadcast threshold the join co-partitions by shard on its own.
    val routed = probes.withColumn("__graft_probe_shard", saltBucket(numShards, shardOn))
    routed
      .join(shardTable.select(col(shardCol).as("__graft_probe_shard"), col(sketchCol)),
        Seq("__graft_probe_shard"), "left")
      .filter(bloomMightContainKeyed(col("__graft_probe_shard"), col(sketchCol), keys: _*))
      .drop("__graft_probe_shard", sketchCol)
  }

  /** Skew salt: a deterministic bucket in [0, buckets) derived from the
    * salt columns. Standard two-stage pattern:
    *   df.groupBy($"hotKey", saltBucket(buckets, $"row_discriminator"))
    *     .agg(hllAggNative(...).as("s"))
    *     .groupBy($"hotKey").agg(sketchMergeAgg($"s"))
    * Stage 1 spreads a hot key across `buckets` reducers; stage 2 merges
    * tiny blobs. */
  def saltBucket(buckets: Int, cols: Column*): Column =
    org.apache.spark.sql.functions.pmod(
      org.apache.spark.sql.functions.xxhash64(cols: _*),
      org.apache.spark.sql.functions.lit(buckets.toLong))
}
