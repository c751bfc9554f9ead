package graft.core

/** Counting Bloom filter — DELETION support, the one membership operation
  * neither reference variant offers (both are insert-only by design: a
  * plain bit cannot be unset once it may be shared — reference
  * `/root/reference/src/lib.rs:180–234` has no remove). Cells are 8-bit
  * SATURATING counters over the SAME Kirsch–Mitzenmacher double-hashing
  * index space as [[KMBloomSketch]] (km_bloom_filter.rs:287–290): same
  * sizing formulas, same per-hasher segments, same injected hash pair —
  * so the reference's FPR analysis carries over verbatim and
  * [[collapse]] to the plain bit filter is BIT-EXACT.
  *
  * Contract (Fan, Cao, Almeida, Broder, "Summary Cache", ToN 2000 — the
  * counting-Bloom original; PAPERS.md):
  *  - `remove` may only be issued for an element actually inserted (and
  *    at most as many times as it was inserted). Under that contract
  *    there are NEVER false negatives: a saturated cell (255) becomes
  *    STICKY — it is never decremented — so counter overflow degrades
  *    the FPR (a stuck-on cell), never correctness. The classic 4-bit
  *    layout overflows at 16 (p(overflow) ≈ 1.37e-15 · m for optimal k);
  *    we spend 8 bits — overflow is practically unreachable and the
  *    arithmetic stays byte-aligned.
  *  - merge = per-cell saturating add: associative AND commutative
  *    (saturating addition of non-negative values is both — max(255, ·)
  *    absorbs), so any Spark partial/final merge tree yields the same
  *    state. Remove does NOT commute with merge across filters (deleting
  *    in shard A an element inserted in shard B under-flows A's cells);
  *    the distributed retraction shape is the SIGNED aggregation
  *    (`graft.spark.functions.cbfAgg` on `catalyst.CbfSketchAgg`), which
  *    adds inserts and retractions into two separate filters and
  *    subtracts once at finalization ([[subtractInPlace]]).
  *  - `mightContain` = all k cells non-zero (short-circuit on first zero,
  *    the km_bloom_filter.rs:326–333 probe shape).
  */
final class CountingBloomSketch(val config: BloomConfig,
    val cells: Array[Byte], val hashers: KMHashPair = KMHashPair.XxMurmur)
    extends Serializable {

  require(cells.length.toLong == config.totalBits,
    s"cell array length ${cells.length} != configured cells ${config.totalBits}")

  private[this] val k = config.numberOfHashers
  private[this] val bph = config.bitsPerHasher

  def hasherId: Byte = hashers.id

  @inline private def idx(i: Int, g: Long): Int =
    (i.toLong * bph + java.lang.Long.remainderUnsigned(g, bph)).toInt

  /** Insert by precomputed base hashes (hot path for the Spark layer). */
  def insertHashes(h1: Long, h2: Long): Unit = {
    var i = 0
    while (i < k) {
      val j = idx(i, h1 + i.toLong * h2)
      if (cells(j) != -1) cells(j) = (cells(j) + 1).toByte // saturate at 255
      i += 1
    }
  }

  /** Remove by precomputed base hashes. Only legal for elements actually
    * inserted (class doc); saturated cells are sticky, zero cells are
    * left at zero (a floor hit means the caller broke the contract —
    * flooring keeps the damage local instead of corrupting the array). */
  def removeHashes(h1: Long, h2: Long): Unit = {
    var i = 0
    while (i < k) {
      val j = idx(i, h1 + i.toLong * h2)
      if (cells(j) != -1 && cells(j) != 0) cells(j) = (cells(j) - 1).toByte
      i += 1
    }
  }

  def mightContainHashes(h1: Long, h2: Long): Boolean = {
    var i = 0
    while (i < k) {
      if (cells(idx(i, h1 + i.toLong * h2)) == 0) return false
      i += 1
    }
    true
  }

  @inline private def baseHashes(bytes: Array[Byte]): (Long, Long) =
    (hashers.h1(bytes), hashers.h2(bytes))

  def insert(bytes: Array[Byte]): Unit = {
    val (h1, h2) = baseHashes(bytes); insertHashes(h1, h2)
  }
  def remove(bytes: Array[Byte]): Unit = {
    val (h1, h2) = baseHashes(bytes); removeHashes(h1, h2)
  }
  def mightContain(bytes: Array[Byte]): Boolean = {
    val (h1, h2) = baseHashes(bytes); mightContainHashes(h1, h2)
  }

  @inline def insert(s: String): Unit = insert(Hashing.utf8(s))
  @inline def remove(s: String): Unit = remove(Hashing.utf8(s))
  @inline def mightContain(s: String): Boolean = mightContain(Hashing.utf8(s))

  /** In-place merge: per-cell saturating add (associative + commutative ⇒
    * legal as Spark's partial/final aggregation merge in any tree order).
    * Same compatibility guard as the bit filters (km_bloom_filter.rs:
    * 185–187 panic + the hasherId seam BloomSketch.requireCompatible
    * documents). */
  def mergeInPlace(other: CountingBloomSketch): this.type = {
    require(hasherId == other.hasherId,
      s"cannot merge counting filters built with different hash pairs " +
        s"($hasherId vs ${other.hasherId})")
    require(config.eqConfiguration(other.config),
      "unable to merge counting filters with different configurations " +
        s"(k=${config.numberOfHashers},bph=${config.bitsPerHasher}) vs " +
        s"(k=${other.config.numberOfHashers},bph=${other.config.bitsPerHasher})")
    var j = 0
    while (j < cells.length) {
      val s = (cells(j) & 0xff) + (other.cells(j) & 0xff)
      cells(j) = (if (s > 255) 255 else s).toByte
      j += 1
    }
    this
  }

  /** Per-cell FLOORED subtraction — the finalization step of the signed
    * aggregation path (`catalyst.CbfSketchAgg`): inserts and
    * retractions are aggregated into two separate filters (each a
    * commutative monoid under saturating add, so any merge tree is
    * legal), and the net filter is computed ONCE here. Exact whenever
    * neither side saturated; under the remove-only-inserted contract the
    * floor is never hit. */
  def subtractInPlace(other: CountingBloomSketch): this.type = {
    require(hasherId == other.hasherId && config.eqConfiguration(other.config),
      "unable to subtract counting filters with different configurations/pairs")
    var j = 0
    while (j < cells.length) {
      val d = (cells(j) & 0xff) - (other.cells(j) & 0xff)
      cells(j) = (if (d < 0) 0 else d).toByte
      j += 1
    }
    this
  }

  /** Collapse to the plain KM bit filter: bit j set ⟺ cell j > 0.
    * BIT-EXACT to a [[KMBloomSketch]] built over the same surviving
    * multiset when no cell ever saturated (integer cell counts are then
    * exactly the per-cell hit counts, so cell>0 ⟺ some survivor hits it).
    * The bridge into every existing probe/union/estimator surface. */
  def collapse(): KMBloomSketch = {
    val bits = BitArray(config.totalBits)
    var j = 0
    while (j < cells.length) {
      if (cells(j) != 0) bits.set(j.toLong)
      j += 1
    }
    new KMBloomSketch(config, bits, hashers)
  }

  def countNonZero: Long = {
    var n = 0L; var j = 0
    while (j < cells.length) { if (cells(j) != 0) n += 1; j += 1 }
    n
  }

  /** n* / fpp* via the shared estimators (reference lib.rs:254–274) over
    * the collapsed occupancy — the counting filter occupies exactly the
    * cells the equivalent bit filter would. */
  def approximateElementCount: Double =
    BloomConfig.approximateElementCount(k, bph, countNonZero)
  def approximateCurrentFpp: Double =
    BloomConfig.approximateFpp(k, bph, countNonZero)

  def copySketch(): CountingBloomSketch =
    new CountingBloomSketch(config, cells.clone(), hashers)

  override def toString: String =
    s"CountingBloomSketch(k=$k, bph=$bph, occupied=$countNonZero, " +
      f"n*=$approximateElementCount%.1f)"

  override def equals(o: Any): Boolean = o match {
    case c: CountingBloomSketch =>
      c.hasherId == hasherId && c.config.eqConfiguration(config) &&
        java.util.Arrays.equals(c.cells, cells)
    case _ => false
  }
  override def hashCode: Int =
    java.util.Arrays.hashCode(cells) * 31 + hasherId
}

object CountingBloomSketch {
  def apply(capacity: Long, fpp: Double): CountingBloomSketch =
    apply(BloomConfig(capacity, fpp))
  def apply(capacity: Long, fpp: Double, hashers: KMHashPair): CountingBloomSketch =
    apply(BloomConfig(capacity, fpp), hashers)
  def apply(config: BloomConfig, hashers: KMHashPair = KMHashPair.XxMurmur): CountingBloomSketch = {
    // 1 byte/cell: a JVM byte array caps one filter at 2^31 cells
    // (capacity ≈ 1.5·10^8 at p=0.001). Beyond that, shard — the q35
    // membership shape — exactly as the BIT filters already must at
    // 10^12 keys (a single dense m would be petabytes anyway).
    require(config.totalBits <= Int.MaxValue,
      s"counting filter of ${config.totalBits} cells exceeds one array; " +
        "shard the build (see sharded membership, SURVEY §7.5)")
    new CountingBloomSketch(config, new Array[Byte](config.totalBits.toInt), hashers)
  }
}
