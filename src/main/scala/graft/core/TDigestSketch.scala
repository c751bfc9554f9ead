package graft.core

import java.util.Arrays

/** Merging t-digest (Dunning & Ertl, "Computing Extremely Accurate
  * Quantiles Using t-Digests", arXiv:1902.04023) for latency quantiles.
  * North-rule extension — no quantile sketch exists in the reference crate.
  *
  * Scale function k1(q) = (δ/2π)·asin(2q−1): centroid size limit shrinks
  * toward the tails, giving rank error ~ q(1−q)/δ. Merge = concatenate
  * centroid lists + one recompression pass; merge order independence is
  * statistical (estimates within bound), not bitwise — the tests assert
  * accordingly (unlike Bloom/HLL/CMS which are state-identical).
  */
final class TDigestSketch(val compression: Double) extends Serializable {
  require(compression >= 20, s"t-digest compression must be >= 20, got $compression")

  // processed centroids, sorted by mean
  private var means: Array[Double] = new Array[Double](0)
  private var weights: Array[Double] = new Array[Double](0)
  private var centroidCount: Int = 0
  private var totalWeight: Double = 0.0

  // unmerged incoming points; allocated by the first update, so a
  // decoded digest that is only merged or queried never sizes it from
  // its (blob-supplied) compression
  private val bufferCap: Int = math.max(64, (4 * compression).toInt)
  private var buffer: Array[Double] = _
  private var bufferLen: Int = 0

  var minValue: Double = Double.PositiveInfinity
  var maxValue: Double = Double.NegativeInfinity

  def count: Double = { compress(); totalWeight }

  def update(x: Double): Unit = {
    if (x.isNaN) return
    if (buffer == null) buffer = new Array[Double](bufferCap)
    else if (bufferLen == bufferCap) compress()
    buffer(bufferLen) = x
    bufferLen += 1
    if (x < minValue) minValue = x
    if (x > maxValue) maxValue = x
  }

  @inline private def k1(q: Double): Double =
    compression / (2.0 * math.Pi) * math.asin(2.0 * math.min(1.0, math.max(0.0, q)) - 1.0)
  @inline private def k1Inv(k: Double): Double =
    (math.sin(2.0 * math.Pi * k / compression) + 1.0) / 2.0

  /** Fold the buffer (and any pending merged-in centroids) into the sorted,
    * compressed centroid set. */
  private def compress(): Unit = {
    if (bufferLen == 0) return
    // combined (mean, weight) list: existing centroids + buffered points
    val n = centroidCount + bufferLen
    val m = new Array[Double](n)
    val w = new Array[Double](n)
    System.arraycopy(means, 0, m, 0, centroidCount)
    Arrays.fill(w, 0, centroidCount, 0.0)
    System.arraycopy(weights, 0, w, 0, centroidCount)
    val sortedBuf = Arrays.copyOf(buffer, bufferLen)
    Arrays.sort(sortedBuf)
    var i = 0
    while (i < bufferLen) {
      m(centroidCount + i) = sortedBuf(i)
      w(centroidCount + i) = 1.0
      i += 1
    }
    bufferLen = 0
    // merge-sort the two sorted runs by mean
    val order = (0 until n).sortBy(m(_)) // small n (≤ 5δ + centroids); fine
    val W = w.sum
    val outM = new Array[Double](n)
    val outW = new Array[Double](n)
    var out = 0
    var accM = m(order(0))
    var accW = w(order(0))
    var wSoFar = 0.0
    var qLimit = k1Inv(k1(0.0) + 1.0)
    i = 1
    while (i < n) {
      val idx = order(i)
      val nw = w(idx)
      if ((wSoFar + accW + nw) / W <= qLimit) {
        // absorb into current centroid (weighted mean)
        accM += (m(idx) - accM) * nw / (accW + nw)
        accW += nw
      } else {
        outM(out) = accM; outW(out) = accW; out += 1
        wSoFar += accW
        qLimit = k1Inv(k1(wSoFar / W) + 1.0)
        accM = m(idx); accW = nw
      }
      i += 1
    }
    outM(out) = accM; outW(out) = accW; out += 1
    means = Arrays.copyOf(outM, out)
    weights = Arrays.copyOf(outW, out)
    centroidCount = out
    totalWeight = W
  }

  /** Merge another digest in: feed its centroids through the same
    * compression machinery (weighted points). */
  def mergeInPlace(other: TDigestSketch): this.type = {
    other.compress()
    compress()
    if (other.centroidCount == 0) return this
    // append other's centroids as weighted inputs, then recompress once
    val n = centroidCount + other.centroidCount
    val m = new Array[Double](n)
    val w = new Array[Double](n)
    System.arraycopy(means, 0, m, 0, centroidCount)
    System.arraycopy(weights, 0, w, 0, centroidCount)
    System.arraycopy(other.means, 0, m, centroidCount, other.centroidCount)
    System.arraycopy(other.weights, 0, w, centroidCount, other.centroidCount)
    means = m; weights = w; centroidCount = n
    totalWeight += other.totalWeight
    if (other.minValue < minValue) minValue = other.minValue
    if (other.maxValue > maxValue) maxValue = other.maxValue
    // force a recompression pass via a dummy-free buffer round-trip
    recompressAll()
    this
  }

  private def recompressAll(): Unit = {
    if (centroidCount == 0) return
    val n = centroidCount
    val m = means; val w = weights
    val order = (0 until n).sortBy(m(_))
    val W = w.sum
    val outM = new Array[Double](n)
    val outW = new Array[Double](n)
    var out = 0
    var accM = m(order(0))
    var accW = w(order(0))
    var wSoFar = 0.0
    var qLimit = k1Inv(k1(0.0) + 1.0)
    var i = 1
    while (i < n) {
      val idx = order(i)
      val nw = w(idx)
      if ((wSoFar + accW + nw) / W <= qLimit) {
        accM += (m(idx) - accM) * nw / (accW + nw)
        accW += nw
      } else {
        outM(out) = accM; outW(out) = accW; out += 1
        wSoFar += accW
        qLimit = k1Inv(k1(wSoFar / W) + 1.0)
        accM = m(idx); accW = nw
      }
      i += 1
    }
    outM(out) = accM; outW(out) = accW; out += 1
    means = Arrays.copyOf(outM, out)
    weights = Arrays.copyOf(outW, out)
    centroidCount = out
    totalWeight = W
  }

  /** Quantile estimate: centroids centered at cumulative-weight midpoints,
    * linear interpolation between neighbors, exact min/max at the tails. */
  def quantile(q: Double): Double = {
    require(q >= 0.0 && q <= 1.0, s"quantile must be in [0,1], got $q")
    compress()
    if (centroidCount == 0) return Double.NaN
    if (centroidCount == 1) return means(0)
    val target = q * totalWeight
    if (target <= weights(0) / 2.0) {
      // interpolate min → first centroid midpoint
      val t = target / (weights(0) / 2.0)
      return minValue + t * (means(0) - minValue)
    }
    var cum = 0.0
    var i = 0
    while (i < centroidCount) {
      val mid = cum + weights(i) / 2.0
      if (target <= mid) {
        if (i == 0) return means(0)
        val prevMid = cum - weights(i - 1) / 2.0
        val t = (target - prevMid) / (mid - prevMid)
        return means(i - 1) + t * (means(i) - means(i - 1))
      }
      cum += weights(i)
      i += 1
    }
    val lastMid = totalWeight - weights(centroidCount - 1) / 2.0
    if (target >= totalWeight) maxValue
    else {
      val t = (target - lastMid) / (totalWeight - lastMid)
      means(centroidCount - 1) + t * (maxValue - means(centroidCount - 1))
    }
  }

  /** Snapshot of (means, weights) for the codec. */
  def centroids: (Array[Double], Array[Double]) = {
    compress()
    (Arrays.copyOf(means, centroidCount), Arrays.copyOf(weights, centroidCount))
  }

  def copySketch(): TDigestSketch = {
    compress()
    val c = new TDigestSketch(compression)
    c.means = means.clone(); c.weights = weights.clone()
    c.centroidCount = centroidCount; c.totalWeight = totalWeight
    c.minValue = minValue; c.maxValue = maxValue
    c
  }

  override def toString: String =
    s"TDigestSketch(delta=$compression, n=$totalWeight, centroids=$centroidCount)"
}

object TDigestSketch {
  val DefaultCompression = 100.0

  def apply(compression: Double = DefaultCompression): TDigestSketch =
    new TDigestSketch(compression)

  def fromCentroids(compression: Double, means: Array[Double], weights: Array[Double]): TDigestSketch = {
    val t = new TDigestSketch(compression)
    var i = 0
    var mn = Double.PositiveInfinity
    var mx = Double.NegativeInfinity
    while (i < means.length) {
      if (means(i) < mn) mn = means(i)
      if (means(i) > mx) mx = means(i)
      i += 1
    }
    t.means = means.clone(); t.weights = weights.clone()
    t.centroidCount = means.length
    t.totalWeight = weights.sum
    t.minValue = mn; t.maxValue = mx
    t
  }
}
