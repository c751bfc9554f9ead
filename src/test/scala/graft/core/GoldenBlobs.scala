package graft.core

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}

/** One blob per (type, version, layout), built from fixed inputs. The
  * files under src/test/resources/golden are this object's output:
  * GoldenBlobSpec fails when the encoder's bytes drift from them, and
  * pins which blobs an aggregation buffer may pass through. Regenerate
  * (only for an intended, versioned layout change) with
  * `sbt "Test/runMain graft.core.GoldenBlobs src/test/resources/golden"`.
  *
  * `current` holds what the encoder writes today; `legacy` holds blobs
  * that still decode but that the encoder no longer writes — older
  * versions, and dense layouts of states whose sparse form is smaller —
  * so they must be re-encoded, never passed through. */
object GoldenBlobs {
  import SketchCodec._

  private def keys(n: Int): Seq[Array[Byte]] =
    (0 until n).map(i => s"key-$i".getBytes("UTF-8"))

  private def bloom(s: BloomSketch, n: Int): BloomSketch = { keys(n).foreach(s.insert); s }
  private[core] def hll(n: Int): HLLSketch = { val s = HLLSketch(8); keys(n).foreach(s.update); s }
  private def cms(n: Int): CMSSketch = { val s = CMSSketch(0.1, 0.1); keys(n).foreach(k => s.update(k)); s }
  private def cbf(n: Int): CountingBloomSketch = {
    val s = CountingBloomSketch(100L, 0.01); keys(n).foreach(s.insert); s
  }

  private def le(n: Int): ByteBuffer = ByteBuffer.allocate(n).order(ByteOrder.LITTLE_ENDIAN)
  private def header(bb: ByteBuffer, typeId: Byte, version: Int): ByteBuffer =
    bb.put("GSK1".getBytes("US-ASCII")).put(typeId).put(version.toByte)

  /** `b` with its version byte replaced. */
  private def stamped(b: Array[Byte], version: Int): Array[Byte] = {
    val c = b.clone(); c(5) = version.toByte; c
  }

  // dense layouts written by hand for states the encoder writes sparse
  private def denseBloom(s: BloomSketch): Array[Byte] = {
    val w = s.bits.words
    val bb = header(le(6 + 31 + 8 * w.length), TypeId.Bloom, 2)
    bb.put(s.variant).put(KeyMode.Bytes).put(s.hasherId)
      .putLong(s.config.capacity).putDouble(s.config.fpp)
      .putInt(w.length).putLong(s.bits.numBits)
    w.foreach(bb.putLong)
    bb.array()
  }
  private def denseHll(s: HLLSketch): Array[Byte] =
    header(le(10 + s.registers.length), TypeId.Hll, 1).putInt(s.p).put(s.registers).array()
  private def denseCms(s: CMSSketch): Array[Byte] = {
    val bb = header(le(23 + 8 * s.counters.length), TypeId.Cms, 1)
      .put(KeyMode.Bytes).putInt(s.depth).putInt(s.width).putLong(s.totalCount)
    s.counters.foreach(bb.putLong)
    bb.array()
  }
  private def denseCbf(s: CountingBloomSketch): Array[Byte] =
    header(le(6 + 23 + s.cells.length), TypeId.CountingBloom, 1)
      .put(KeyMode.Bytes).put(s.hasherId).putLong(s.config.capacity).putDouble(s.config.fpp)
      .put(0: Byte).putInt(s.cells.length).put(s.cells).array()

  // the layouts the compact v5 ones replaced, written by hand
  /** The v3 sparse HLL layout: 4-byte (index << 6 | rank) entries. */
  def hllV3Sparse(s: HLLSketch): Array[Byte] = {
    val occupied = s.registers.indices.filter(s.registers(_) != 0)
    val bb = header(le(14 + 4 * occupied.size), TypeId.Hll, 3).putInt(s.p).putInt(occupied.size)
    occupied.foreach(i => bb.putInt(i << 6 | s.registers(i)))
    bb.array()
  }
  /** The v1 t-digest layout: 8-byte weights. */
  def tdigestV1(s: TDigestSketch): Array[Byte] = {
    val (means, weights) = s.centroids
    val bb = header(le(34 + 16 * means.length), TypeId.TDigest, 1)
      .putDouble(s.compression).putDouble(s.minValue).putDouble(s.maxValue).putInt(means.length)
    means.indices.foreach(i => bb.putDouble(means(i)).putDouble(weights(i)))
    bb.array()
  }
  /** The v1 weighted bottom-k layout: fixed-width k, count and key
    * lengths, and the key hash stored. */
  def wbkV1(s: WeightedBottomKSketch): Array[Byte] = {
    val es = s.entriesSeq
    val bb = header(le(14 + es.map(20 + _._3.length).sum), TypeId.WeightedBottomK, 1)
      .putInt(s.k).putInt(es.size)
    es.foreach { case (r, h, kb) => bb.putDouble(r).putLong(h).putInt(kb.length).put(kb) }
    bb.array()
  }

  private[core] def tdigest: TDigestSketch = { val td = TDigestSketch(20.0); (1 to 100).foreach(i => td.update(i * 1.5)); td }
  private[core] def wbk: WeightedBottomKSketch = {
    val s = WeightedBottomKSketch(8)
    keys(50).zipWithIndex.foreach { case (k, i) => s.update(k, 1.0 + i % 4) }
    s
  }

  /** A v2 dense Bloom blob as the v1 layout (no hash-pair id byte). */
  private def bloomV1(v2: Array[Byte]): Array[Byte] = {
    val c = v2.take(8) ++ v2.drop(9); c(5) = 1; c
  }

  lazy val current: Seq[(String, Array[Byte])] = {
    val kll = KLLSketch(8); (1 to 100).foreach(i => kll.update((i * 37 % 101).toDouble))
    val theta = ThetaSketch(16); keys(100).foreach(theta.update)
    val bk = BottomKSketch(8); keys(50).foreach(bk.update)
    val mg = MGSketch(4); (0 until 50).foreach(i => mg.update(s"key-${i % 7}".getBytes("UTF-8")))
    // a digest no update or merge builds: a fractional weight keeps v1
    val tdFrac = TDigestSketch.fromCentroids(20.0, Array(1.0, 2.5, 4.0), Array(1.0, 0.5, 3.0))
    Seq(
      "bloom_v2_dense" -> encodeBloom(bloom(KMBloomSketch(1000L, 0.01), 1000)),
      "bloom_v2_dense_seeded" -> encodeBloom(bloom(SeededBloomSketch(1000L, 0.01), 1000)),
      "bloom_v2_dense_rowhash_pair1" -> encodeBloom(
        bloom(KMBloomSketch(1000L, 0.01, KMHashPair.byId(1)), 1000), KeyMode.RowHash),
      "bloom_v4_offset" -> encodeBloom(bloom(KMBloomSketch(1000L, 0.01), 5)),
      "bloom_v4_rle" -> encodeBloom(bloom(KMBloomSketch(200L, 0.01), 200)),
      "bloom_v4_empty" -> encodeBloom(KMBloomSketch(1000L, 0.01)),
      "hll_v1_dense_full" -> encodeHll(hll(2000)),
      "hll_v5_sparse" -> encodeHll(hll(10)),
      "cms_v1_dense" -> encodeCms(cms(100)),
      "cms_v3_sparse" -> encodeCms(cms(3), KeyMode.RowHash),
      "tdigest_v5" -> encodeTDigest(tdigest),
      "tdigest_v1_fractional" -> encodeTDigest(tdFrac),
      "kll_v1" -> encodeKll(kll),
      "theta_v1" -> encodeTheta(theta),
      "bottomk_v1" -> encodeBottomK(bk),
      "mg_v1" -> encodeMg(mg),
      "wbk_v5" -> encodeWeightedBottomK(wbk),
      "cbf_v1_dense" -> encodeCountingBloom(cbf(100)),
      "cbf_v1_sparse" -> encodeCountingBloom(cbf(3)))
  }

  lazy val legacy: Seq[(String, Array[Byte])] = {
    val cur = current.toMap
    // hll(200) at p = 8 now encodes compact: its dense blob is legacy
    val hllDense = denseHll(hll(200))
    val hllSparse = hllV3Sparse(hll(10))
    val td = tdigestV1(tdigest)
    val wbkV1Blob = wbkV1(wbk)
    Seq(
      "bloom_v1_dense" -> bloomV1(cur("bloom_v2_dense")),
      "bloom_v3_sparse" -> stamped(cur("bloom_v4_offset"), 3),
      "bloom_v2_dense_of_sparse" -> denseBloom(bloom(KMBloomSketch(1000L, 0.01), 5)),
      "hll_v1_dense" -> hllDense,
      "hll_v2_dense" -> stamped(hllDense, 2),
      "hll_v3_sparse" -> hllSparse,
      "hll_v2_sparse" -> stamped(hllSparse, 2),
      "hll_v1_dense_of_sparse" -> denseHll(hll(10)),
      "cms_v2_dense" -> stamped(cur("cms_v1_dense"), 2),
      "cms_v2_sparse" -> stamped(cur("cms_v3_sparse"), 2),
      "cms_v1_dense_of_sparse" -> denseCms(cms(3)),
      "tdigest_v1" -> td,
      "tdigest_v2" -> stamped(td, 2),
      "kll_v2" -> stamped(cur("kll_v1"), 2),
      "theta_v2" -> stamped(cur("theta_v1"), 2),
      "bottomk_v2" -> stamped(cur("bottomk_v1"), 2),
      "mg_v2" -> stamped(cur("mg_v1"), 2),
      "wbk_v1" -> wbkV1Blob,
      "wbk_v2" -> stamped(wbkV1Blob, 2),
      "cbf_v2_sparse" -> stamped(cur("cbf_v1_sparse"), 2),
      "cbf_v1_dense_of_sparse" -> denseCbf(cbf(3)))
  }

  /** Decode and encode again with the blob's own key convention. */
  def reencode(b: Array[Byte]): Array[Byte] = encode(decode(b), keyModeOf(b))

  def main(args: Array[String]): Unit = {
    val dir = Paths.get(args.headOption.getOrElse("src/test/resources/golden"))
    Files.createDirectories(dir)
    (current ++ legacy).foreach { case (name, b) => Files.write(dir.resolve(s"$name.bin"), b) }
    println(s"wrote ${current.size + legacy.size} blobs to $dir")
  }
}
