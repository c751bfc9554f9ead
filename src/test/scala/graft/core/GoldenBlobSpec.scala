package graft.core

import graft.spark.catalyst.{BloomSketchAgg, HllSketchAgg, SketchMergeAgg}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.types.BinaryType
import org.scalatest.funsuite.AnyFunSuite

/** The golden blobs (GoldenBlobs, src/test/resources/golden): the
  * encoder's layouts stay byte-identical, every version it writes today
  * round-trips and passes through an aggregation buffer as is, and every
  * blob it no longer writes is re-encoded instead. */
class GoldenBlobSpec extends AnyFunSuite {
  import GoldenBlobs._

  private def file(name: String): Array[Byte] = {
    val in = getClass.getResourceAsStream(s"/golden/$name.bin")
    assert(in != null, s"missing golden blob $name")
    try in.readAllBytes() finally in.close()
  }

  private val merge = SketchMergeAgg(BoundReference(0, BinaryType, nullable = true))
  private def passed(b: Array[Byte]): Array[Byte] = merge.serialize(merge.deserialize(b))

  test("golden blobs are the bytes the encoder and the generator write today") {
    (current ++ legacy).foreach { case (name, b) =>
      assert(file(name).sameElements(b), s"$name drifted from its golden file")
    }
    assert(current.map(_._1).toSet.size == current.size && legacy.map(_._1).toSet.size == legacy.size)
  }

  test("every version the encoder writes today round-trips byte for byte and passes through") {
    current.foreach { case (name, _) =>
      val b = file(name)
      assert(reencode(b).sameElements(b), s"$name: encode(decode(b)) != b")
      assert(SketchCodec.isCanonical(b), s"$name is not recognized as canonical")
      assert(passed(b) eq b, s"$name: a merge buffer re-encoded a canonical blob")
      val folded = merge.update(merge.createAggregationBuffer(), InternalRow(b))
      assert(merge.eval(folded).asInstanceOf[AnyRef] eq b, s"$name: one-blob merge re-encoded it")
    }
  }

  test("legacy and non-minimal blobs are re-encoded, never passed through") {
    legacy.foreach { case (name, _) =>
      val b = file(name)
      val r = reencode(b)
      assert(!SketchCodec.isCanonical(b), s"$name is taken for canonical")
      assert(!r.sameElements(b), s"$name: the encoder still writes it")
      assert(SketchCodec.isCanonical(r), s"$name: its re-encoding is not canonical")
      assert(passed(b).sameElements(r), s"$name: a merge buffer did not re-encode it")
    }
  }

  test("a typed aggregate passes through only blobs of its own kind") {
    val keys = Seq(BoundReference(0, BinaryType, nullable = true))
    val dense = file("bloom_v2_dense") // KM pair 0, byte keys
    val bytesAgg = BloomSketchAgg(keys, 1000L, 0.01, keyMode = SketchCodec.KeyMode.Bytes)
    assert(bytesAgg.serialize(bytesAgg.deserialize(dense)) eq dense)
    // the same bits under the row-hash convention: re-encoded with its own key mode
    val rowAgg = BloomSketchAgg(keys, 1000L, 0.01)
    val out = rowAgg.serialize(rowAgg.deserialize(dense))
    assert(out(7) == SketchCodec.KeyMode.RowHash && out.length == dense.length)
    assert(out.indices.forall(i => i == 7 || out(i) == dense(i)))
    // an HLL aggregate never passes a blob of another type through
    val hll = HllSketchAgg(keys, 8)
    val sparse = file("hll_v5_sparse")
    assert(hll.serialize(hll.deserialize(sparse)) eq sparse)
    intercept[IllegalArgumentException](hll.serialize(hll.deserialize(file("cms_v3_sparse"))))
  }

  test("a merge buffer holding a legacy HLL, t-digest or weighted sample emits what a fresh build writes") {
    // the path a state store written by an older build takes on its first write
    val fresh = Seq(
      Seq("hll_v1_dense", "hll_v2_dense") -> SketchCodec.encodeHll(hll(200)),
      Seq("hll_v3_sparse", "hll_v2_sparse", "hll_v1_dense_of_sparse") -> SketchCodec.encodeHll(hll(10)),
      Seq("tdigest_v1", "tdigest_v2") -> SketchCodec.encodeTDigest(tdigest),
      Seq("wbk_v1", "wbk_v2") -> SketchCodec.encodeWeightedBottomK(wbk))
    for ((names, want) <- fresh; name <- names) {
      assert(want(5) == 5, s"$name: a fresh build does not write the compact layout")
      assert(passed(file(name)).sameElements(want), s"$name: a merge buffer did not emit the fresh v5 bytes")
      val folded = merge.update(merge.createAggregationBuffer(), InternalRow(file(name)))
      assert(merge.eval(merge.checked(folded)).asInstanceOf[Array[Byte]].sameElements(want), name)
    }
  }

  test("a v1 weighted-sample entry whose stored hash is not its key's hash is refused, typed") {
    val b = file("wbk_v1")
    SketchCodec.decodeWeightedBottomK(b)
    // header(6) k(4) n(4), then the first entry's race(8) and key hash(8)
    val bad = b.clone()
    bad(6 + 8 + 8) = (bad(6 + 8 + 8) ^ 1).toByte
    val e = intercept[IllegalArgumentException](SketchCodec.decodeWeightedBottomK(bad))
    assert(e.getMessage.contains("key hash"), e.getMessage)
    assert(!SketchCodec.isCanonical(bad))
    intercept[IllegalArgumentException](passed(bad))
  }

  test("a t-digest with a fractional weight keeps the v1 layout and passes through") {
    val b = file("tdigest_v1_fractional")
    assert(b(5) == 1 && SketchCodec.isCanonical(b) && passed(b).eq(b))
    assert(SketchCodec.decodeTDigest(b).count == 4.5)
  }
}
