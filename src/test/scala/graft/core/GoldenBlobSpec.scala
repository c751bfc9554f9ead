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
    val sparse = file("hll_v3_sparse")
    assert(hll.serialize(hll.deserialize(sparse)) eq sparse)
    intercept[IllegalArgumentException](hll.serialize(hll.deserialize(file("cms_v3_sparse"))))
  }
}
