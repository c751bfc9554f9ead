package graft.core

import java.nio.{ByteBuffer, ByteOrder}

import graft.spark.catalyst.SketchMergeAgg
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.types.BinaryType
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty
import org.scalatest.funsuite.AnyFunSuite

/** Damaged-blob fuzz over every codec type and version, dense and
  * sparse: random valid blobs (current layouts, and the legacy layouts
  * and versions that still decode), then truncated, bit-flipped, overwritten,
  * length-inflated or extended. Every outcome is typed: the blob
  * decodes, or decoding fails with IllegalArgumentException. A blob
  * that decodes is taken for canonical exactly when it re-encodes to
  * itself; a damaged one is never taken for canonical, so an
  * aggregation buffer that holds it (deserialize, or a one-blob merge:
  * the pass-through path) refuses it typed on its way out and never
  * emits it. */
class CodecFuzzSpec extends AnyFunSuite {
  import SketchCodec._

  private val Cases = 10000
  /** Headers that declare more state than this are not decoded: a
    * sparse body cannot bound the size its header declares, so the
    * decoder allocates whatever fits the heap (and refuses the rest,
    * typed). Such cases are counted, and still checked not to crash the
    * canonical-form check. */
  private val DeclaredLimit = 64L << 20

  private val merge = SketchMergeAgg(BoundReference(0, BinaryType, nullable = true))

  private val key: Gen[Array[Byte]] =
    Gen.choose(0, 12).flatMap(n => Gen.listOfN(n, Gen.choose(Byte.MinValue, Byte.MaxValue)))
      .map(_.toArray)
  private def keys(max: Int): Gen[List[Array[Byte]]] =
    Gen.choose(0, max).flatMap(n => Gen.listOfN(n, Gen.choose(0, 4 * max + 8)))
      .map(_.map(i => s"k$i".getBytes("UTF-8")))
  private def values(max: Int): Gen[List[Double]] =
    Gen.choose(0, max).flatMap(n => Gen.listOfN(n, Gen.choose(-1e3, 1e3)))
  private val keyMode = Gen.oneOf(KeyMode.Bytes, KeyMode.RowHash)
  private val pair = Gen.oneOf(KMHashPair.registered)

  private def stamped(b: Array[Byte], v: Int): Array[Byte] = { val c = b.clone(); c(5) = v.toByte; c }
  /** Current layout, or one of the older versions that still decode. */
  private def versions(b: Array[Byte], legacy: Int*): Gen[Array[Byte]] =
    Gen.frequency(3 -> Gen.const(b), 1 -> Gen.oneOf(legacy).map(stamped(b, _)))
  /** Current layout, or the older layout `old` under one of its versions. */
  private def layouts(b: Array[Byte], old: Array[Byte], legacy: Int*): Gen[Array[Byte]] =
    Gen.frequency(3 -> Gen.const(b), 1 -> Gen.oneOf(legacy).map(stamped(old, _)))

  private val bloom: Gen[Array[Byte]] = for {
    cap <- Gen.choose(20L, 1500L); fpp <- Gen.oneOf(0.1, 0.01, 0.001)
    seeded <- Gen.prob(0.2); p <- pair; km <- keyMode; ks <- keys(1500)
    b = {
      val s = if (seeded) SeededBloomSketch(cap, fpp) else KMBloomSketch(cap, fpp, p)
      ks.foreach(s.insert); encodeBloom(s, km)
    }
    out <- if (b(5) == 4) versions(b, 3)
      else Gen.frequency(3 -> Gen.const(b), 1 -> Gen.const({ val c = b.take(8) ++ b.drop(9); c(5) = 1; c }))
  } yield out

  private val hll: Gen[Array[Byte]] = for {
    p <- Gen.choose(4, 12); ks <- keys(2000)
    s = { val s = HLLSketch(p); ks.foreach(s.update); s }
    b = encodeHll(s)
    out <- if (b(5) == 5) layouts(b, GoldenBlobs.hllV3Sparse(s), 2, 3) else versions(b, 2)
  } yield out

  private val cms: Gen[Array[Byte]] = for {
    eps <- Gen.oneOf(0.01, 0.05, 0.2); delta <- Gen.oneOf(0.01, 0.1); km <- keyMode; ks <- keys(400)
    b = { val s = CMSSketch(eps, delta); ks.foreach(k => s.update(k)); encodeCms(s, km) }
    out <- versions(b, 2)
  } yield out

  private val tdigest: Gen[Array[Byte]] = for {
    c <- Gen.choose(20.0, 200.0); vs <- values(600); fractional <- Gen.prob(0.1)
    s = {
      val s = TDigestSketch(c); vs.foreach(s.update)
      // a weight no update or merge makes: the digest keeps the v1 layout
      if (!fractional) s
      else { val (m, w) = s.centroids; TDigestSketch.fromCentroids(c, m, w.map(_ + 0.25)) }
    }
    b = encodeTDigest(s)
    out <- layouts(b, GoldenBlobs.tdigestV1(s), 1, 2, 3, 4)
  } yield out

  private val kll: Gen[Array[Byte]] = for {
    k <- Gen.choose(8, 64); vs <- values(800)
    b = { val s = KLLSketch(k); vs.foreach(s.update); encodeKll(s) }
    out <- versions(b, 2, 3, 4)
  } yield out

  private val theta: Gen[Array[Byte]] = for {
    k <- Gen.choose(2, 64); ks <- keys(200)
    b = { val s = ThetaSketch(k); ks.foreach(s.update); encodeTheta(s) }
    out <- versions(b, 2, 3, 4)
  } yield out

  private val bottomK: Gen[Array[Byte]] = for {
    k <- Gen.choose(1, 32); ks <- Gen.listOf(key)
    b = { val s = BottomKSketch(k); ks.take(100).foreach(s.update); encodeBottomK(s) }
    out <- versions(b, 2, 3, 4)
  } yield out

  private val mg: Gen[Array[Byte]] = for {
    k <- Gen.choose(1, 16); ks <- keys(300)
    b = { val s = MGSketch(k); ks.foreach(k => s.update(k)); encodeMg(s) }
    out <- versions(b, 2, 3, 4)
  } yield out

  private val weightedBottomK: Gen[Array[Byte]] = for {
    k <- Gen.choose(1, 32); ks <- Gen.listOf(Gen.zip(key, Gen.choose(0.01, 50.0)))
    s = { val s = WeightedBottomKSketch(k); ks.take(100).foreach { case (kb, w) => s.update(kb, w) }; s }
    b = encodeWeightedBottomK(s)
    out <- layouts(b, GoldenBlobs.wbkV1(s), 1, 2, 3, 4)
  } yield out

  private val countingBloom: Gen[Array[Byte]] = for {
    cap <- Gen.choose(10L, 300L); fpp <- Gen.oneOf(0.1, 0.01); p <- pair; km <- keyMode
    ks <- keys(300)
    b = { val s = CountingBloomSketch(cap, fpp, p); ks.foreach(s.insert); encodeCountingBloom(s, km) }
    out <- versions(b, 2, 3, 4)
  } yield out

  private def putLe(b: Array[Byte], at: Int, v: Long, width: Int): Array[Byte] = {
    val c = b.clone()
    var i = 0
    while (i < width && at + i < c.length) { c(at + i) = (v >>> (8 * i)).toByte; i += 1 }
    c
  }

  private def damaged(valid: Gen[Array[Byte]]): Gen[Array[Byte]] = valid.flatMap { b =>
    val at = Gen.choose(0, b.length - 1)
    Gen.frequency(
      1 -> Gen.const(b),
      3 -> Gen.choose(0, b.length - 1).map(n => b.take(n)),
      4 -> Gen.zip(at, Gen.choose(0, 7)).map { case (i, bit) =>
        val c = b.clone(); c(i) = (c(i) ^ (1 << bit)).toByte; c },
      2 -> Gen.zip(at, Gen.choose(Byte.MinValue, Byte.MaxValue)).map { case (i, v) =>
        val c = b.clone(); c(i) = v; c },
      3 -> Gen.zip(at, Gen.oneOf(-1L, Int.MaxValue.toLong, Int.MinValue.toLong, 1L << 28,
        Long.MaxValue, Long.MinValue), Gen.oneOf(4, 8)).map { case (i, v, w) => putLe(b, i, v, w) },
      1 -> Gen.listOf(Gen.choose(Byte.MinValue, Byte.MaxValue)).map(t => b ++ t.take(16)))
  }

  /** The state size a blob's header declares where the body cannot bound
    * it: sparse Bloom bits, CMS counters, counting-Bloom cells. */
  private def declared(b: Array[Byte]): Long = scala.util.Try {
    val bb = ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN)
    def config(at: Int) = BloomConfig(bb.getLong(at), bb.getDouble(at + 8)).totalBits
    b(4) match {
      case TypeId.Bloom if b(5) >= 3 => config(9) / 8
      case TypeId.Cms => 8L * bb.getInt(7) * bb.getInt(11)
      case TypeId.CountingBloom => config(8)
      case _ => 0L
    }
  }.getOrElse(0L)

  private def check(name: String, valid: Gen[Array[Byte]], seed: Long): Unit = {
    var decoded, refused, large, held = 0
    val prop = Prop.forAllNoShrink(damaged(valid)) { b =>
      val canonical = isCanonical(b) // never throws, never allocates the state
      if (declared(b) > DeclaredLimit) large += 1
      else {
        val outcome = try Right(GoldenBlobs.reencode(b)) catch {
          case e: IllegalArgumentException => Left(e)
        }
        outcome match {
          case Right(r) =>
            decoded += 1
            if (canonical) held += 1
            // exact, not merely sound: a blob is taken for canonical iff
            // it re-encodes to itself
            assert(r.sameElements(b) == canonical,
              if (canonical) s"$name: canonical blob re-encodes differently"
              else s"$name: a blob that re-encodes to itself is not taken for canonical")
            assert(merge.serialize(merge.deserialize(b)).sameElements(r),
              s"$name: a buffer's output differs from the re-encoded blob")
          case Left(_) =>
            refused += 1
            assert(!canonical, s"$name: a blob the decoder refuses is taken for canonical")
            // on its way out of a buffer (zero bytes are an empty merge
            // buffer's own serialized form), and as the only blob of a merge
            if (b.nonEmpty) intercept[IllegalArgumentException](merge.serialize(merge.deserialize(b)))
            intercept[IllegalArgumentException](
              merge.eval(merge.update(merge.createAggregationBuffer(), InternalRow(b))))
        }
      }
      true
    }
    val params = Test.Parameters.default.withMinSuccessfulTests(Cases).withWorkers(1)
      .withInitialSeed(Seed(seed))
    val res = Test.check(params, prop)
    assert(res.passed, s"$name: ${Pretty.pretty(res)}")
    assert(decoded + refused + large == res.succeeded)
    assert(held > Cases / 20 && refused > Cases / 10,
      s"$name: $decoded decoded ($held canonical), $refused refused, $large large")
    info(s"$name: ${res.succeeded} cases, $decoded decoded ($held canonical), $refused refused typed, " +
      s"$large declared > ${DeclaredLimit >> 20} MiB")
  }

  test("damaged Bloom blobs (v1/v2 dense, v3/v4 offset and RLE) fail typed")(check("Bloom", bloom, 1L))
  test("damaged HLL blobs (v1/v2 dense, v2/v3 sparse) fail typed")(check("HLL", hll, 2L))
  test("damaged CMS blobs (v1/v2 dense, v2/v3 sparse) fail typed")(check("CMS", cms, 3L))
  test("damaged t-digest blobs fail typed")(check("t-digest", tdigest, 4L))
  test("damaged KLL blobs fail typed")(check("KLL", kll, 5L))
  test("damaged theta blobs fail typed")(check("theta", theta, 6L))
  test("damaged bottom-k blobs fail typed")(check("bottom-k", bottomK, 7L))
  test("damaged Misra-Gries blobs fail typed")(check("Misra-Gries", mg, 8L))
  test("damaged weighted bottom-k blobs fail typed")(check("weighted bottom-k", weightedBottomK, 9L))
  test("damaged counting Bloom blobs (dense and sparse) fail typed")(
    check("counting Bloom", countingBloom, 10L))
}
