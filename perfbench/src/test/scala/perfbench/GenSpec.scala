package perfbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {
  private val spec = Gen.TranscriptSpec(7L, turns = 20000L, slices = 3, tools = 6,
    windows = 10, windowHours = 6)
  private def fingerprint(s: Gen.TranscriptSpec) =
    new Gen.TranscriptTruth(s, windowed = false).fingerprint("transcripts")

  test("the same seed gives the same fingerprint, another seed a different one") {
    val a = fingerprint(spec)
    val b = fingerprint(spec)
    val c = fingerprint(spec.copy(seed = 8L))
    assert(a == b && a.token == b.token && a.json == b.json)
    assert(a.contentHash != c.contentHash && a.token != c.token)
    assert(a.rows == spec.turns && c.rows == spec.turns)
  }

  test("sizes are part of the fingerprint") {
    assert(fingerprint(spec).token != fingerprint(spec.copy(turns = 20001L)).token)
    assert(fingerprint(spec).token != fingerprint(spec.copy(windows = 11)).token)
  }

  test("every seed gets the same conversation-length skew") {
    val a = new Gen.TranscriptTruth(spec, windowed = false)
    val b = new Gen.TranscriptTruth(spec.copy(seed = 8L), windowed = false)
    assert(a.maxConvLen == b.maxConvLen)
    assert(math.abs(a.convLens.length - b.convLens.length) <= spec.slices)
    assert(!a.convLens.sameElements(b.convLens))
  }

  test("a materialised input is reused only on a matching fingerprint and read-back") {
    val fp = fingerprint(spec)
    val ok = (fp.rows, fp.contentHash)
    assert(Inputs.reusable(Some(fp.json), fp, ok))
    assert(!Inputs.reusable(None, fp, ok))
    assert(!Inputs.reusable(Some(fingerprint(spec.copy(seed = 8L)).json), fp, ok))
    assert(!Inputs.reusable(Some(fp.json), fp, (fp.rows - 1, fp.contentHash)))
    assert(!Inputs.reusable(Some(fp.json), fp, (fp.rows, fp.contentHash + 1)))
  }

  test("the corpus is seed-determined and every planted pair meets the Jaccard floor") {
    val ds = Gen.DocSpec(3L, docs = 300, dups = 30)
    val x = new Gen.Corpus(ds)
    assert(x.fingerprint == new Gen.Corpus(ds).fingerprint)
    assert(x.fingerprint.token != new Gen.Corpus(ds.copy(seed = 4L)).fingerprint.token)
    assert(x.planted.length == 30 && x.planted.map(_._1).distinct.length == 30)
    x.planted.foreach { case (a, b) => assert(Gen.jaccard(x.text(a), x.text(b)) >= ds.minJaccard) }
  }
}
