package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded input generators. Every table a workload hands the library is a
  * pure function of (seed, sizes): the same arguments give the same rows on
  * every JVM, and the ground truth each op is checked against is computed
  * here, from the generator, never through the library under test. */
object Gen {

  /** splitmix64 finalizer: per-slice seeds and content hashes. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def mix(a: Long, b: Long): Long = mix(mix(a) ^ (b * 0x632BE59BD9B4E019L))

  def strHash(s: String): Long = {
    var h = 0xCBF29CE484222325L
    var i = 0
    while (i < s.length) { h = (h ^ s.charAt(i)) * 0x100000001B3L; i += 1 }
    mix(h)
  }

  // ------------------------------------------------------------ transcripts
  val ToolNames: Array[String] =
    Array("search", "code", "browse", "shell", "read", "write", "plan", "sql")

  /** 2024-01-01T00:00:00Z, aligned to every whole-hour window size. */
  val BaseEpochSec: Long = 1704067200L

  /** A transcript table: `turns` rows split into `slices` independently
    * seeded slices (one parquet file each). Conversation lengths follow
    * Pareto(alpha, min 2) capped at `maxConvLen`, so a few conversations hold
    * a large share of the turns and sharding on conv_id is skewed. The
    * lengths are the distribution's evenly spaced quantiles in seeded order:
    * every seed gets the same skew, so timings compare across seeds. Tool
    * choice is Zipf-skewed; timestamps are whole seconds, uniform over
    * `windows` windows of `windowHours` hours. */
  final case class TranscriptSpec(seed: Long, turns: Long, slices: Int, tools: Int,
      windows: Int, windowHours: Int, alpha: Double = 1.3, maxConvLen: Int = 5000) {
    require(turns >= slices && slices > 0 && tools > 0 && tools <= ToolNames.length)
    def sizes: Seq[(String, Long)] = Seq("turns" -> turns, "slices" -> slices.toLong,
      "tools" -> tools.toLong, "windows" -> windows.toLong, "window_hours" -> windowHours.toLong,
      "alpha_milli" -> math.round(alpha * 1000), "max_conv_len" -> maxConvLen.toLong)
    def spanSec: Long = windows.toLong * windowHours * 3600L
    def sliceTurns(s: Int): Long = turns / slices + (if (s < turns % slices) 1 else 0)
  }

  final case class Turn(convId: String, turnIdx: Int, tool: String, tsSec: Long)

  def turnHash(convId: String, turnIdx: Int, tool: String, tsSec: Long): Long =
    mix(mix(strHash(convId), turnIdx.toLong), mix(strHash(tool), tsSec))

  private def toolCdf(n: Int): Array[Double] = {
    val w = (1 to n).map(r => 1.0 / math.pow(r.toDouble, 1.1))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }

  /** The fewest evenly spaced Pareto quantiles whose lengths sum to at
    * least `quota`, shuffled by `rng`. */
  private def convLengths(spec: TranscriptSpec, quota: Long, rng: SplittableRandom): Array[Int] = {
    def lengths(k: Int): Array[Int] = Array.tabulate(k) { j =>
      math.min(spec.maxConvLen.toDouble, 2.0 / math.pow(1.0 - (j + 0.5) / k, 1.0 / spec.alpha)).toInt
    }
    def covers(k: Int): Boolean = lengths(k).map(_.toLong).sum >= quota
    var hi = 1
    while (!covers(hi)) hi *= 2
    var lo = hi / 2
    while (hi - lo > 1) { val mid = (lo + hi) / 2; if (covers(mid)) hi = mid else lo = mid }
    val ls = lengths(hi)
    (ls.length - 1 to 1 by -1).foreach { i =>
      val j = rng.nextInt(i + 1)
      val t = ls(i); ls(i) = ls(j); ls(j) = t
    }
    ls
  }

  /** The rows of one slice; conversation ids are unique across slices. */
  def transcriptSlice(spec: TranscriptSpec, sliceNo: Int): Iterator[Turn] = new Iterator[Turn] {
    private val rng = new SplittableRandom(mix(spec.seed, sliceNo.toLong))
    private val cdf = toolCdf(spec.tools)
    private var left = spec.sliceTurns(sliceNo)
    private val lengths = convLengths(spec, left, rng)
    private var conv = -1
    private var convId = ""
    private var convLen = 0
    private var turn = 0
    def hasNext: Boolean = left > 0
    def next(): Turn = {
      if (turn == convLen) {
        conv += 1
        convId = s"c${sliceNo}_$conv"
        convLen = math.min(lengths(conv).toLong, left).toInt
        turn = 0
      }
      turn += 1
      left -= 1
      val u = rng.nextDouble()
      var t = 0
      while (t < cdf.length - 1 && u > cdf(t)) t += 1
      Turn(convId, turn, ToolNames(t), BaseEpochSec + rng.nextLong(spec.spanSec))
    }
  }

  /** Ground truth of a transcript table, from one pass over the generator. */
  final class TranscriptTruth(val spec: TranscriptSpec, windowed: Boolean) {
    var rows = 0L
    var contentHash = 0L
    val toolCounts: mutable.Map[String, Long] = mutable.Map.empty.withDefaultValue(0L)
    /** (window index, tool) -> turns; window index -> distinct conversations. */
    val groupCounts: mutable.Map[(Int, String), Long] = mutable.Map.empty.withDefaultValue(0L)
    val windowConvs: mutable.Map[Int, mutable.HashSet[String]] = mutable.Map.empty
    private val ids = mutable.ArrayBuffer.empty[String]
    private val lens = mutable.ArrayBuffer.empty[Int]
    (0 until spec.slices).foreach { s =>
      transcriptSlice(spec, s).foreach { t =>
        rows += 1
        contentHash += turnHash(t.convId, t.turnIdx, t.tool, t.tsSec)
        toolCounts(t.tool) += 1
        if (t.turnIdx == 1) { ids += t.convId; lens += 1 } else lens(lens.length - 1) = t.turnIdx
        if (windowed) {
          val w = ((t.tsSec - BaseEpochSec) / (spec.windowHours * 3600L)).toInt
          groupCounts((w, t.tool)) += 1
          windowConvs.getOrElseUpdate(w, mutable.HashSet.empty) += t.convId
        }
      }
    }
    val convIds: Array[String] = ids.toArray
    val convLens: Array[Int] = lens.toArray
    def distinctConvs: Long = convIds.length.toLong
    def maxConvLen: Int = convLens.max
    def fingerprint(kind: String): Fingerprint =
      Fingerprint(kind, spec.seed, spec.sizes, rows, contentHash)
  }

  // ------------------------------------------------------------- documents
  /** The sf-style `documents` corpus: `docs` documents of 10–100 words over
    * a 31-word vocabulary, exactly a `hotShare` of them carrying one shared
    * boilerplate phrase (hot shingles for the self-join), plus `dups`
    * planted near-duplicates — a copy of a distinct source document with
    * one or two words replaced, kept only when its exact 3-shingle Jaccard
    * to the source is at least `minJaccard`. */
  final case class DocSpec(seed: Long, docs: Int, dups: Int, hotShare: Double = 0.1,
      minJaccard: Double = 0.55) {
    require(dups <= docs)
    def sizes: Seq[(String, Long)] = Seq("docs" -> docs.toLong, "dups" -> dups.toLong,
      "hot_share_milli" -> math.round(hotShare * 1000),
      "min_jaccard_milli" -> math.round(minJaccard * 1000))
  }

  val Vocab: Array[String] = Array("spark", "window", "merge", "table", "column", "vector",
    "stream", "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row", "the", "agg",
    "key", "query", "a", "scan", "batch", "dup")
  private val HotPhrase = Seq("merge", "the", "stream", "key", "scan")

  final case class Doc(docId: Long, text: String)

  /** Distinct word 3-shingles, the definition the pipeline implements. */
  def shingles(text: String): Set[String] = {
    val ws = text.split(" ")
    if (ws.length < 3) Set.empty else ws.sliding(3).map(_.mkString(" ")).toSet
  }

  def jaccard(a: String, b: String): Double = {
    val (x, y) = (shingles(a), shingles(b))
    val u = (x union y).size
    if (u == 0) 0.0 else (x intersect y).size.toDouble / u
  }

  final class Corpus(val spec: DocSpec) {
    /** The documents, and (source, copy) doc ids of the planted near-duplicates. */
    val (docs: Array[Doc], planted: Array[(Long, Long)]) = {
      val rng = new SplittableRandom(mix(spec.seed, 0xD0C5L))
      val order = Array.range(0, spec.docs)
      (order.length - 1 to 1 by -1).foreach { i =>
        val j = rng.nextInt(i + 1)
        val t = order(i); order(i) = order(j); order(j) = t
      }
      val hot = order.take(math.round(spec.hotShare * spec.docs).toInt).toSet
      val base = Array.tabulate(spec.docs) { i =>
        val n = 10 + rng.nextInt(91)
        val ws = Array.fill(n)(Vocab(rng.nextInt(Vocab.length - 1)))
        if (hot(i)) {
          val at = rng.nextInt(n - HotPhrase.size + 1)
          HotPhrase.zipWithIndex.foreach { case (w, j) => ws(at + j) = w }
        }
        Doc(i.toLong, ws.mkString(" "))
      }
      val used = mutable.HashSet.empty[Int]
      val dups = mutable.ArrayBuffer.empty[Doc]
      val pairs = mutable.ArrayBuffer.empty[(Long, Long)]
      while (dups.length < spec.dups) {
        val src = rng.nextInt(spec.docs)
        if (!used(src)) {
          val ws = base(src).text.split(" ")
          (1 to 1 + rng.nextInt(2)).foreach(_ => ws(rng.nextInt(ws.length)) = Vocab.last)
          val copy = ws.mkString(" ")
          if (jaccard(base(src).text, copy) >= spec.minJaccard) {
            used += src
            val id = spec.docs.toLong + dups.length
            dups += Doc(id, copy)
            pairs += ((src.toLong, id))
          }
        }
      }
      (base ++ dups, pairs.toArray)
    }
    def text(id: Long): String = docs(id.toInt).text
    val contentHash: Long = docs.map(d => mix(d.docId, strHash(d.text))).sum
    def fingerprint: Fingerprint =
      Fingerprint("documents", spec.seed, spec.sizes, docs.length.toLong, contentHash)
  }
}

/** What a materialised input is: kind, seed, sizes, row count and a hash of
  * its content. A materialised input is reused only when the fingerprint
  * recorded beside it equals the expected one AND the table read back still
  * has that row count and content hash. */
final case class Fingerprint(kind: String, seed: Long, sizes: Seq[(String, Long)],
    rows: Long, contentHash: Long) {
  def token: String = java.lang.Long.toHexString(
    Gen.mix(Gen.mix(Gen.strHash(kind), seed),
      Gen.mix(sizes.foldLeft(rows)((h, kv) => Gen.mix(Gen.mix(h, Gen.strHash(kv._1)), kv._2)),
        contentHash)))
  def json: String = {
    val sz = sizes.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    s"""{"kind":"$kind","seed":$seed,"sizes":$sz,"rows":$rows,"content_hash":$contentHash,"token":"$token"}"""
  }
}
