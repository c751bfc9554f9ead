package perfbench

import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable

import graft.core._
import graft.pipeline.TextPipeline
import graft.spark.{functions => gf}
import graft.spark.catalyst._
import graft.streaming.StreamingSketch
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types._

/** One op's verdict: whether every result check held, and the worst
  * estimate error seen as a fraction of the bound it is gated at. */
final case class Check(ok: Boolean, errorOverBound: Double, detail: String)

/** A workload after set-up: its inputs are materialised and its ground
  * truth is known. `op` calls the library's public functions only; `check`
  * compares the result with the generator's truth. */
trait Instance {
  /** Input items one op processes. */
  def items: Long
  def op(ctx: Ctx, i: Int): AnyRef
  def check(ctx: Ctx, out: AnyRef): Check
  /** Serialized sketch bytes produced per input item. */
  def sketchBytesPerItem(ctx: Ctx, out: AnyRef): Double
  /** This workload's own layer numbers for one traced op (streaming.*, pipeline.*). */
  def layer(ctx: Ctx, out: AnyRef): Map[String, Double] = Map.empty
  /** The workload's own keys, for the single-thread kernel timings. */
  def kernelKeys: Array[Array[Byte]]
  /** (a string, b int, c string) rows the two aggregation surfaces build over. */
  def keyTable(ctx: Ctx): DataFrame
}

trait Workload {
  def name: String
  /** Untimed ops before the timed loop: the JIT and Spark's code caches warm
    * over the first ops, which run measurably slower than later ones. */
  def warmupOps: Int = 2
  def setup(ctx: Ctx, seed: Long, dir: String): Instance
}

object Workloads {
  val all: Seq[Workload] = Seq(Build, StreamRollup, Dedup)
  def apply(name: String): Workload = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(s"unknown workload '$name' (one of ${all.map(_.name).mkString(", ")})"))

  val Fpp = 0.001
  val CmsEps = 0.001
  val CmsDelta = 0.01
  val BuildShards = 16

  /** Misses of a rate-p event over n trials, gated as q02 gates Bloom false positives. */
  def fpBound(n: Long, p: Double): Double = n * p * 1.05 + 3 * math.sqrt(n * p) + 1
}

/** Transcript tables: (conv_id, turn_idx, tool, ts), one parquet file per slice. */
object TranscriptTable {
  val Schema: StructType = StructType(Seq(
    StructField("conv_id", StringType, nullable = false),
    StructField("turn_idx", IntegerType, nullable = false),
    StructField("tool", StringType, nullable = false),
    StructField("ts", TimestampType, nullable = false)))

  def frame(ctx: Ctx, spec: Gen.TranscriptSpec): DataFrame = {
    val rdd = ctx.sc.parallelize(0 until spec.slices, spec.slices).flatMap { s =>
      Gen.transcriptSlice(spec, s).map(t =>
        Row(t.convId, t.turnIdx, t.tool, new java.sql.Timestamp(t.tsSec * 1000L)))
    }
    ctx.spark.createDataFrame(rdd, Schema)
  }

  def contentHash(df: DataFrame): Long =
    df.select("conv_id", "turn_idx", "tool", "ts").rdd
      .map(r => Gen.turnHash(r.getString(0), r.getInt(1), r.getString(2), r.getTimestamp(3).getTime / 1000L))
      .fold(0L)(_ + _)

  def materialize(ctx: Ctx, dir: String, truth: Gen.TranscriptTruth): Boolean =
    Inputs.materialize(ctx.spark, dir, truth.fingerprint("transcripts"), contentHash)(d =>
      frame(ctx, truth.spec).write.parquet(d))

  def sampleKeys(spec: Gen.TranscriptSpec, n: Int): Array[Array[Byte]] =
    Gen.transcriptSlice(spec, 0).take(n).map(t => s"${t.convId}\u0001${t.turnIdx}".getBytes(UTF_8)).toArray

  /** Global Bloom(conv_id, turn_idx) + HLL(conv_id) + CMS(tool) blobs. */
  final case class Blobs(bloom: Array[Byte], hll: Array[Byte], cms: Array[Byte]) {
    def bytes: Long = bloom.length.toLong + hll.length + cms.length
  }

  /** The q01–q11 build: byte keys through gf's aggregates, sharded on conv_id. */
  def buildBlobs(t: DataFrame, capacity: Long): Blobs = {
    import Workloads._
    val r = shardedSketchBlobs(t.select("conv_id", "turn_idx", "tool"), BuildShards, col("conv_id"))(
      "bloom" -> gf.bloomAgg(capacity, Fpp)(gf.sketchKey(col("conv_id"), col("turn_idx"))),
      "hll" -> gf.hllAgg(gf.sketchKey(col("conv_id"))),
      "cms" -> gf.cmsAgg(CmsEps, CmsDelta)(gf.sketchKey(col("tool")))).head
    Blobs(r.getAs[Array[Byte]]("bloom"), r.getAs[Array[Byte]]("hll"), r.getAs[Array[Byte]]("cms"))
  }

  /** Bloom count within 2%, HLL within 3·1.04/√m, CMS per tool in [exact, exact + εN]. */
  def checkBlobs(truth: Gen.TranscriptTruth, b: Blobs): Check = {
    val n = truth.rows.toDouble
    val bloom = SketchCodec.decodeBloom(b.bloom)
    val hll = SketchCodec.decodeHll(b.hll)
    val cms = SketchCodec.decodeCms(b.cms)
    val eBloom = math.abs(bloom.approximateElementCount - n) / n / 0.02
    val convs = truth.distinctConvs.toDouble
    val eHll = math.abs(hll.estimate - convs) / convs / (3 * hll.relativeStandardError)
    val slack = Workloads.CmsEps * n
    val eCms = truth.toolCounts.map { case (tool, exact) =>
      val est = cms.estimate(tool)
      if (est < exact) 1.0 + (exact - est) / slack else (est - exact) / slack
    }.max
    val worst = Seq(eBloom, eHll, eCms).max
    Check(worst <= 1.0, worst, f"bloom=$eBloom%.3f hll=$eHll%.3f cms=$eCms%.3f")
  }
}

// ------------------------------------------------------------------- build
/** The write path: one global sketch build per op. */
object Build extends Workload {
  val name = "build"
  def spec(seed: Long): Gen.TranscriptSpec =
    Gen.TranscriptSpec(seed, turns = 1200000L, slices = 8, tools = 8, windows = 28, windowHours = 6)

  def setup(ctx: Ctx, seed: Long, dir: String): Instance = {
    val truth = new Gen.TranscriptTruth(spec(seed), windowed = false)
    TranscriptTable.materialize(ctx, dir, truth)
    new Instance {
      val items: Long = truth.rows
      def op(ctx: Ctx, i: Int): AnyRef =
        ctx.span("catalyst", "shardedSketchBlobs")(TranscriptTable.buildBlobs(ctx.read(dir), items))
      def check(ctx: Ctx, out: AnyRef): Check =
        ctx.span("core", "decode_estimate")(
          TranscriptTable.checkBlobs(truth, out.asInstanceOf[TranscriptTable.Blobs]))
      def sketchBytesPerItem(ctx: Ctx, out: AnyRef): Double =
        out.asInstanceOf[TranscriptTable.Blobs].bytes.toDouble / items
      lazy val kernelKeys: Array[Array[Byte]] = TranscriptTable.sampleKeys(truth.spec, 100000)
      def keyTable(ctx: Ctx): DataFrame =
        ctx.read(dir).select(col("conv_id").as("a"), col("turn_idx").as("b"), col("tool").as("c"))
    }
  }
}

// ----------------------------------------------------------- stream_rollup
/** An AvailableNow file stream through the windowed sketch family, then a
  * per-window rollup of the per-tool rows. */
object StreamRollup extends Workload {
  val name = "stream_rollup"
  val Capacity = 10000L

  def spec(seed: Long): Gen.TranscriptSpec =
    Gen.TranscriptSpec(seed, turns = 90000L, slices = 3, tools = 6, windows = 100, windowHours = 6)

  final case class Out(groups: Array[Row], rolled: Array[Row], progress: Seq[StreamingQueryProgress])

  private def rollup(df: DataFrame): DataFrame =
    df.groupBy(col("window")).agg(
        sketchMergeAgg(col("hll_convs")).as("hll"),
        sketchMergeAgg(col("bloom_turns")).as("bloom"),
        sketchMergeAgg(col("theta_convs")).as("theta"))
      .select(col("window.start").as("start"), col("hll"), col("bloom"), col("theta"))

  def setup(ctx: Ctx, seed: Long, dir: String): Instance = {
    val truth = new Gen.TranscriptTruth(spec(seed), windowed = true)
    TranscriptTable.materialize(ctx, dir, truth)
    // the one-shot batch build each op's rollup must equal bit for bit
    val reference: Map[Long, (Array[Byte], Array[Byte], Array[Byte])] = ctx.read(dir)
      .groupBy(window(col("ts"), s"${truth.spec.windowHours} hours"))
      .agg(hllAggNative(col("conv_id")).as("hll"),
        bloomAggNative(Capacity, Workloads.Fpp)(col("conv_id"), col("turn_idx")).as("bloom"),
        thetaAggNative(col("conv_id")).as("theta"))
      .select(col("window.start").as("start"), col("hll"), col("bloom"), col("theta"))
      .collect().map(r => r.getTimestamp(0).getTime -> ((r.getAs[Array[Byte]](1),
        r.getAs[Array[Byte]](2), r.getAs[Array[Byte]](3)))).toMap
    def windowOf(startMs: Long): Int =
      ((startMs / 1000L - Gen.BaseEpochSec) / (truth.spec.windowHours * 3600L)).toInt

    new Instance {
      val items: Long = truth.rows
      def op(ctx: Ctx, i: Int): AnyRef = {
        val sink = s"perfbench_windows_$i"
        val ckpt = ctx.dir(s"checkpoint-$i")
        val stream = ctx.spark.readStream.schema(TranscriptTable.Schema)
          .option("maxFilesPerTrigger", "1").parquet(dir)
        val q = ctx.span("streaming", "windowedSketches") {
          val q = StreamingSketch.windowedSketches(stream, capacity = Capacity).writeStream
            .outputMode("complete")
            .trigger(Trigger.AvailableNow())
            .option("checkpointLocation", ckpt)
            .format("memory")
            .queryName(sink)
            .start()
          // the query's jobs run on its own thread, under its run id as job group
          ctx.tracer.adopt(q.runId.toString)
          q.awaitTermination()
          q
        }
        try {
          val table = ctx.spark.table(sink)
          val groups = table.select(col("window.start"), col("tool"), col("n_turns")).collect()
          val rolled = ctx.span("catalyst", "sketchMergeAgg")(rollup(table).collect())
          Out(groups, rolled, q.recentProgress.toSeq)
        } finally {
          ctx.spark.catalog.dropTempView(sink)
          Dirs.delete(ckpt)
        }
      }
      /** One op checks every window's HLL. Each window is gated at the z that
        * keeps the whole op's false-alarm rate at a single 3σ test's (0.27%,
        * Šidák-corrected over the windows), not at 3σ per window. */
      private val z = {
        val perWindow = 1 - math.pow(1 - 0.0027, 1.0 / truth.spec.windows)
        new org.apache.commons.math3.distribution.NormalDistribution().inverseCumulativeProbability(1 - perWindow / 2)
      }
      def check(ctx: Ctx, out: AnyRef): Check = ctx.span("core", "decode_estimate") {
        val o = out.asInstanceOf[Out]
        val counts = o.groups.map(r => (windowOf(r.getTimestamp(0).getTime), r.getString(1)) -> r.getLong(2)).toMap
        val countsOk = counts == truth.groupCounts.toMap
        var worst = 0.0
        var identical = o.rolled.length == reference.size
        o.rolled.foreach { r =>
          val start = r.getTimestamp(0).getTime
          val (h, b, t) = (r.getAs[Array[Byte]](1), r.getAs[Array[Byte]](2), r.getAs[Array[Byte]](3))
          reference.get(start) match {
            case Some((rh, rb, rt)) =>
              identical &&= java.util.Arrays.equals(h, rh) && java.util.Arrays.equals(b, rb) &&
                java.util.Arrays.equals(t, rt)
            case None => identical = false
          }
          val hll = SketchCodec.decodeHll(h)
          val exact = truth.windowConvs.get(windowOf(start)).map(_.size.toDouble).getOrElse(0.0)
          val e = if (exact == 0) 2.0 else math.abs(hll.estimate - exact) / exact / (z * hll.relativeStandardError)
          worst = math.max(worst, e)
        }
        Check(countsOk && identical && worst <= 1.0, worst,
          f"groups=${counts.size}/${truth.groupCounts.size} counts_ok=$countsOk rollup_identical=$identical hll_error_over_bound=$worst%.3f")
      }
      def sketchBytesPerItem(ctx: Ctx, out: AnyRef): Double =
        out.asInstanceOf[Out].progress.lastOption.flatMap(_.stateOperators.headOption)
          .map(_.memoryUsedBytes.toDouble / items).getOrElse(0.0)
      override def layer(ctx: Ctx, out: AnyRef): Map[String, Double] = {
        val ps = out.asInstanceOf[Out].progress.filter(_.numInputRows > 0)
        def p50(key: String): Double =
          Stats.median(ps.map(p => Option(p.durationMs.get(key)).map(_.toDouble).getOrElse(0.0)))
        val last = ps.lastOption.flatMap(_.stateOperators.headOption)
        Map("streaming.batches" -> ps.size.toDouble,
          "streaming.batch_ms_p50" -> p50("triggerExecution"),
          "streaming.add_batch_ms_p50" -> p50("addBatch"),
          "streaming.commit_ms_p50" -> p50("commitOffsets"),
          "streaming.plan_ms_p50" -> p50("queryPlanning"),
          "streaming.state_rows" -> last.map(_.numRowsTotal.toDouble).getOrElse(0.0),
          "streaming.state_rows_updated" -> ps.flatMap(_.stateOperators.headOption).map(_.numRowsUpdated.toDouble).sum,
          "streaming.state_mb" -> last.map(_.memoryUsedBytes / 1e6).getOrElse(0.0))
      }
      lazy val kernelKeys: Array[Array[Byte]] = TranscriptTable.sampleKeys(truth.spec, 60000)
      def keyTable(ctx: Ctx): DataFrame =
        ctx.read(dir).select(col("conv_id").as("a"), col("turn_idx").as("b"), col("tool").as("c"))
    }
  }
}

// ------------------------------------------------------------------- dedup
/** graft.pipeline near-duplicate detection over a seeded documents corpus. */
object Dedup extends Workload {
  val name = "dedup"
  // driver-side planning dominates this op, and it keeps speeding up for
  // longer than the other workloads' ops
  override val warmupOps = 5
  val Docs = 600
  val Dups = 60
  val Sample = 64

  final case class Out(exact: Set[(Long, Long)], candidates: Set[(Long, Long)],
      canonical: Map[Long, Long], joinRows: Long)

  /** Output rows of the largest sort-merge join: the shingle self-join. */
  private def joinRows(df: DataFrame): Long = {
    def rows(p: SparkPlan): Seq[Long] = p match {
      case a: AdaptiveSparkPlanExec => rows(a.executedPlan)
      case q: QueryStageExec => rows(q.plan)
      case m: InMemoryTableScanExec => rows(m.relation.cachedPlan)
      case r: ReusedExchangeExec => rows(r.child)
      case j: SortMergeJoinExec => j.metrics("numOutputRows").value +: j.children.flatMap(rows)
      case other => other.children.flatMap(rows)
    }
    rows(df.queryExecution.executedPlan).maxOption.getOrElse(0L)
  }

  def setup(ctx: Ctx, seed: Long, dir: String): Instance = {
    val corpus = new Gen.Corpus(Gen.DocSpec(seed, Docs, Dups))
    val schema = StructType(Seq(StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType, nullable = false)))
    Inputs.materialize(ctx.spark, dir, corpus.fingerprint, df => df.select("doc_id", "text").rdd
      .map(r => Gen.mix(r.getLong(0), Gen.strHash(r.getString(1)))).fold(0L)(_ + _)) { d =>
      val rows = corpus.docs.toSeq.map(doc => Row(doc.docId, doc.text))
      ctx.spark.createDataFrame(ctx.sc.parallelize(rows, 4), schema).write.parquet(d)
    }
    val planted = corpus.planted.toSet

    new Instance {
      val items: Long = corpus.docs.length.toLong
      def op(ctx: Ctx, i: Int): AnyRef = {
        val docs = ctx.read(dir)
        val shingled = ctx.span("pipeline", "shingle") {
          val s = TextPipeline.withShingles(docs, "__sh").select("doc_id", "__sh").cache()
          s.count()
          s
        }
        var exactDf: DataFrame = null
        try {
          val (exact, rows) = ctx.span("pipeline", "exact_pairs") {
            val pairs = TextPipeline.exactJaccardPairsFromShingled(shingled).select("doc_a", "doc_b")
            exactDf = pairs.cache()
            val got = exactDf.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
            (got, joinRows(exactDf))
          }
          val candidates = ctx.span("pipeline", "lsh_candidates") {
            TextPipeline.minhashCandidatesFromShingled(shingled).collect()
              .map(r => (r.getLong(0), r.getLong(1))).toSet
          }
          val canonical = ctx.span("pipeline", "clusters") {
            val c = TextPipeline.dedupClusters(exactDf)
            try c.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap finally c.unpersist()
          }
          Out(exact, candidates, canonical, rows)
        } finally {
          if (exactDf != null) exactDf.unpersist()
          shingled.unpersist()
        }
      }
      def check(ctx: Ctx, out: AnyRef): Check = {
        val o = out.asInstanceOf[Out]
        val found = planted.forall(o.exact)
        val rng = new java.util.SplittableRandom(Gen.mix(seed, o.exact.size.toLong))
        val pool = o.exact.toIndexedSeq.sorted
        val sample = Seq.fill(math.min(Sample, pool.size))(pool(rng.nextInt(pool.size)))
        val verified = sample.forall { case (a, b) => a < b && Gen.jaccard(corpus.text(a), corpus.text(b)) >= 0.5 }
        val clustered = planted.forall { case (a, b) =>
          o.canonical.get(a).exists(c => o.canonical.get(b).contains(c))
        }
        // LSH misses among planted pairs, gated at the band scheme's miss probability
        val j3 = math.pow(0.55, TextPipeline.MinhashRows.toDouble)
        val miss = math.pow(1 - j3, TextPipeline.MinhashBands.toDouble)
        val missed = planted.count(p => !o.candidates(p))
        val e = missed / Workloads.fpBound(planted.size.toLong, miss)
        Check(found && verified && clustered && e <= 1.0, e,
          s"exact=${o.exact.size} planted_found=$found sample_verified=$verified clustered=$clustered lsh_missed=$missed")
      }
      /** Minhash band-key bytes (8 per band key) per document. */
      def sketchBytesPerItem(ctx: Ctx, out: AnyRef): Double = {
        val shingled = TextPipeline.withShingles(ctx.read(dir), "__sh")
        val keys = shingled.select(sum(coalesce(size(minhashBandKeys(col("__sh"))), lit(0)))).head.getLong(0)
        8.0 * keys / items
      }
      override def layer(ctx: Ctx, out: AnyRef): Map[String, Double] = {
        val o = out.asInstanceOf[Out]
        val useful = o.candidates.count(o.exact).toDouble
        Map("pipeline.join_rows" -> o.joinRows.toDouble,
          "pipeline.exact_pairs" -> o.exact.size.toDouble,
          "pipeline.candidates" -> o.candidates.size.toDouble,
          "pipeline.candidate_precision" -> (if (o.candidates.isEmpty) 0.0 else useful / o.candidates.size),
          "pipeline.candidate_recall" -> (if (o.exact.isEmpty) 0.0 else useful / o.exact.size))
      }
      lazy val kernelKeys: Array[Array[Byte]] =
        corpus.docs.iterator.flatMap(d => Gen.shingles(d.text)).map(_.getBytes(UTF_8)).take(100000).toArray
      def keyTable(ctx: Ctx): DataFrame = TextPipeline.docShingles(ctx.read(dir))
        .select(col("sh").as("a"), col("doc_id").cast("int").as("b"), lit("doc").as("c"))
    }
  }
}
