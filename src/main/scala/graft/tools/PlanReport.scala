package graft.tools

import graft.spark.Transcripts
import graft.spark.catalyst._
import graft.pipeline.TextPipeline
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Regenerates PLANS.md: the executed physical plans of the flagship
  * operators, with the scale-relevant properties (pushdown, pruning,
  * partial aggregation, codegen spans, broadcast vs SMJ) visible.
  * `runMain graft.tools.PlanReport > PLANS.md` shape — writes the file
  * itself to keep sbt log noise out. */
object PlanReport {
  // per-run suffix for the throwaway /tmp indexes below (PipelineEntries'
  // scratch-dir rule): concurrent PlanReport runs must not clobber each
  // other's indexes mid-scan, and index writers refuse existing paths
  private val runTag = java.util.UUID.randomUUID().toString.take(8)

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sf = "/root/testdata/sf0.001"
    val sb = new StringBuilder
    sb.append("# PLANS — executed physical plans of the flagship operators\n\n")
    sb.append("Auto-generated by `graft.tools.PlanReport` at sf0.001 (plans are\n")
    sb.append("shape-identical at scale; AQE-final, sketch blobs redacted).\n")

    def show(title: String, notes: String)(df: org.apache.spark.sql.DataFrame): Unit = {
      df.collect() // materialize so AQE finalizes + WSCG spans appear
      val lines = df.queryExecution.executedPlan.toString
        .replaceAll("0x[0-9A-F]{40,}", "0xSKETCH")
        .linesIterator.toSeq
      val plan = lines.take(40).mkString("\n") +
        (if (lines.length > 40) s"\n... (${lines.length - 40} more lines truncated)" else "")
      sb.append(s"\n## $title\n\n$notes\n\n```\n$plan\n```\n")
    }

    val t = Transcripts.load(spark, sf)
    val sketch = t.agg(bloomAggNative(10000L, 0.001)(col("conv_id"), col("turn_idx")))
      .head.getAs[Array[Byte]](0)

    show("Sharded sketch build (the 10^12-turn shape)",
      "`shardedSketchBlobs`: a narrow `Coalesce 8` groups the input\n" +
        "partitions into at most 8 tasks with no row shuffle, the PARTIAL\n" +
        "ObjectHashAggregate keeps one buffer per task (insert loop =\n" +
        "reference `insert`), and the one exchange ships those binary\n" +
        "buffers to the FINAL merge (= reference `union`).") {
      shardedSketchBlobs(t.select(col("conv_id"), col("turn_idx")), 8)(
        "bloom" -> bloomAggNative(1000L, 0.001)(col("conv_id"), col("turn_idx")),
        "hll" -> hllAggNative(col("conv_id")))
    }

    show("Bloom probe as filter (semi-join reduction)",
      "`graft_bloom_might_contain` sits INSIDE a WholeStageCodegen span\n" +
        "(`*(n) Filter`) — membership filtering at scan speed, no shuffle.") {
      t.filter(bloomMightContainNative(lit(sketch), col("conv_id"), col("turn_idx")))
    }

    show("Parquet pushdown + pruning",
      "PushedFilters reach the scan; ReadSchema holds only the projected\n" +
        "columns.") {
      spark.read.parquet(s"$sf/lineitem.parquet")
        .filter(col("l_quantity") > 30)
        .select(col("l_orderkey"), col("l_quantity"))
    }

    show("Dimension join (q24 shape)",
      "All three dimension joins plan as BroadcastHashJoin — no sort-merge\n" +
        "for small dims.") {
      val orders = spark.read.parquet(s"$sf/orders.parquet")
      val cust = spark.read.parquet(s"$sf/customer.parquet")
      val nation = spark.read.parquet(s"$sf/nation.parquet")
      val region = spark.read.parquet(s"$sf/region.parquet")
      orders.join(cust, col("o_custkey") === col("c_custkey"))
        .join(nation, col("c_nationkey") === col("n_nationkey"))
        .join(region, col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name")).agg(count(lit(1)).as("n_orders"))
    }

    show("Shard-table probe (membership at 10^12 turns, no merge)",
      "Probes route to their shard's filter by join; the filter column\n" +
        "is probed with `graft_bloom_might_contain_keyed`, whose shard-id\n" +
        "cache key bounds decode work to once per shard per task. No\n" +
        "`graft_sketch_merge_agg` anywhere — the global filter never\n" +
        "exists as one object.") {
      // build-side shard MUST be the routing function probeShardTable
      // uses internally — call the same saltBucket, never a hand-rolled
      // copy of its formula
      val shardTable = t
        .select(col("conv_id"), col("turn_idx"),
          saltBucket(8, col("conv_id")).as("shard"))
        .repartition(8, col("shard"))
        .groupBy(col("shard"))
        .agg(bloomAggNative(1000L, 0.001)(col("conv_id"), col("turn_idx")).as("sketch"))
      probeShardTable(shardTable, "shard", "sketch", 8, t,
        col("conv_id"), col("conv_id"), col("turn_idx"))
    }

    show("IVF cluster assignment (write-time step, shuffle-free)",
      "Per-row argmax against the literal codebook — ONE projection over\n" +
        "the embeddings scan; no Exchange exists between the scan and the\n" +
        "assignment (the previous crossJoin + Window.partitionBy(vec_id)\n" +
        "shape hash-exchanged and sorted corpus×ncentroids rows).") {
      val emb = graft.pipeline.VectorPipeline.embeddings(spark, sf)
      val book = graft.pipeline.VectorPipeline.trainedCodebook(emb, 16)
      graft.pipeline.VectorPipeline.ivfAssign(emb, book)
        .agg(sum(col("centroid_id")).as("assign_checksum"))
    }

    show("IVF probe against the PERSISTED index (partition-pruned scan)",
      "The index is the assigned corpus written partitionBy(centroid_id)\n" +
        "— inverted lists as directories. The probe filter arrives as\n" +
        "PartitionFilters on the scan (`centroid_id IN (...)`), so unprobed\n" +
        "lists are never read from storage: the scan-fraction claim\n" +
        "(nprobe/ncentroids) is enforced at the FILE level, not by\n" +
        "discarding rows post-scan. File-count metrics in IvfIndexSpec.") {
      val emb = graft.pipeline.VectorPipeline.embeddings(spark, sf)
      val book = graft.pipeline.VectorPipeline.trainedCodebook(emb, 16)
      val ixPath = s"/tmp/graft_plans_ivf_index_$runTag"
      graft.pipeline.VectorPipeline.writeIvfIndex(emb, book, ixPath)
      graft.pipeline.VectorPipeline.ivfTopKFromIndex(spark, ixPath, book,
        emb.filter(col("vec_id") === 0), 10, 2)
    }

    show("High-group-cardinality sketch table (sparse blobs)",
      "One HLL + one CMS per conversation: partial ObjectHashAggregate\n" +
        "below the exchange, and every partial/final state crosses the\n" +
        "shuffle through the codec's CANONICAL SPARSE layout (occupied\n" +
        "cells only — a 30-turn group ships ~10² bytes, not the 16 KiB\n" +
        "dense register file; see BENCH.md). Plan shape is the ordinary\n" +
        "grouped aggregate; the win is per-group bytes.") {
      t.groupBy(col("conv_id"))
        .agg(hllAggNative(col("turn_idx")).as("hll"),
          cmsAggNative(0.001, 0.01)(col("tool")).as("cms"))
    }

    show("Int8-quantized scoring scan (q44 shape)",
      "The corpus column is the 1-byte-per-dim QuantizeI8 blob; scoring\n" +
        "is the integer-MAC graft_cosine_i8 inside WholeStageCodegen —\n" +
        "4× less scan IO and ~1.6× less compute than float scoring\n" +
        "(BENCH.md cosine_i8_bench).") {
      val emb = graft.pipeline.VectorPipeline.embeddings(spark, sf)
      val qv = emb.filter(col("vec_id") === 0)
        .select(quantizeI8(col("embedding"))).head.getAs[Array[Byte]](0)
      emb.select(col("vec_id"), quantizeI8(col("embedding")).as("qe"))
        .select(col("vec_id"), cosineI8(col("qe"), lit(qv)).as("cos"))
        .filter(col("cos") > 0.5)
    }

    show("IVF-PQ probe (pruned ADC scan, q54 shape)",
      "The production index: PartitionFilters prune to the probed\n" +
        "inverted lists AND each list row is the 20-byte PqEncode blob —\n" +
        "scoring is graft_pq_adc_cosine (m byte-indexed lookups into the\n" +
        "broadcast per-query ADC table) inside WholeStageCodegen; no\n" +
        "float is decoded anywhere in the scan. Re-rank tail reads\n" +
        "C·dim floats per query via two broadcast joins (q44 shape).") {
      val emb = graft.pipeline.VectorPipeline.embeddings(spark, sf)
      val book = graft.pipeline.VectorPipeline.trainedCodebook(emb, 16)
      val pqBooks = graft.pipeline.VectorPipeline.trainedPqBooks(emb, m = 16,
        ksub = 64, iters = 3)
      val ixPath = s"/tmp/graft_plans_ivfpq_index_$runTag"
      graft.pipeline.VectorPipeline.writeIvfIndex(emb, book, ixPath,
        graft.pipeline.IvfLayout(storage = graft.pipeline.IvfStorage.Pq(pqBooks)))
      val queries = emb.filter(col("vec_id") === 0)
      graft.pipeline.VectorPipeline.rerankTopK(
        graft.pipeline.VectorPipeline.ivfScoredCandidatesFromIndex(spark, ixPath, queries, 2),
        emb, queries, 10, 40)
    }

    show("MinHash LSH band self-join (dedup candidate core)",
      "Shuffle-hash self-join on band keys; identical children make the\n" +
        "second Exchange a ReusedExchange, so the shingle+minhash pipeline\n" +
        "evaluates ONCE. Band keys are the native graft_minhash_band_keys\n" +
        "expression (round 4) — the projection stays inside WholeStageCodegen\n" +
        "instead of breaking on a Scala UDF.") {
      TextPipeline.minhashCandidates(
        TextPipeline.documents(spark, sf).select(col("doc_id"), col("text")))
    }

    show("Two-stage quantized search (int8 scan → float re-rank)",
      "Stage one scores the 1 B/dim corpus against the broadcast queries\n" +
        "and ranks top-C; stage two re-scores ONLY those C ids with exact\n" +
        "float graft_cosine — the candidate ids broadcast back against one\n" +
        "(vec_id, embedding) projection of the float store, a\n" +
        "BroadcastHashJoin at scan speed with both columns pruned at the\n" +
        "parquet read. No shuffle anywhere but the two window ranks\n" +
        "(per-query partitions, |q|·C rows).") {
      val emb = graft.pipeline.VectorPipeline.embeddings(spark, sf)
      graft.pipeline.VectorPipeline.bruteForceTopKQuantizedReranked(
        emb, emb.filter(col("vec_id") === 0), 10)
    }

    show("Two-level IVF assignment (coarse→fine, large-k write path)",
      "Same shuffle-free single-projection shape as the flat assignment\n" +
        "(no Exchange between the scan and the argmax) — the change is\n" +
        "inside the expression: per row, coarseK coarse scores + an exact\n" +
        "fine argmax over only the probed buckets, O((coarseK +\n" +
        "probes·k/coarseK)·dim) instead of O(k·dim). 6.9× at k=1024,\n" +
        "probes=2 (BENCH.md).") {
      val emb = graft.pipeline.VectorPipeline.embeddings(spark, sf)
      val book = graft.pipeline.VectorPipeline.trainedCodebook(emb, 16)
      graft.pipeline.VectorPipeline.ivfAssignTwoLevel(emb, book, coarseK = 4, probes = 2)
        .agg(sum(col("centroid_id")).as("assign_checksum"))
    }

    show("As-of join (q59 shape): union-tag + ONE window, no join node",
      "Event-time nearest-predecessor enrichment WITHOUT a join: both\n" +
        "sides union-tagged, ONE hash exchange on the key, one\n" +
        "per-partition sort, one running last-non-null window carrying\n" +
        "the matched right row as a struct. The plan below contains no\n" +
        "join operator at all (AsOfJoinSpec pins exactly one Exchange) -\n" +
        "the theta-join formulation (l.ts >= r.ts) Spark would otherwise\n" +
        "pick is a BroadcastNestedLoopJoin, O(|L|x|R|) per key at 100 TB.") {
      val ev = graft.spark.Transcripts.events(spark, sf)
      graft.spark.AsOfJoin.backward(
        ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"), col("event_id")),
        ev.filter(col("event_type") === "signup")
          .select(col("user_id"), col("ts"), col("event_id")),
        keys = Seq("user_id"), tsCol = "ts", tieBreak = "event_id",
        payload = Seq("event_id"))
    }

    show("Repetition signals (map-only curation stage)",
      "Every signal — word totals, distinct words, bigram totals, and\n" +
        "the most-repeated-bigram count (sorted-run fold over the row's\n" +
        "own bigram array) — is a projection over the scan: NO Exchange,\n" +
        "no join anywhere (PlanAuditSpec pins it). q47 adds only a\n" +
        "per-source rollup on top of this relation.") {
      graft.pipeline.TextPipeline.repetitionSignals(
        graft.pipeline.TextPipeline.documents(spark, sf))
        .select(col("doc_id"), col("n_words"), col("max_bigram_count"))
    }

    show("SRP band keys (dense-embedding LSH map side, native)",
      "The 512-projection signature is ONE codegen'd SrpBandKeys\n" +
        "expression inside the projection over the scan — no Exchange\n" +
        "before the band-key shuffle, no UDF boxing (42x vs the Scala\n" +
        "UDF, BENCH.md); posexplode keeps only (id, band, 8-byte key)\n" +
        "rows moving into the self-join.") {
      graft.pipeline.VectorPipeline.srpCandidates(
        graft.pipeline.VectorPipeline.embeddings(spark, sf))
    }

    show("Grouped sparse-Bloom table (q50 shape)",
      "One fixed-capacity filter per conversation: partial\n" +
        "ObjectHashAggregate below the exchange ships the CANONICAL v4\n" +
        "sparse blobs (bytes track set bits, not capacity — 457x on the\n" +
        "windowed state, BENCH.md), and the gate aggregation reads the\n" +
        "version byte with a codegen'd binary substring, no UDF.") {
      graft.spark.Transcripts.load(spark, sf)
        .groupBy(col("conv_id"))
        .agg(graft.spark.catalyst.bloomAggNative(100000L, 0.001)(
          col("conv_id"), col("turn_idx")).as("bsk"))
        .agg(count(lit(1)).as("n_groups"),
          sum(length(col("bsk"))).as("sketch_bytes"))
    }

    show("Weighted training-mix sample (q52 shape)",
      "A-ES weighted bottom-k per language: the partial\n" +
        "ObjectHashAggregate below the exchange ships AT MOST k entries\n" +
        "per (partition, language). For a ONE-SHOT mix Spark's partial\n" +
        "WindowGroupLimit gives a rank query the same map-side-limit\n" +
        "shape (SampleBench measures the honest delta: 1.9x, mostly the\n" +
        "rank's sort + race projection); the sketch's real edge is that\n" +
        "the blob is a STORED, MERGEABLE artifact - refreshing the mix\n" +
        "for a new ingest day scans only that day and folds the stored\n" +
        "blobs, 5.2x over a full re-rank at a 16-day corpus (BENCH.md),\n" +
        "with the ratio growing as corpus/increment.") {
      graft.pipeline.TextPipeline.documents(spark, sf)
        .groupBy(col("lang"))
        .agg(graft.spark.catalyst.weightedBottomKSampleAgg(64)(
          col("doc_id").cast("string"),
          (graft.pipeline.TextPipeline.wsTokenCount(col("text")) + lit(1)).cast("double"))
          .as("sk"))
        .select(col("lang"), length(col("sk")).as("blob_bytes"))
    }

    // persisted LSH index probe: build a throwaway index, show the pruned
    // probe, clean up (the IVF-probe section's pattern)
    val lshPath = s"/tmp/graft_plans_lsh_index_$runTag"
    def rmLsh(): Unit = {
      val p = new org.apache.hadoop.fs.Path(lshPath)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      ()
    }
    rmLsh()
    val lshDocs = TextPipeline.documents(spark, sf).select(col("doc_id"), col("text"))
    graft.pipeline.LshIndex.write(
      lshDocs.filter(col("doc_id") % 3 =!= 0), lshPath, numBuckets = 32)
    spark.conf.set("spark.sql.adaptive.enabled", "false") // surface the scan's PartitionFilters
    show("Persisted LSH index probe (bucket-pruned band join, q55 shape)",
      "The batch pays its own map-only MinhashBandKeys projection and is\n" +
        "BROADCAST onto the index scan; the index side is an 8-byte-key\n" +
        "parquet scan whose PartitionFilters restrict it to the buckets\n" +
        "the batch touches (a single-doc probe reads <= 42 of N bucket\n" +
        "dirs - unprobed buckets never leave storage). No shingle or text\n" +
        "column moves; the exact verify join runs only over candidate\n" +
        "survivors.") {
      graft.pipeline.LshIndex.probeCandidates(spark, lshPath,
        lshDocs.filter(col("doc_id") % 3 === 0).limit(5))
    }
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    rmLsh()

    // persisted SRP index probe — the dense-embedding sibling over the
    // same BandIndex probe join (q57 shape)
    val srpPath = s"/tmp/graft_plans_srp_index_$runTag"
    def rmSrp(): Unit = {
      val p = new org.apache.hadoop.fs.Path(srpPath)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      ()
    }
    rmSrp()
    val srpVecs = graft.pipeline.VectorPipeline.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))
    graft.pipeline.SrpIndex.write(srpVecs, srpPath, numBuckets = 32)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    show("Persisted SRP index probe (bucket-pruned band join, q57 shape)",
      "Same physical core as the LSH probe (BandIndex.probeJoin): the\n" +
        "batch pays its own map-only SrpBandKeys projection (32 keys x\n" +
        "O(dim) float products, codegen'd) and is BROADCAST onto the\n" +
        "index scan; PartitionFilters restrict the scan to the <= 32\n" +
        "buckets a single-vector probe touches. No embedding column\n" +
        "moves on the corpus side; exact-cosine verification runs only\n" +
        "over candidate survivors.") {
      graft.pipeline.SrpIndex.probeCandidates(spark, srpPath,
        graft.pipeline.VectorPipeline.perturbEmbeddings(
          srpVecs.orderBy(col("vec_id")).limit(1), 1000000L))
    }
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    rmSrp()

    // the IVF/IVF-PQ sections above also build throwaway /tmp indexes —
    // same cleanup rule as the LSH section
    for (p <- Seq(s"/tmp/graft_plans_ivf_index_$runTag",
        s"/tmp/graft_plans_ivfpq_index_$runTag")) {
      val hp = new org.apache.hadoop.fs.Path(p)
      hp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(hp, true)
    }

    java.nio.file.Files.writeString(java.nio.file.Paths.get("PLANS.md"), sb.toString)
    println(s"PLANS.md written (${sb.length} chars)")
    spark.stop()
  }
}
