package graft.tools

import graft.pipeline.{IvfLayout, IvfStorage, VectorPipeline}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Recall-vs-nprobe sweep for the trained IVF codebook (the q17
  * evidence recorded in BENCH.md): for each testdata SF, trains the
  * deterministic k-means codebook, then prints recall@10 of ivfTopK vs
  * the brute-force baseline at every nprobe, for both the trained and
  * the naive (first-16-by-id) codebook. */
object IvfSweep {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[16]")
      .config("spark.sql.shuffle.partitions", "16")
      .config("spark.local.dir", "/dev/shm/graft-spark")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    println("sf,codebook,nprobe,recall_at_10")
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val emb = VectorPipeline.embeddings(spark, s"/root/testdata/$sf").cache()
      val queries = emb.filter(col("vec_id") < 20)
      val nq = queries.count()
      val bf = VectorPipeline.bruteForceTopK(emb, queries, 10)
        .select(col("q_id"), col("n_id")).cache()
      bf.count()
      for ((name, book) <- Seq(
          "trained" -> VectorPipeline.trainedCodebook(emb, 16),
          "naive" -> VectorPipeline.codebook(emb, 16))) {
        val b = book.cache()
        val assigned = VectorPipeline.ivfAssign(emb, b).cache()
        // one scored pass at the deepest probe serves the whole sweep
        val scored = VectorPipeline.ivfScoredCandidates(assigned, b, queries, 16).cache()
        for (nprobe <- Seq(4, 6, 8, 10, 12, 14, 16)) {
          val ivf = VectorPipeline
            .topKFromScored(scored.filter(col("probe_rank") <= nprobe), 10)
            .select(col("q_id"), col("n_id"))
          val recall = bf.join(ivf, Seq("q_id", "n_id")).count().toDouble / (nq * 10)
          println(f"$sf,$name,$nprobe,$recall%.3f")
        }
        scored.unpersist(); assigned.unpersist(); b.unpersist()
      }
      // IVF-SQ8: the trained codebook over int8-quantized inverted lists
      // (recall vs the FLOAT brute-force truth — quantization error and
      // routing error compound here)
      {
        val b = VectorPipeline.trainedCodebook(emb, 16).cache()
        val qPath = "/tmp/graft_sweep_ivf_q8"
        VectorPipeline.writeIvfIndex(emb, b, qPath, IvfLayout(storage = IvfStorage.Int8))
        for (nprobe <- Seq(8, 12, 16)) {
          val ivf = VectorPipeline
            .ivfTopKFromIndex(spark, qPath, b, queries, 10, nprobe)
            .select(col("q_id"), col("n_id"))
          val recall = bf.join(ivf, Seq("q_id", "n_id")).count().toDouble / (nq * 10)
          println(f"$sf,trained_sq8,$nprobe,$recall%.3f")
        }
        b.unpersist()
      }
      bf.unpersist(); emb.unpersist()
    }

    // write-time assignment throughput, BEFORE vs AFTER the round-3
    // rewrite: the sf0.1 corpus replicated 50x, min of 3 timed passes
    // each. "windowed" reconstructs the superseded round-2 shape
    // (crossJoin + Window.partitionBy(vec_id) argmax — a corpus×16-row
    // exchange); "argmax" is the shipped shuffle-free projection. Both
    // produce identical assignments (asserted). Evidence for BENCH.md.
    {
      val emb = VectorPipeline.embeddings(spark, "/root/testdata/sf0.1")
      val reps = 500 // 1M vectors: small enough for the cache, big enough
      // that the windowed shape's corpus×16-row exchange+sort is visible
      val big = emb.crossJoin(spark.range(0, reps.toLong).toDF("rep"))
        .select((col("vec_id") * reps + col("rep")).as("vec_id"), col("embedding"))
        .cache()
      val n = big.count()
      val book = VectorPipeline.trainedCodebook(emb, 16).cache()
      book.count()
      def time(mk: () => org.apache.spark.sql.DataFrame): Double = {
        def once(): Double = {
          val t0 = System.nanoTime()
          mk().agg(sum(col("centroid_id"))).collect()
          (System.nanoTime() - t0) / 1e9
        }
        once() // warm-up
        (1 to 3).map(_ => once()).min
      }
      val tNew = time(() => VectorPipeline.ivfAssign(big, book))
      val tOld = time(() => ivfAssignWindowed(big, book))
      val agree = VectorPipeline.ivfAssign(big, book).select(col("vec_id"), col("centroid_id"))
        .exceptAll(ivfAssignWindowed(big, book).select(col("vec_id"), col("centroid_id")))
        .isEmpty
      println(f"assign_bench,n_vectors=$n,argmax_secs=$tNew%.3f,windowed_secs=$tOld%.3f," +
        f"speedup=${tOld / tNew}%.2f,assignments_identical=$agree")

      // raw scoring-scan throughput, native CosineSim vs the superseded
      // zip_with/aggregate higher-order formula (CodegenFallback): one
      // fixed query vector against every corpus row — the brute-force /
      // verification hot shape. Evidence for vectorExpressions.scala's
      // speedup claim.
      {
        val q = emb.orderBy(col("vec_id")).limit(1)
          .collect()(0).getSeq[Float](1)
        def hof(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) = {
          val dot = aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (acc, v) => acc + v)
          val na = sqrt(aggregate(a, lit(0.0d), (acc, v) => acc + v * v))
          val nb = sqrt(aggregate(b, lit(0.0d), (acc, v) => acc + v * v))
          dot / greatest(na * nb, lit(1e-12d))
        }
        val tNative = time(() => big.select(col("vec_id"),
          (graft.spark.catalyst.cosineNative(col("embedding"), typedLit(q)) * 1e6)
            .cast("long").as("centroid_id")))
        val tHof = time(() => big.select(col("vec_id"),
          (hof(col("embedding"), typedLit(q)) * 1e6).cast("long").as("centroid_id")))
        println(f"cosine_bench,n_vectors=$n,native_secs=$tNative%.3f,hof_secs=$tHof%.3f," +
          f"speedup=${tHof / tNative}%.2f")

        // int8 scoring vs float scoring over a PRE-QUANTIZED cached
        // corpus: in cache the win is compute (byte MAC vs float MAC);
        // on a cold parquet scan it compounds with the 3.7× smaller IO
        // (q44's storage gate)
        val qBytes: Array[Byte] = {
          val m = q.map(math.abs).max
          if (m > 0f) q.map(x => math.round(x * 127f / m).toByte).toArray
          else new Array[Byte](q.length)
        }
        val bigQ = big.select(col("vec_id"),
          graft.spark.catalyst.quantizeI8(col("embedding")).as("qe")).cache()
        bigQ.count()
        val tI8 = time(() => bigQ.select(col("vec_id"),
          (graft.spark.catalyst.cosineI8(col("qe"), lit(qBytes)) * 1e6)
            .cast("long").as("centroid_id")))
        println(f"cosine_i8_bench,n_vectors=$n,i8_secs=$tI8%.3f,f32_secs=$tNative%.3f," +
          f"speedup_vs_f32=${tNative / tI8}%.2f")
        bigQ.unpersist()
      }
      big.unpersist(); book.unpersist()
    }
    spark.stop()
  }

  /** The SUPERSEDED round-2 assignment shape, kept ONLY as the bench
    * comparator for the shuffle-free rewrite (do not use: it exchanges
    * and sorts corpus×ncentroids rows for a per-row reduction). */
  private def ivfAssignWindowed(corpus: org.apache.spark.sql.DataFrame,
      book: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = corpus.crossJoin(broadcast(book))
      .select(col("vec_id"), col("embedding"), col("centroid_id"),
        VectorPipeline.cosine(col("embedding"), col("c_emb")).as("cos"))
    val w = Window.partitionBy(col("vec_id")).orderBy(col("cos").desc, col("centroid_id"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("vec_id"), col("embedding"), col("centroid_id"))
  }
}
