package graft.tools

import graft.pipeline.{IvfLayout, IvfStorage, VectorPipeline}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** PQ design sweep on the real embeddings: recall@10 (one-stage ADC and
  * float-re-ranked) and logical bytes/vector across (m, ksub, candMult).
  * Sets the PqSpec/q53 floors from MEASUREMENT — the testdata
  * embeddings are weakly clustered (within-label cos ≈ 0.14), so PQ
  * recall here is a property of the data, not hope.
  *
  * Usage: runMain graft.tools.PqBench [sfDir]
  */
object PqBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .appName("graft-pq-bench").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val emb = VectorPipeline.embeddings(spark, sfDir).cache()
    val n = emb.count()
    val queries = emb.filter(col("vec_id") < 20)
    val nq = queries.count()
    val bf = VectorPipeline.bruteForceTopK(emb, queries, 10)
      .select(col("q_id"), col("n_id")).cache()
    bf.count()

    println(s"corpus n=$n queries nq=$nq (float bytes/vector = 256)")
    for (m <- Seq(8, 16); ksub <- Seq(64, 256)) {
      val books = VectorPipeline.trainedPqBooks(emb, m = m, ksub = ksub, iters = 8)
      val scored = VectorPipeline.bruteForceScoredPq(emb, queries, books).cache()
      val one = VectorPipeline.topKFromScored(scored, 10).select(col("q_id"), col("n_id"))
      val rOne = bf.join(one, Seq("q_id", "n_id")).count().toDouble / (nq * 10)
      val rr = Seq(4, 10, 20).map { cm =>
        val two = VectorPipeline
          .rerankTopK(scored, emb, queries, 10, cm * 10)
          .select(col("q_id"), col("n_id"))
        cm -> bf.join(two, Seq("q_id", "n_id")).count().toDouble / (nq * 10)
      }
      scored.unpersist()
      val bytes = m + 4
      println(f"m=$m%2d ksub=$ksub%3d bytes/vec=$bytes%3d (${256.0 / bytes}%5.1fx) " +
        f"one-stage=$rOne%.3f " +
        rr.map { case (cm, r) => f"rerank(c=${cm}0)=$r%.3f" }.mkString(" "))
    }

    // IVF-PQ (the q54 config): pruned-list ADC + float re-rank recall
    // at two probe depths, plus the on-disk index size vs a float index
    val book = VectorPipeline.trainedCodebookDistributed(emb, 16,
      sampleN = 1 << 12, iters = 5).cache()
    val pqBooks = VectorPipeline.trainedPqBooks(emb, m = 16, ksub = 256)
    val pqIx = s"/tmp/graft_pqbench_pq_${java.util.UUID.randomUUID()}"
    val fIx = s"/tmp/graft_pqbench_f_${java.util.UUID.randomUUID()}"
    def dirBytes(p: String): Long = {
      val path = new org.apache.hadoop.fs.Path(p)
      path.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .getContentSummary(path).getLength
    }
    def deleteTmp(p: String): Unit = {
      val path = new org.apache.hadoop.fs.Path(p)
      path.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(path, true)
    }
    try {
      VectorPipeline.writeIvfIndex(emb, book, pqIx, IvfLayout(storage = IvfStorage.Pq(pqBooks)))
      VectorPipeline.writeIvfIndex(emb, book, fIx)
      val scored = VectorPipeline
        .ivfScoredCandidatesFromIndex(spark, pqIx, queries, 16).cache()
      val rr = Seq(8, 16).map { np =>
        val got = VectorPipeline.rerankTopK(
          scored.filter(col("probe_rank") <= np), emb, queries, 10, 40)
          .select(col("q_id"), col("n_id"))
        np -> bf.join(got, Seq("q_id", "n_id")).count().toDouble / (nq * 10)
      }
      scored.unpersist()
      println(f"ivfpq m=16 ksub=256 " +
        rr.map { case (np, r) => f"rerank@nprobe=$np=$r%.3f" }.mkString(" ") +
        f" index_bytes=${dirBytes(pqIx)} float_index_bytes=${dirBytes(fIx)} " +
        f"(${dirBytes(fIx).toDouble / dirBytes(pqIx)}%.1fx)")
    } finally { deleteTmp(pqIx); deleteTmp(fIx) }
    spark.stop()
  }
}
