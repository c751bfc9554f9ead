package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** PERSISTED MinHash-LSH band index — the text-dedup sibling of the
  * IVF vector index (VectorPipeline.writeIvfIndex): at corpus scale a
  * near-dup index is never built once, it accretes, and the expensive
  * thing is NOT the candidate join — it is re-shingling and re-minhashing
  * the corpus every time a new ingest batch has to be deduped against it.
  *
  * The layout, sidecar protocol, probe, ingest and lifecycle are
  * [[BandIndex]]'s. This family stores 42 (band, bkey, doc_id) rows per
  * document (Broder 1997 banding over word 3-shingles), pins rows per
  * band, bands and shingle width in its `_lshmeta` sidecar, and
  * exact-verifies candidates by Jaccard ≥ 1/2 (the q15 criterion). q55
  * gates build-half + append-half against the one-shot projection by
  * xor-signature.
  *
  * Scale accounting (the honest trade): the index stores 42 × 20 B rows
  * per document (~300 B/doc after parquet encoding) — small next to the
  * documents themselves, but not free. What it buys is that a daily
  * ingest of ΔN docs costs O(ΔN) shingle+minhash work plus a join whose
  * corpus side is an 8-byte-key scan, instead of the O(corpus) re-shingle
  * + re-minhash a from-scratch `minhashCandidates(corpus ∪ Δ)` pays —
  * the same increment-vs-reprocess argument as the weighted-sample blobs
  * (BENCH.md "Weighted training-mix sampling") and the IVF append path.
  */
object LshIndex extends BandIndex(LshFamily.value)

/** The MinHash text family: shingle+minhash signature, Jaccard verify. */
private object LshFamily {

  val value: BandFamily = BandFamily(
    name = "LSH banding", owner = "LshIndex", metaDir = "_lshmeta", seed = 0x15AL,
    fields = Seq("rows_per_band" -> TextPipeline.MinhashRows,
      "bands" -> TextPipeline.MinhashBands,
      "shingle_width" -> TextPipeline.ShingleWidth),
    bucketsPos = 2,
    idCol = "doc_id", payloadCol = "text",
    sign = docs => TextPipeline.withShingles(docs, "__sh")
      .select(col("doc_id"),
        posexplode_outer(graft.spark.catalyst.minhashBandKeys(col("__sh")))
          .as(Seq("band", "bkey"))),
    verify = jaccard)

  /** Candidate pairs (aCol, bCol) with Jaccard ≥ 1/2 in integer
    * arithmetic. Verifies ONLY candidate docs: both text relations are
    * semi-joined down to docs that appear in some candidate pair, then
    * the ONE sort-merge shingle self-join pairStatsFromShingled is built
    * around runs over that slice (identical children → ReusedExchange,
    * the explode evaluated once) — the same plan the exact oracles use.
    * Emits (aCol, bCol, n_common, n_union). */
  private def jaccard(cands: DataFrame, aCol: String, bCol: String,
      aDocs: DataFrame, bDocs: DataFrame): DataFrame = {
    val restricted = aDocs
      .join(cands.select(col(aCol).as("doc_id")).distinct(), "doc_id")
      .unionByName(bDocs
        .join(cands.select(col(bCol).as("doc_id")).distinct(), "doc_id"))
    val stats = TextPipeline.pairStatsFromShingled(
      TextPipeline.withShingles(restricted, "__sh"))
      .withColumnRenamed("doc_a", "__lo").withColumnRenamed("doc_b", "__hi")
    // pairStats emits doc_a < doc_b; recover the (a, b) orientation by an
    // EQUI-join against the normalized candidate pairs (the two sides'
    // doc ids are disjoint, so a pair's orientation is unique)
    val candsN = cands.select(
      least(col(aCol), col(bCol)).as("__lo"),
      greatest(col(aCol), col(bCol)).as("__hi"),
      col(aCol), col(bCol))
    stats
      .filter(lit(2) * col("n_common") >= col("na") + col("nb") - col("n_common"))
      .join(candsN, Seq("__lo", "__hi"))
      .select(col(aCol), col(bCol),
        col("n_common").cast("long").as("n_common"),
        (col("na") + col("nb") - col("n_common")).cast("long").as("n_union"))
  }
}
