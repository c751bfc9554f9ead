package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** PERSISTED SRP (signed-random-projection) band index — the
  * dense-embedding sibling of the MinHash-LSH text index ([[LshIndex]]),
  * the same [[BandIndex]] over a different family. At corpus scale an
  * embedding near-dup gate is never built once: embeddings accrete batch
  * by batch, and the expensive thing is re-projecting the corpus every
  * time a new ingest batch must be deduped against it — the index stores
  * the 32 band keys per vector ONCE, so a batch probe pays
  * O(|batch|·dim) projection work plus a bucket-pruned 8-byte-key join.
  *
  * This family stores (band, bkey, vec_id) rows (Charikar 2002 signed
  * random projections; zero/empty/null embeddings have no direction and
  * produce no rows), pins the PROJECTION FAMILY in its `_srpmeta`
  * sidecar (band bits, bands, max dimension —
  * [[graft.spark.catalyst.SrpBandKernel]]'s compile-time constants, which
  * fix the deterministic ±1 sign matrix), and exact-verifies candidates
  * with the codegen'd cosine at cos ≥ τ.
  *
  * SRP is the right angular LSH only at HIGH cosine thresholds (per-bit
  * collision p = 1 − θ/π — see the VectorPipeline.srpCandidates scaladoc
  * for why moderate-τ support vectors should use minhash instead): the
  * index's designed use is exact-near-duplicate detection of re-encoded
  * or lightly-perturbed content at cos ≥ ~0.9, where the 16-bit × 32
  * banding has both vanishing miss probability (≈2e-5 at cos 0.95) and
  * strong random-pair suppression (p_band = 2^-16 at cos 0).
  */
object SrpIndex extends BandIndex(SrpFamily.value) {

  /** Exact-verification threshold. SRP recall at the 16×32 banding is
    * only strong above ~0.9 (see the class doc); callers probing for a
    * looser notion of similarity should use the IVF/PQ top-k surface
    * instead. */
  val DefaultTau: Double = 0.9
}

/** The SRP embedding family: projection signature, cosine verify. */
private object SrpFamily {
  import graft.spark.catalyst.SrpBandKernel

  val value: BandFamily = BandFamily(
    name = "SRP projection-family", owner = "SrpIndex", metaDir = "_srpmeta",
    seed = 0x529L, // distinct from the LSH sidecar's 0x15A
    fields = Seq("band_bits" -> SrpBandKernel.BandBits,
      "bands" -> SrpBandKernel.Bands, "max_dim" -> SrpBandKernel.MaxDim),
    bucketsPos = 2,
    idCol = "vec_id", payloadCol = "embedding",
    sign = vecs => vecs.select(col("vec_id"),
      posexplode_outer(graft.spark.catalyst.srpBandKeysNative(col("embedding")))
        .as(Seq("band", "bkey"))),
    verify = cosine)

  /** Candidate pairs (aCol, bCol) with cos ≥ [[SrpIndex.DefaultTau]]:
    * embeddings fetched ONLY for candidate ids. Emits (aCol, bCol, cos). */
  private def cosine(cands: DataFrame, aCol: String, bCol: String,
      aVecs: DataFrame, bVecs: DataFrame): DataFrame =
    cands
      .join(aVecs.select(col("vec_id").as(aCol), col("embedding").as("__e_a")), Seq(aCol))
      .join(bVecs.select(col("vec_id").as(bCol), col("embedding").as("__e_b")), Seq(bCol))
      .select(col(aCol), col(bCol),
        graft.spark.catalyst.cosineNative(col("__e_a"), col("__e_b")).as("cos"))
      .filter(col("cos") >= SrpIndex.DefaultTau)
}
