package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming near-dup suppression for BINARY perceptual codes (image
  * dHash, audio fingerprints, sign codes) — the visual/audio sibling
  * of [[StreamingDedup]] (exact text): an ingest pipeline computes
  * codes with the partition-wise decode sweep
  * ([[graft.ops.Multimodal.imageDHash]] /
  * [[graft.ops.Multimodal.audioHash]]) and suppresses arrivals that
  * near-duplicate what the corpus already holds.
  *
  * Two tiers with different state contracts, mirroring StreamingDedup:
  *  - [[exactCodeStream]]: identical codes within the watermark
  *    horizon drop inside the streaming plan (built-in state store,
  *    bounded by the horizon) — catches re-encodes that preserve the
  *    code bit-for-bit.
  *  - [[dedupBatch]]: the `foreachBatch` kernel (dynamic-table
  *    refresh idiom): each micro-batch runs the SAME asymmetric banded
  *    pass the d22 oracle gates
  *    ([[graft.ops.Similarity.hammingNearDupPairsIncremental]]) against
  *    the accumulated code table, and the caller appends the survivors —
  *    so streaming and batch near-dup detection are one
  *    implementation with one gate.
  */
object StreamingCodeDedup {

  /** Bounded-state exact-code dedup inside the streaming plan: codes
    * are keyed by their canonical word string (arrays are not state
    * keys), and only the first arrival per key within the watermark
    * horizon survives.
    */
  def exactCodeStream(codes: DataFrame, codeCol: String,
                      eventTimeCol: String, horizon: String): DataFrame =
    codes
      .withColumn("__k", concat_ws(":", col(codeCol)))
      .withWatermark(eventTimeCol, horizon)
      .dropDuplicatesWithinWatermark("__k")
      .drop("__k")

  /** The KEEP set of an arriving micro-batch: batch rows that
    * near-duplicate the accumulated corpus are dropped (arrival order
    * wins — accumulated rows always beat batch rows), and within the
    * batch the smallest id of each pairwise-connected group survives
    * (pairs are normalized doc_a < doc_b, so dropping every doc_b
    * leaves exactly the per-chain minimum). The caller appends this
    * keep set to the accumulated table for the next micro-batch.
    */
  def dedupBatch(batch: DataFrame, accumulated: DataFrame,
                 idCol: String, codeCol: String,
                 maxHamming: Int = 3, maxBucket: Int = 1000): DataFrame = {
    // near-dup pairs against the accumulated table, in-batch pairs included
    val pairs = graft.ops.Similarity.hammingNearDupPairsIncremental(
      batch, accumulated, idCol, codeCol, maxHamming, maxBucket)
    val bIds = batch.select(col(idCol).as("__b")).distinct()
    // doc_b always drops (its partner is either accumulated or a
    // smaller batch id); doc_a drops only when its partner doc_b is
    // accumulated (a batch row never outranks the standing corpus)
    val dropB = pairs.select(col("doc_b").as("__drop"))
    val dropA = pairs
      .join(bIds, pairs("doc_b") === bIds("__b"), "left_anti")
      .select(col("doc_a").as("__drop"))
    batch.join(dropB.unionByName(dropA).distinct(),
      batch(idCol) === col("__drop"), "left_anti")
  }
}
