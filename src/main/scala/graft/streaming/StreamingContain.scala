package graft.streaming

import graft.queries.Dedup
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.{DataFrame, Row}

/** Streaming CONTAINMENT probe — the streaming twin of batch q127, in
  * the frozen-index discipline of [[StreamingProbe]] and
  * `queries.PartitionedState`:
  * the corpus containment index (gram postings + per-doc sizes +
  * per-gram dfs, [[Dedup.buildContainIndex]]) freezes once at publish
  * time; each arriving micro-batch of documents runs the SAME probe
  * kernel batch q127 runs ([[Dedup.probeContain]] — one spelling, the
  * surfaces cannot fork) with the micro-batch as the delta side:
  * rarest-gram probes by FROZEN df, candidate-bounded exact confirm,
  * engulfment verdicts the moment a document lands.
  *
  * Stateless by construction — the probe is a pure function of
  * (micro-batch, frozen index), so there is no state store, no
  * watermark, and redelivery re-emits the identical verdicts (the
  * probe's self-pair guard covers a redelivered already-indexed doc).
  * The recall contract is q127's, with the streaming-specific edge
  * stated: a delta gram ABSENT from the frozen index never probes —
  * full engulfment in an indexed container is still found with
  * recall 1.0 (every gram of a contained doc is in the index by
  * definition), and delta-vs-delta engulfment is invisible until the
  * next index re-freeze, exactly like StreamingProbe's near-dup
  * horizon.
  */
object StreamingContain {

  /** One micro-batch's verdicts — batch q127's probe kernel verbatim.
    * Exposed for the convergence spec and for `foreachBatch` callers.
    */
  def probeBatch(batch: DataFrame, idx: Dedup.ContainIndex): DataFrame =
    probeBatchManaged(batch, idx)._1

  /** [[probeBatch]] with the candidate cut's release handle — the
    * streaming path's form (r12 advice): each micro-batch's probe pins
    * one candidate localCheckpoint, and on an unbounded stream those
    * accumulate without bound — `Harness.settle` cannot sweep
    * mid-stream because it would also drop the frozen index's own
    * checkpoint, which cannot recompute. The caller releases after the
    * batch's verdict write lands (a released checkpoint must never be
    * scanned again — the Scratch.materializeManaged contract).
    */
  def probeBatchManaged(batch: DataFrame,
      idx: Dedup.ContainIndex): (DataFrame, () => Unit) = {
    val gd = Dedup.gramIds(batch)
    // own scratch tag: the kernel's candidate materialization must not
    // collide with batch q127's name when both run in one session
    Dedup.probeContainManaged(idx, gd,
      gd.groupBy(col("doc_id")).agg(count(lit(1)).as("ng")), "scontain")
  }

  /** The streaming wiring: every micro-batch of `(doc_id, text)`
    * documents probes the frozen index and appends its verdicts as
    * parquet under `outDir` (idempotent per batch id is not needed —
    * verdicts are pure rows; a replayed batch appends duplicates a
    * reader dedups on (doc_id, container_id), the StreamingProbe
    * downstream-verdict discipline).
    */
  def start(deltaDocs: DataFrame, idx: Dedup.ContainIndex,
      outDir: String): StreamingQuery =
    deltaDocs.writeStream
      .foreachBatch { (df: org.apache.spark.sql.Dataset[Row], _: Long) =>
        // release the batch's candidate checkpoint once its verdicts
        // are durably written — per-batch storage stays bounded no
        // matter how long the stream runs (r12 advice)
        val (verdicts, release) = probeBatchManaged(df, idx)
        try verdicts.write.mode("append").parquet(outDir)
        finally release()
      }
      .start()
}
