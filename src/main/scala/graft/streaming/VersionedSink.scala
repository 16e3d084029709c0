package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.VersionedTable

/** Structured Streaming sink INTO the versioned table — the
  * streaming-ingest-to-lake closure: each micro-batch commits as one
  * append version through the same optimistic protocol every batch
  * writer uses, with EXACTLY-ONCE effect per batch.
  *
  * Exactly-once, minimum viable form (the Delta streaming-sink idea):
  * the commit entry is tagged with the micro-batch id. Structured
  * Streaming re-runs a FAILED batch with the SAME batchId after
  * recovery, so the sink checks the HEAD entry's tag — read from the
  * same one listing of the log the commit is based on — before
  * committing; a retry of an already-committed batch is a no-op
  * (prior batches are known-committed by the sink's own sequencing,
  * so head inspection is the sufficient check; a lost commit race
  * against a concurrent writer retries at the new head like any
  * writer). Appends carry per-group key stats when `statsCol` is
  * set, so downstream [[graft.sources.VersionedTable.mergePruned]]
  * keeps pruning over streamed-in groups.
  *
  * Use with `writeStream.foreachBatch(VersionedSink.into(path))` —
  * foreachBatch is the documented Structured Streaming seam for
  * sinks with their own transactional story.
  *
  * Scale posture: one parquet group + one tiny JSON per micro-batch;
  * the small-file accumulation this produces is exactly what
  * [[graft.sources.VersionedTable.optimize]] compacts, and
  * `expireVersions` + `vacuum` bound the log and dead storage.
  */
object VersionedSink {

  /** Idempotently append one micro-batch as a table version. An
    * EMPTY micro-batch (streaming triggers fire them routinely)
    * commits nothing — no zero-row, stats-less group for every later
    * pruned write to conservatively probe (the mergeDv dropIfEmpty
    * discipline; skipping the batchId tag is safe because Structured
    * Streaming only ever retries the LAST batch, and a retried empty
    * batch is empty again). Returns the version holding this batch
    * (the unchanged head for empty/retried ones). */
  def appendBatch(spark: SparkSession, path: String, df: DataFrame,
      batchId: Long, statsCol: Option[String] = None): Long =
    VersionedTable.commitBatch(spark, path, df, batchId, statsCol)

  /** foreachBatch adapter: `writeStream.foreachBatch(into(path))`. */
  def into(path: String, statsCol: Option[String] = None)
      : (DataFrame, Long) => Unit = { (df, batchId) =>
    appendBatch(df.sparkSession, path, df, batchId, statsCol)
    ()
  }

  /** Idempotently UPSERT one micro-batch by key — the streaming CDC
    * write side (the Delta `foreachBatch` + MERGE idiom): each batch
    * lands through the merge-on-read
    * [[graft.sources.VersionedTable.mergeDv]] (batch-sized sidecars
    * + one appended group, never a group rewrite below the density
    * threshold), tagged with the micro-batch id so Structured
    * Streaming's retry of a failed batch is a no-op (the
    * [[appendBatch]] head-inspection rule). A lost race against a
    * concurrent writer re-derives at the new head — merge content
    * depends on the snapshot, so unlike appends the staged data
    * cannot be republished verbatim. Returns the version holding the
    * batch. */
  def upsertBatch(spark: SparkSession, path: String, df: DataFrame,
      batchId: Long, keyCol: String, maxDvFraction: Double = 0.3,
      maxAttempts: Int = 16): Long = {
    require(maxAttempts >= 1, "maxAttempts must be >= 1")
    var attempts = 0
    while (true) {
      // mergeDv reads the head's batch tag from the snapshot it merges
      // against: a retried batch returns the head unchanged
      try {
        return VersionedTable.mergeDv(spark, path, df, keyCol,
          maxDvFraction = maxDvFraction, batchId = Some(batchId))._1
      } catch {
        case e: VersionedTable.CommitConflictException =>
          attempts += 1
          if (attempts >= maxAttempts) throw e
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** foreachBatch adapter for keyed upserts:
    * `writeStream.foreachBatch(upsertInto(path, "k"))`. */
  def upsertInto(path: String, keyCol: String,
      maxDvFraction: Double = 0.3): (DataFrame, Long) => Unit = {
    (df, batchId) =>
      upsertBatch(df.sparkSession, path, df, batchId, keyCol,
        maxDvFraction)
      ()
  }
}
