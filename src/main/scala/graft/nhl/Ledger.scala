package graft.nhl

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.VersionedTable

/** `COPY INTO` load-history semantics (SURVEY.md §2 row S7 + §7):
  * load each staged file exactly once, so replays are no-ops.
  *
  * Every Ledger target is a [[graft.sources.VersionedTable]], and every
  * verb is ONE commit on its log, published by the table's atomic
  * create-if-absent: a crash before the publish leaves the table as it
  * was, and a writer that loses a race gets
  * [[graft.sources.VersionedTable.CommitConflictException]]. A COPY INTO
  * load's log entry names the `source_file`s whose rows it holds, so
  * data and history land in the same publish (Snowflake records load
  * history in the same statement). The loaded-file set is folded from
  * the log on the driver, so a load costs one Spark job, and
  * checkpoints and version expiry keep the set. With Structured
  * Streaming the checkpoint plays the ledger role (see
  * graft.streaming).
  *
  * Also covers S11/P7 (dbt incremental models): [[deleteInsert]] is the
  * table's full-rewrite MERGE, and [[incrementalByKey]] the
  * append-if-absent (`NOT IN`) form. Because keys are content hashes,
  * the two agree on content-keyed batches.
  */
object Ledger {

  /** Path existence through the Hadoop FileSystem API so the ledger
    * works on any supported store (local, HDFS, s3a, …), not just
    * local disk. */
  private[nhl] def pathExists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Read the incrementally-maintained table as one relation over its
    * live groups (no footer read for groups this JVM wrote or read),
    * or through the reconciling read when the groups' schemas differ.
    * None before the first load. */
  def readTarget(spark: SparkSession, target: String): Option[DataFrame] =
    // a Ledger target's `source_file`, where it has one, is a file
    // name, so no stats prune on it; the flat relation is what is
    // wanted
    VersionedTable.readIndexed(spark, target, "source_file")
      .orElse(VersionedTable.read(spark, target))

  /** Append only rows from not-yet-loaded files and record those files,
    * as one versioned-table commit tagged `copy_into`. Returns the
    * number of rows appended. Exactly the reference's COPY INTO
    * idempotence: re-running on the same stage is a no-op, also after
    * a crash mid-load (ref: include/sql/copy_into_*.sql + Snowflake
    * load history). */
  def copyInto(spark: SparkSession, batch: DataFrame, target: String): Long =
    VersionedTable.copyFiles(spark, target, batch, "source_file")

  /** dbt-default incremental `delete+insert`: drop target rows whose
    * key appears in the batch, then insert the batch — batch rows WIN
    * on key collision (the update-capable strategy, vs
    * [[incrementalByKey]]'s append-if-absent NOT-IN form; ref:
    * games.sql:1-13 `materialized='incremental'` with `unique_key`,
    * whose Snowflake default strategy is delete+insert).
    *
    * This is [[graft.sources.VersionedTable.merge]]: one snapshot, a
    * LEFT ANTI join of it against the batch's distinct keys, the union
    * of the batch, and one `replace` entry. The whole table is
    * rewritten on every call. Spark plans the anti-join: the key set
    * broadcasts while its size estimate is under
    * `spark.sql.autoBroadcastJoinThreshold`, and past that both sides
    * shuffle on the key. A call that loses a race throws
    * CommitConflictException and changes nothing. Returns the row count
    * after the merge, observed on its write. */
  def deleteInsert(spark: SparkSession, batch: DataFrame,
      target: String, key: String = "unique_key"): Long =
    VersionedTable.mergeCounted(spark, target, batch, key)._2

  /** dbt incremental (append-if-absent by content key) as one append
    * commit: the batch, anti-joined on `key` against one snapshot of
    * the target and deduplicated on `key`, is published against that
    * same version, so of two racing calls the second to publish throws
    * CommitConflictException instead of inserting a key twice. An
    * empty remainder publishes nothing. Returns the rows appended
    * (ref: games.sql:1-13 config + NOT IN filter). */
  def incrementalByKey(spark: SparkSession, batch: DataFrame,
      target: String, key: String = "unique_key"): Long =
    VersionedTable.appendAbsent(spark, target, batch, key)
}
