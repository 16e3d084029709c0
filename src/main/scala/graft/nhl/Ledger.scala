package graft.nhl

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.VersionedTable

/** `COPY INTO` load-history semantics (SURVEY.md §2 row S7 + §7):
  * load each staged file exactly once, so replays are no-ops.
  *
  * A COPY INTO target is a [[graft.sources.VersionedTable]] whose log
  * carries the load history: each load is ONE commit, and its log
  * entry names the `source_file`s whose rows it holds, so data and
  * history land in the same atomic publish (Snowflake records load
  * history in the same statement). The loaded-file set is folded from
  * the log on the driver, so a load costs one Spark job, and
  * checkpoints and version expiry keep the set. With Structured
  * Streaming the checkpoint plays the ledger role (see
  * graft.streaming).
  *
  * Also covers S11/P7 (dbt incremental delete+insert): because keys
  * are content hashes, "delete rows whose key is in the new batch then
  * insert the new batch" ≡ "append rows whose key isn't already in the
  * target" — implemented as an anti-join on `unique_key`. Those two
  * verbs, [[deleteInsert]] and [[incrementalByKey]], still write a
  * plain parquet directory at `dataPath`, so [[readTarget]] tells the
  * layouts apart by whether the target has a `_log/`.
  */
object Ledger {

  def dataPath(targetPath: String): String = s"$targetPath/data"

  /** Path existence through the Hadoop FileSystem API so the ledger
    * works on any supported store (local, HDFS, s3a, …), not just
    * local disk. */
  private[nhl] def pathExists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Read the incrementally-maintained table: a COPY INTO target as
    * one relation over its live groups (no footer read for groups this
    * JVM wrote or read), a plain-directory target as parquet. None
    * before the first load. */
  def readTarget(spark: SparkSession, target: String): Option[DataFrame] =
    if (pathExists(spark, s"$target/_log"))
      // a COPY INTO group records no key stats, so the index column
      // prunes nothing here; the flat relation is what is wanted
      VersionedTable.readIndexed(spark, target, "source_file")
        .orElse(VersionedTable.read(spark, target))
    else {
      val p = dataPath(target)
      if (pathExists(spark, p)) Some(spark.read.parquet(p)) else None
    }

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
    * Shape at scale: the delete half is a LEFT ANTI join of the target
    * against the batch's distinct keys — a typical batch is small next
    * to the target, so the key set broadcasts and the target never
    * shuffles. The rewrite is staged to `data_staged` then swapped in
    * with two renames (`data` → `data_old`, `data_staged` → `data`,
    * drop `data_old`): each rename is atomic on local/HDFS, but the
    * PAIR is not one transaction — a crash between them leaves the
    * table briefly absent with BOTH `data_old` (the full previous
    * state) and `data_staged` (the full next state) intact, a
    * recoverable stop-the-job condition, never data loss. For a
    * genuinely atomic publish (and object stores, where rename isn't
    * atomic at all) use [[graft.sources.VersionedTable]], whose
    * commit arbiter is a single conditional-put-shaped operation.
    * Full-table rewrite is inherent to plain-directory delete+insert;
    * the file-group-pruned variant is VersionedTable.merge. Returns
    * the post-merge row count. */
  def deleteInsert(spark: SparkSession, batch: DataFrame,
      target: String, key: String = "unique_key",
      arbiterFor: org.apache.hadoop.fs.FileSystem =>
        graft.sources.CommitArbiter =
        graft.sources.CommitArbiter.forFs): Long = {
    val dataP = new org.apache.hadoop.fs.Path(dataPath(target))
    val stagedP = new org.apache.hadoop.fs.Path(dataPath(target) + "_staged")
    val oldP = new org.apache.hadoop.fs.Path(dataPath(target) + "_old")
    val fs = dataP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // single-writer ENFORCED, not prose (round-13 advice): the
    // rename-pair protocol below assumes one writer — two concurrent
    // calls can interleave renames (B deletes the data_old A just
    // parked; B's recovery restores a dir A is replacing) and corrupt
    // the table. Acquire an exclusive lock for the whole
    // recovery+rewrite+swap window via the same atomic
    // create-if-absent primitive the commit protocol uses. A CRASHED
    // holder leaves the lock behind — deliberately stop-the-job: the
    // operator confirms no writer is alive, removes the lock, and the
    // rerun's recovery path restores any parked state.
    // `arbiterFor` defaults to the scheme dispatch (local → hard
    // link, HDFS → atomic create, object stores REFUSED) — callers on
    // s3a-family stores bind a ConditionalPut here, same seam as
    // VersionedTable.commit. NOTE the renames below are still only
    // atomic on local/HDFS; on object stores prefer VersionedTable.
    val lockP = new org.apache.hadoop.fs.Path(s"$target/_swap.lock")
    fs.mkdirs(new org.apache.hadoop.fs.Path(target))
    val info = s"""{"pid_hint":"${java.lang.ProcessHandle.current().pid()}","acquired_ms":${System.currentTimeMillis()}}"""
    if (!arbiterFor(fs).publish(fs, lockP, info.getBytes("UTF-8")))
      throw new IllegalStateException(
        s"deleteInsert on '$target' is single-writer and the swap lock " +
          s"'$lockP' is held. If the holder crashed, verify no writer " +
          "is alive and delete the lock file; the next run recovers " +
          "any parked state automatically.")
    try deleteInsertLocked(spark, batch, target, key, fs,
      dataP, stagedP, oldP)
    finally fs.delete(lockP, false)
  }

  private def deleteInsertLocked(spark: SparkSession, batch: DataFrame,
      target: String, key: String, fs: org.apache.hadoop.fs.FileSystem,
      dataP: org.apache.hadoop.fs.Path,
      stagedP: org.apache.hadoop.fs.Path,
      oldP: org.apache.hadoop.fs.Path): Long = {
    // crash RECOVERY first: a previous run that died between its two
    // renames leaves the table parked at data_old with no data — in
    // that state data_old is the ONLY full copy and must be restored,
    // never deleted (a blind cleanup here would make the rerun rebuild
    // the table from the new batch alone and silently drop everything
    // else)
    if (!fs.exists(dataP) && fs.exists(oldP) && !fs.rename(oldP, dataP))
      throw new java.io.IOException(s"recovery failed: $oldP -> $dataP")
    val merged = readTarget(spark, target) match {
      case Some(t) =>
        t.join(broadcast(batch.select(col(key)).distinct()),
          Seq(key), "left_anti")
          .unionByName(batch.select(t.columns.map(col).toSeq: _*))
      case None => batch
    }
    merged.write.mode(SaveMode.Overwrite).parquet(stagedP.toString)
    val n = spark.read.parquet(stagedP.toString).count()
    // park-then-swap, never delete-then-rename: the previous state
    // stays on disk (data_old) until the new state is published, so
    // every crash point leaves a complete copy of the table. The only
    // old dir that can exist HERE is post-swap debris (data was
    // present alongside it above) — safe to drop
    if (fs.exists(oldP)) fs.delete(oldP, true)
    if (fs.exists(dataP) && !fs.rename(dataP, oldP))
      throw new java.io.IOException(s"park failed: $dataP -> $oldP")
    if (!fs.rename(stagedP, dataP))
      throw new java.io.IOException(s"swap failed: $stagedP -> $dataP")
    fs.delete(oldP, true)
    n
  }

  /** dbt incremental (append-if-absent by content key) as an
    * idempotent key-level append (ref: games.sql:1-13 config + NOT IN
    * filter). */
  def incrementalByKey(spark: SparkSession, batch: DataFrame,
      target: String, key: String = "unique_key"): Long = {
    val existing = readTarget(spark, target)
    val fresh = existing match {
      case Some(t) =>
        batch.join(t.select(col(key)), Seq(key), "left_anti")
      case None => batch
    }
    val deduped = fresh.dropDuplicates(key)
    val n = deduped.count()
    if (n > 0) deduped.write.mode(SaveMode.Append).parquet(dataPath(target))
    n
  }
}
