package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.VersionedTable

/** Checkpointed CHANGE-FEED TAIL of a [[graft.sources.VersionedTable]]
  * — the streaming-SOURCE half of the table's CDC story
  * ([[VersionedSink]] is the write half; round-14 verdict item 3: the
  * reference's dbt incremental chain, `models/marts/games.sql:1-13`,
  * is exactly a "give me what changed since I last ran" subscription).
  *
  * A tail owns a tiny checkpoint directory holding the last version
  * whose changes the consumer DURABLY applied. [[next]] reads the
  * committed offset, computes
  * [[graft.sources.VersionedTable.changeFeed]] from there to the
  * current head (bounded by `maxVersionsPerBatch` — the
  * maxFilesPerTrigger idea: a reader that slept through 10k commits
  * catches up in bounded-size batches instead of one giant diff), and
  * hands the batch to the consumer; the consumer applies it, then
  * calls [[commit]] to advance the offset. The offset is published
  * write-temp-then-RENAME (atomic on local/HDFS — the checkpoint
  * discipline log checkpoints use), so a crash at ANY point leaves a
  * consistent offset:
  *
  *  - crash before apply: nothing moved; next() re-emits the batch.
  *  - crash between apply and commit: next() RE-EMITS the applied
  *    batch — at-least-once delivery. Exactly-once STATE then comes
  *    from idempotent application: the feed's verbs are key-addressed
  *    (upsert postimage/insert, delete preimage key), so re-applying
  *    a batch to state that already includes it is a no-op —
  *    [[applyFeed]] implements exactly that, and StreamingCdfSpec
  *    pins a mid-log crash+replay landing on the batch recompute.
  *    (Consumers that cannot apply idempotently must co-commit state
  *    and offset transactionally — e.g. write both THROUGH a
  *    VersionedSink batch — the standard Kafka-sink contract.)
  *
  * Scale posture: the offset read is one small-file open; the feed
  * itself skips every group live in both versions (the changeFeed
  * law), so tailing a 100 TB table costs O(groups changed since the
  * offset) per batch. Version-bounded batches keep each diff's
  * non-shared group set — and so its shuffle — bounded by what those
  * versions touched, not by backlog age.
  */
object CdfTail {

  /** One delivered batch: the changeFeed frame for
    * (fromVersion, toVersion], plus the offsets for [[commit]]. */
  final case class Batch(feed: DataFrame, fromVersion: Long,
      toVersion: Long)

  private def fs(spark: SparkSession, p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Offsets publish as MONOTONIC files (`offset-v<N>.json`), newest
    * wins — each commit is one atomic create, never a delete+rename
    * of a shared name (whose crash window would leave NO offset and
    * force a full-history replay; correct under the idempotent apply
    * but a 100 TB-table re-read). Older files are cleaned
    * opportunistically AFTER the new one exists, so every crash point
    * leaves at least one committed offset on disk. */
  private def offsetVersions(f: org.apache.hadoop.fs.FileSystem,
      ckptDir: String): Seq[Long] = {
    val d = new Path(ckptDir)
    if (!f.exists(d)) return Seq.empty
    f.listStatus(d).map(_.getPath.getName).toSeq
      .filter(n => n.startsWith("offset-v") && n.endsWith(".json"))
      .map(n => n.stripPrefix("offset-v").stripSuffix(".json").toLong)
  }

  /** The last version the consumer committed, or `startVersion` when
    * the checkpoint is fresh. A fresh tail at startVersion = 0 reads
    * the whole table as inserts (the Delta `startingVersion=0`
    * semantics); passing the current head instead subscribes to
    * future changes only. */
  def committedOffset(spark: SparkSession, ckptDir: String,
      startVersion: Long = 0L): Long = {
    val vs = offsetVersions(fs(spark, ckptDir), ckptDir)
    if (vs.isEmpty) startVersion else vs.max
  }

  /** The next undelivered batch, or None when the tail is caught up.
    * Deterministic for a given (offset, head): a re-call before
    * [[commit]] re-emits the same batch (the at-least-once replay). */
  def next(spark: SparkSession, table: String, keyCol: String,
      ckptDir: String, startVersion: Long = 0L,
      maxVersionsPerBatch: Int = 16): Option[Batch] = {
    require(maxVersionsPerBatch >= 1, "maxVersionsPerBatch must be >= 1")
    val committed = offsetVersions(fs(spark, ckptDir), ckptDir)
    val from = if (committed.isEmpty) startVersion else committed.max
    val head = VersionedTable.currentVersion(spark, table)
    if (head <= from) return None
    // retention fence: an offset behind the expiry horizon resolves
    // to a silently-EMPTY from-snapshot — the diff would emit the
    // whole table as inserts and MISS every interim delete. Refuse
    // loudly; the consumer's recovery is a full re-sync (read at
    // head, restart the tail from there). EXEMPT the fresh bootstrap
    // (no offset committed yet, startVersion = 0): there the consumer
    // holds NO state, the v0 snapshot is genuinely empty even on an
    // expired table, and emitting the head as inserts misses nothing
    // — exactly the Delta `startingVersion=0` first batch.
    val earliest = VersionedTable.earliestResolvable(spark, table)
    require(from >= earliest || (committed.isEmpty && from == 0L),
      s"tail fell behind retention: offset v$from predates the " +
        s"earliest resolvable version v$earliest (expireVersions " +
        "dropped the interim log) — re-sync the downstream from a " +
        "full read at the head and restart the tail there")
    val to = math.min(head, from + maxVersionsPerBatch)
    Some(Batch(
      VersionedTable.changeFeed(spark, table, keyCol, from, to),
      from, to))
  }

  /** Advance the committed offset to `batch.toVersion` — call ONLY
    * after the batch is durably applied. Refuses a stale commit (a
    * batch older than the committed offset — two consumers sharing a
    * checkpoint, or a commit replayed out of order). */
  def commit(spark: SparkSession, ckptDir: String, batch: Batch): Unit = {
    val cur = committedOffset(spark, ckptDir, batch.fromVersion)
    require(batch.fromVersion == cur,
      s"stale commit: batch starts at v${batch.fromVersion} but the " +
        s"checkpoint is at v$cur — exactly one consumer may own a tail")
    val f = fs(spark, ckptDir)
    f.mkdirs(new Path(ckptDir))
    val next = new Path(ckptDir,
      f"offset-v${batch.toVersion}%08d.json")
    val out = f.create(next, false) // single-owner: the name is fresh
    try out.write(s"""{"version":${batch.toVersion}}"""
      .getBytes("UTF-8")) finally out.close()
    // cleanup AFTER the new offset exists — a crash anywhere above
    // leaves the previous offset readable, anywhere below leaves two
    // (max wins)
    offsetVersions(f, ckptDir).filter(_ < batch.toVersion).foreach(v =>
      f.delete(new Path(ckptDir, f"offset-v$v%08d.json"), false))
  }

  /** Apply one feed batch to a keyed one-row-per-key snapshot:
    * delete/update keys leave, insert/update postimages enter —
    * IDEMPOTENT (applying a batch twice equals applying it once), the
    * property that upgrades the tail's at-least-once delivery to
    * exactly-once state. Preimages carry no information the key
    * doesn't (the state already holds the pre row), so the apply is
    * one anti-join + one union: O(changed keys) against the state's
    * key partitioning, never a state rewrite by scan. */
  def applyFeed(state: DataFrame, feed: DataFrame,
      keyCol: String): DataFrame = {
    // NULL-SAFE key match (<=>): changeFeed treats NULL as one key
    // value and deliberately emits NULL-key changes, so a plain
    // equi-anti-join — which never matches NULL — would leave the
    // stale NULL-key row in state on update/delete and duplicate it
    // on the crash-replay path, breaking idempotence exactly where
    // the at-least-once contract relies on it.
    val touched = feed.select(col(keyCol).as("_touched_key")).distinct()
    val incoming = feed
      .filter(col("change_type").isin("insert", "update_postimage"))
      .drop("change_type")
    state.join(touched, state(keyCol) <=> touched("_touched_key"),
        "left_anti")
      .unionByName(incoming)
  }

  /** Apply one feed batch to a downstream
    * [[graft.sources.VersionedTable]] REPLICA, through the commit
    * protocol: upserts (inserts + postimages) land via the
    * merge-on-read [[graft.sources.VersionedTable.mergeDv]] — batch-
    * sized cost, never a replica group rewrite below the density
    * threshold — and deletes via
    * [[graft.sources.VersionedTable.deleteKeys]] (sidecar-sized).
    * Content-IDEMPOTENT like [[applyFeed]]: replaying a batch after a
    * crash between apply and offset commit re-masks and re-appends
    * identical rows and re-deletes absent keys — the replica's
    * VISIBLE content is unchanged (it gains versions, not rows), so
    * the tail's at-least-once delivery still yields exactly-once
    * state. Composing the two halves is table REPLICATION: a replica
    * maintained at O(changed rows) per batch off a 100 TB source —
    * the feed diff skips shared groups, the apply writes batch-sized
    * sidecars. Returns the replica version after the batch. */
  def applyToTable(spark: SparkSession, batch: Batch,
      replicaPath: String, keyCol: String): Long = {
    // the feed is a full-outer snapshot diff; every consumer below
    // (the NULL-key gate, both emptiness probes, mergeDv's staging,
    // deleteKeys' bounds + per-group semi-joins) re-executes it from
    // lineage — persist it ONCE per batch (round-16, guide §2.4:
    // shared subtree, one materialization) and release before return
    val feed = batch.feed
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // ONE aggregate over the persisted feed settles all three gates
      // (NULL keys, any upserts, any deletes) — the old per-gate
      // limit(1)/isEmpty probes were three separate jobs per batch
      // (round-16, guide §1.2: don't run jobs whose answer one pass
      // already has)
      val gates = feed.agg(
        sum(when(col(keyCol).isNull, 1L).otherwise(0L)).as("nulls"),
        sum(when(col("change_type").isin("insert", "update_postimage"),
          1L).otherwise(0L)).as("ups"),
        sum(when(col("change_type") === "delete", 1L).otherwise(0L))
          .as("dels")).head()
      def gate(i: Int): Long =
        if (gates.isNullAt(i)) 0L else gates.getLong(i)
      // NULL-key feed rows are REFUSED on the replica path (unlike
      // [[applyFeed]], which handles them null-safely): the table's own
      // key-addressed verbs cannot express them — mergeDv masks by key
      // stats and skips NULL keys, deleteKeys never deletes NULL (a key
      // set names values) — so applying one would silently diverge the
      // replica (a stale NULL-key row survives next to its postimage).
      // Recovery for a source that grew NULL-key rows: full re-sync
      // (read at head into a fresh replica, restart the tail there).
      require(gate(0) == 0L,
        s"feed batch (v${batch.fromVersion}, v${batch.toVersion}] " +
          s"carries NULL-$keyCol rows, which the replica's key-addressed " +
          "verbs (mergeDv/deleteKeys) cannot apply faithfully — re-sync " +
          "the replica from a full read at the head")
      val upserts = feed
        .filter(col("change_type").isin("insert", "update_postimage"))
        .drop("change_type")
      // a key appears under exactly ONE verb per feed batch (changeFeed
      // emits insert XOR delete XOR pre+post per key), so verb order
      // within the batch cannot conflict
      if (gate(1) > 0L)
        VersionedTable.mergeDv(spark, replicaPath, upserts, keyCol)
      val delKeys = feed
        .filter(col("change_type") === "delete")
        .select(col(keyCol))
      if (gate(2) > 0L &&
          VersionedTable.currentVersion(spark, replicaPath) > 0)
        VersionedTable.deleteKeys(spark, replicaPath, delKeys, keyCol)
      VersionedTable.currentVersion(spark, replicaPath)
    } finally feed.unpersist(blocking = false)
  }
}
