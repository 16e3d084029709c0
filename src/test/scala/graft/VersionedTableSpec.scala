package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.VersionedTable

/** The commit-protocol contract: append/replace snapshots, version
  * time travel, MERGE upsert semantics, and the optimistic-
  * concurrency arbiter (exactly one racing writer wins).
  */
class VersionedTableSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private def tmp() = java.nio.file.Files
    .createTempDirectory("vtable").toString

  private def df(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("k", "v")
  }

  private def snapshot(path: String, asOf: Option[Long] = None) =
    VersionedTable.read(spark, path, asOf).get
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap

  test("convertFrom adopts an external parquet dir zero-copy: stats " +
      "flow (pruned merge works from the first write), optimize " +
      "localizes, vacuum never reaches the source, and the source " +
      "file is untouched") {
    import spark.implicits._
    val src = tmp() + "/external"
    (1L to 20L).map(k => (k, k * 10L)).toDF("k", "pay")
      .repartition(1).write.parquet(src)
    val srcFiles = new java.io.File(src).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.lastModified).toSeq
    val p = tmp()
    val v1 = VersionedTable.convertFrom(spark, p, src,
      statsCol = Some("k"))
    assert(v1 == 1L)
    def rows(asOf: Option[Long] = None) =
      VersionedTable.read(spark, p, asOf).get
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows() == (1L to 20L).map(k => (k, k * 10L)).toSet)
    // stats flowed: a disjoint-range pruned merge rewrites nothing
    val (_, rewritten) = VersionedTable.mergePruned(spark, p,
      Seq((100L, 1L)).toDF("k", "pay"), "k")
    assert(rewritten == 0,
      "disjoint merge must carry the converted group by reference")
    // optimize localizes: no live group references the source
    VersionedTable.optimize(spark, p, statsCol = Some("k"))
    VersionedTable.vacuum(spark, p, minAgeMs = 0L)
    assert(rows().size == 21)
    // the source parquet is untouched throughout
    val after = new java.io.File(src).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.lastModified).toSeq
    assert(after == srcFiles, "convert/optimize/vacuum touched the source")
    // a second convert into a non-empty table refuses
    intercept[IllegalArgumentException] {
      VersionedTable.convertFrom(spark, p, src)
    }
  }

  test("timestamp time travel: readAsOfTimestamp resolves the newest " +
      "version published at or before the timestamp; pre-history " +
      "reads are None") {
    val p = tmp()
    val t0 = System.currentTimeMillis() - 5
    val v1 = VersionedTable.commit(spark, p, df(1L -> "a"), 0L)
    Thread.sleep(30)
    val tMid = System.currentTimeMillis()
    Thread.sleep(30)
    VersionedTable.commit(spark, p, df(2L -> "b"), v1)
    assert(VersionedTable.versionAtTime(spark, p, t0).isEmpty)
    assert(VersionedTable.readAsOfTimestamp(spark, p, t0).isEmpty)
    assert(VersionedTable.versionAtTime(spark, p, tMid) == Some(v1))
    assert(VersionedTable.readAsOfTimestamp(spark, p, tMid).get
      .collect().map(_.getLong(0)).toSet == Set(1L))
    assert(VersionedTable.readAsOfTimestamp(spark, p,
        System.currentTimeMillis() + 1000).get
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L))
  }

  test("vacuum pins span groups by their FIRST path segment: after " +
      "optimizeZOrder the uuid parent of live __graft_span dirs " +
      "survives an aggressive vacuum while a true orphan dies") {
    import spark.implicits._
    val p = tmp()
    var v = 0L
    (0 until 2).foreach { i =>
      v = VersionedTable.commit(spark, p,
        (0 until 10).map(j => (i * 10L + j, j * 100L)).toDF("k", "c"),
        v, statsCol = Some("k"))
    }
    VersionedTable.optimizeZOrder(spark, p, "k", "c",
      targetGroups = 4, statsCol = "k")
    val before = VersionedTable.read(spark, p).get.count()
    // plant a true orphan next to the live dirs
    val orphan = new java.io.File(s"$p/data/orphan-dir")
    orphan.mkdirs()
    java.nio.file.Files.write(orphan.toPath.resolve("junk.parquet"),
      Array[Byte](1, 2, 3))
    val deleted = VersionedTable.vacuum(spark, p, minAgeMs = 0L)
    assert(deleted == Seq("orphan-dir"), s"vacuumed: $deleted")
    assert(VersionedTable.read(spark, p).get.count() == before,
      "vacuum destroyed live span data")
    // the indexed read over the span groups still prunes + reads
    assert(VersionedTable.readIndexed(spark, p, "k").get.count()
      == before)
  }

  test("history (DESCRIBE HISTORY): every write verb stamps its op " +
      "tag, rows come newest-first with group counts and the batch " +
      "tag, and retention drops the expired prefix") {
    import spark.implicits._
    val p = tmp()
    var v = VersionedTable.commit(spark, p, df(1L -> "a"), 0L,
      statsCol = Some("k"))
    v = VersionedTable.commit(spark, p,
      Seq((2L, "b")).toDF("k", "v"), v, statsCol = Some("k"),
      batchId = Some(7L))
    VersionedTable.merge(spark, p, df(2L -> "b2"), "k")
    VersionedTable.deleteRange(spark, p, "k", 1L, 1L)
    VersionedTable.renameColumn(spark, p, "v", "val")
    VersionedTable.optimize(spark, p, statsCol = Some("k"))
    val h = VersionedTable.history(spark, p)
      .select("version", "op", "batch", "n_groups", "replace")
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2), r.getInt(3),
        r.getBoolean(4)))
    assert(h.map(_._1).toSeq == Seq(6L, 5L, 4L, 3L, 2L, 1L),
      "newest first")
    assert(h.map(_._2).toSeq == Seq("optimize", "rename_column",
      "delete_range", "merge", "append", "append"))
    assert(h.find(_._1 == 2L).get._3 == 7L, "batch tag carried")
    assert(h.filter(_._1 <= 2L).forall(!_._5), "appends don't replace")
    assert(h.find(_._1 == 6L).get._5, "optimize replaces")
    // retention: expire below the head — history shrinks to survivors
    VersionedTable.expireVersions(spark, p, keepLast = 2)
    val kept = VersionedTable.history(spark, p)
      .select("version").collect().map(_.getLong(0)).toSet
    assert(kept == Set(5L, 6L), s"post-expiry history: $kept")
  }

  test("append commits accumulate; replace resets; time travel reads " +
      "any past version") {
    val p = tmp()
    assert(VersionedTable.read(spark, p).isEmpty)
    val v1 = VersionedTable.commit(spark, p, df(1L -> "a"), 0L)
    val v2 = VersionedTable.commit(spark, p, df(2L -> "b"), v1)
    assert(snapshot(p) == Map(1L -> "a", 2L -> "b"))
    val v3 = VersionedTable.commit(spark, p, df(9L -> "z"), v2,
      replace = true)
    assert(snapshot(p) == Map(9L -> "z"), "replace resets the live set")
    assert(snapshot(p, Some(v2)) == Map(1L -> "a", 2L -> "b"),
      "time travel sees the pre-replace snapshot")
    assert(snapshot(p, Some(v1)) == Map(1L -> "a"))
    assert(VersionedTable.currentVersion(spark, p) == v3)
  }

  test("MERGE upserts by key: matched rows replaced, unmatched " +
      "carried, new keys inserted") {
    val p = tmp()
    VersionedTable.commit(spark, p, df(1L -> "a", 2L -> "b"), 0L)
    VersionedTable.merge(spark, p, df(2L -> "B2", 3L -> "c"), "k")
    assert(snapshot(p) == Map(1L -> "a", 2L -> "B2", 3L -> "c"))
    // merge is itself a committed version: the pre-merge state is
    // still reachable
    assert(snapshot(p, Some(1L)) == Map(1L -> "a", 2L -> "b"))
  }

  test("optimistic concurrency: two writers racing on one expected " +
      "version -> exactly one commit wins, the loser must retry") {
    val p = tmp()
    val v1 = VersionedTable.commit(spark, p, df(1L -> "a"), 0L)
    // both writers observed v1 and try to commit v2
    VersionedTable.commit(spark, p, df(2L -> "winner"), v1)
    val conflict = intercept[VersionedTable.CommitConflictException] {
      VersionedTable.commit(spark, p, df(3L -> "loser"), v1)
    }
    assert(conflict.getMessage.contains("v2"))
    assert(snapshot(p) == Map(1L -> "a", 2L -> "winner"),
      "the losing writer's data must NOT appear")
    // the loser retries at the new head and succeeds
    VersionedTable.commit(spark, p, df(3L -> "retried"),
      VersionedTable.currentVersion(spark, p))
    assert(snapshot(p)(3L) == "retried")
  }

  test("checkpointed read: a long log reads identically across the " +
      "checkpoint boundary, and time travel before it still works") {
    val p = tmp()
    var v = 0L
    // 23 commits -> checkpoints at v10 and v20; a replace at v15
    // exercises the reset INSIDE the post-checkpoint tail
    (1 to 23).foreach { i =>
      v = VersionedTable.commit(spark, p, df(i.toLong -> s"r$i"), v,
        replace = i == 15)
    }
    val chk = new java.io.File(s"$p/_log").listFiles()
      .map(_.getName).filter(_.startsWith("chk-v")).sorted
    assert(chk.toSeq == Seq("chk-v00000010.json", "chk-v00000020.json"))
    // latest = replace at 15 plus appends 16..23
    assert(snapshot(p) == (15 to 23).map(i => i.toLong -> s"r$i").toMap)
    // as-of INSIDE a checkpoint span, and before the first checkpoint
    assert(snapshot(p, Some(17L)) ==
      (15 to 17).map(i => i.toLong -> s"r$i").toMap)
    assert(snapshot(p, Some(7L)) ==
      (1 to 7).map(i => i.toLong -> s"r$i").toMap)
    // exactly at a checkpoint version
    assert(snapshot(p, Some(20L)) ==
      (15 to 20).map(i => i.toLong -> s"r$i").toMap)
  }

  test("vacuum deletes only UNREFERENCED groups (orphans), never " +
      "anything any version references, and honors the age fence") {
    val p = tmp()
    val v1 = VersionedTable.commit(spark, p, df(1L -> "a"), 0L)
    val v2 = VersionedTable.commit(spark, p, df(2L -> "b"), v1,
      replace = true) // v1's group is replaced but still time-travelable
    // plant an orphan: a staged group with no log entry (a writer that
    // died between staging and publish)
    df(9L -> "orphan").write.parquet(s"$p/data/orphan-group")
    val freshFence = VersionedTable.vacuum(spark, p) // default 24h fence
    assert(freshFence.isEmpty, "age fence must protect fresh groups")
    val deleted = VersionedTable.vacuum(spark, p, minAgeMs = 0L)
    assert(deleted == Seq("orphan-group"))
    // every referenced group survived: latest AND pre-replace reads
    assert(snapshot(p) == Map(2L -> "b"))
    assert(snapshot(p, Some(v1)) == Map(1L -> "a"))
    assert(VersionedTable.vacuum(spark, p, minAgeMs = 0L).isEmpty)
    assert(VersionedTable.currentVersion(spark, p) == v2)
  }

  test("optimize rewrites the snapshot through the commit protocol: " +
      "same rows, one more version, pre-optimize still readable") {
    val p = tmp()
    var v = 0L
    (1 to 4).foreach { i =>
      v = VersionedTable.commit(spark, p, df(i.toLong -> s"r$i"), v)
    }
    val before = snapshot(p)
    val (ov, nFiles) = VersionedTable.optimize(spark, p)
    assert(ov == v + 1 && nFiles == 1L,
      "4 tiny groups compact to 1 planned file, one new version")
    assert(snapshot(p) == before, "OPTIMIZE must not change the data")
    assert(snapshot(p, Some(v)) == before, "pre-optimize version intact")
    // the rewrite is one group: a read at head opens a single group dir
    val dataDirs = new java.io.File(s"$p/data").listFiles().count(_.isDirectory)
    assert(dataDirs == 5, "4 original groups + 1 compacted (time travel)")
    assert(VersionedTable.optimize(spark, "/nonexistent-vt") == ((0L, 0L)))
  }

  test("stats-pruned MERGE == full MERGE; disjoint-range groups are " +
      "carried by reference and stats survive the checkpoint") {
    val p = tmp(); val p2 = tmp()
    // key-clustered ingest: 12 appends, each covering a disjoint key
    // decade — 12 commits so the v10 checkpoint consolidates stats
    var v = 0L; var v2 = 0L
    (0 until 12).foreach { i =>
      val part = df((i * 10 + 1).toLong -> s"a${i * 10 + 1}",
        (i * 10 + 2).toLong -> s"a${i * 10 + 2}")
      v = VersionedTable.commit(spark, p, part, v, statsCol = Some("k"))
      v2 = VersionedTable.commit(spark, p2, part, v2, statsCol = Some("k"))
    }
    // update batch confined to decade 1 (keys 11, 13): exactly ONE of
    // the 12 groups overlaps [11, 13] — stats read through chk-v10
    val updates = df(11L -> "U11", 13L -> "NEW13")
    val (nv, rewritten) = VersionedTable.mergePruned(spark, p, updates, "k")
    assert(rewritten == 1,
      "only the overlapping group may be rewritten (stats via checkpoint)")
    assert(nv == v + 1)
    VersionedTable.merge(spark, p2, updates, "k")
    assert(snapshot(p) == snapshot(p2),
      "pruned merge must equal the full-rewrite merge row-for-row")
    assert(snapshot(p)(11L) == "U11" && snapshot(p)(13L) == "NEW13")
    // by-reference carry: exactly one new data group was written
    assert(new java.io.File(s"$p/data").listFiles().count(_.isDirectory)
      == 13, "12 ingest groups + 1 rewritten group")
    // pre-merge version still time-travels
    assert(snapshot(p, Some(v)).get(11L).contains("a11"))
    // batch disjoint from EVERY group: zero rewrites, pure append-
    // by-reference replace
    val (_, rw2) = VersionedTable.mergePruned(spark, p,
      df(500L -> "far"), "k")
    assert(rw2 == 0, "no overlapping group -> nothing rewritten")
    assert(snapshot(p)(500L) == "far" && snapshot(p)(11L) == "U11")
  }

  test("expireVersions: retained window reads unchanged, beyond-" +
      "horizon reads return None, and vacuum reclaims exactly the " +
      "groups only dropped entries referenced") {
    val p = tmp()
    var v = 0L
    (1 to 23).foreach { i =>
      v = VersionedTable.commit(spark, p, df(i.toLong -> s"r$i"), v,
        replace = i == 15)
    }
    val before = snapshot(p)
    val dropped = VersionedTable.expireVersions(spark, p, keepLast = 5)
    assert(dropped == 18, "versions 1..18 leave the log")
    assert(VersionedTable.currentVersion(spark, p) == 23)
    assert(snapshot(p) == before, "head read unchanged")
    assert(snapshot(p, Some(20L)) ==
      (15 to 20).map(i => i.toLong -> s"r$i").toMap,
      "mid-window time travel via the horizon checkpoint + tail")
    assert(snapshot(p, Some(18L)) ==
      (15 to 18).map(i => i.toLong -> s"r$i").toMap,
      "read AT the horizon resolves from the consolidated checkpoint")
    assert(VersionedTable.read(spark, p, Some(14L)).isEmpty,
      "beyond the horizon -> None, never a silently partial snapshot")
    // groups 1..14 died at the v15 replace AND their entries are gone
    // -> vacuumable; groups 15..23 are pinned by the checkpoint/tail
    val reclaimed = VersionedTable.vacuum(spark, p, minAgeMs = 0L)
    assert(reclaimed.size == 14, s"14 dead groups, got ${reclaimed.size}")
    assert(snapshot(p) == before, "vacuum after expiry keeps the data")
    assert(snapshot(p, Some(18L)).nonEmpty,
      "horizon read still works post-vacuum (checkpoint pins groups)")
  }

  test("pruned MERGE without stats falls back to rewriting every " +
      "group (conservative, still correct)") {
    val p = tmp()
    var v = 0L
    (0 until 3).foreach { i =>
      v = VersionedTable.commit(spark, p,
        df((i * 10 + 1).toLong -> s"a$i"), v) // NO statsCol
    }
    val (_, rewritten) = VersionedTable.mergePruned(spark, p,
      df(1L -> "U"), "k")
    assert(rewritten == 3, "stat-less groups must be rewritten")
    assert(snapshot(p) == Map(1L -> "U", 11L -> "a1", 21L -> "a2"))
  }

  test("publish arbiter is content-complete: a pre-existing entry " +
      "file (simulated winner) conflicts and cleans the staged group") {
    val p = tmp()
    val v1 = VersionedTable.commit(spark, p, df(1L -> "a"), 0L)
    // simulate a concurrent winner that already published v2
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$p/_log/v00000002.json"),
      ("""{"version":2,"replace":false,""" +
        """"groups":["zzz-not-real"],"lo":[null],"hi":[null]}""")
        .getBytes("UTF-8"))
    intercept[VersionedTable.CommitConflictException] {
      VersionedTable.commit(spark, p, df(2L -> "loser"), v1)
    }
    // loser's staged group was cleaned: only v1's group remains
    assert(new java.io.File(s"$p/data").listFiles().count(_.isDirectory) == 1)
  }

  test("GENUINELY concurrent commit race: threads racing the same " +
      "expected version -> exactly one winner, losers conflict, log " +
      "intact (round-12 verdict item 2)") {
    val p = tmp()
    val v1 = VersionedTable.commit(spark, p, df(1L -> "base"), 0L)
    val n = 8
    val barrier = new java.util.concurrent.CyclicBarrier(n)
    val outcomes = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val threads = (0 until n).map { i =>
      new Thread(() => {
        // stage OUTSIDE the barrier window so all threads hit the
        // publish arbiter as close to simultaneously as possible
        val mine = df(100L + i -> s"w$i")
        barrier.await()
        try {
          VersionedTable.commit(spark, p, mine, v1)
          outcomes.add(s"win:$i")
        } catch {
          case _: VersionedTable.CommitConflictException =>
            outcomes.add(s"lose:$i")
        }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    import scala.jdk.CollectionConverters._
    val (wins, losses) = outcomes.asScala.toSeq.partition(_.startsWith("win"))
    assert(wins.size == 1, s"exactly one writer must win, got $outcomes")
    assert(losses.size == n - 1)
    // no log truncation: v1 entry intact, head is exactly v2
    assert(VersionedTable.currentVersion(spark, p) == v1 + 1)
    assert(snapshot(p, Some(v1)) == Map(1L -> "base"))
    val winner = wins.head.stripPrefix("win:").toInt
    assert(snapshot(p) == Map(1L -> "base", (100L + winner) -> s"w$winner"))
    // losers' staged groups were cleaned: base + winner only
    assert(new java.io.File(s"$p/data").listFiles().count(_.isDirectory) == 2)
  }

  test("schema evolution across commits: widening is just committing " +
      "wider data — reads reconcile (NULL for pre-widening rows), " +
      "time travel keeps the narrow schema, merge still works") {
    import spark.implicits._
    val p = tmp()
    val v1 = VersionedTable.commit(spark, p, df(1L -> "a", 2L -> "b"), 0L)
    val wide = Seq((3L, "c", 30), (4L, "d", 40)).toDF("k", "v", "extra")
    // widening is gated: the unflagged commit refuses, names the column
    val refused = intercept[IllegalArgumentException] {
      VersionedTable.commit(spark, p, wide, v1)
    }
    assert(refused.getMessage.contains("extra") &&
      refused.getMessage.contains("allowEvolution"))
    VersionedTable.commit(spark, p, wide, v1, allowEvolution = true)
    val read = VersionedTable.read(spark, p).get
    assert(read.columns.toSeq == Seq("k", "v", "extra"))
    val rows = read.collect().map(r => (r.getLong(0), r.getString(1),
      if (r.isNullAt(2)) None else Some(r.getInt(2)))).toSet
    assert(rows == Set((1L, "a", None), (2L, "b", None),
      (3L, "c", Some(30)), (4L, "d", Some(40))))
    // time travel to the pre-widening version: narrow schema
    assert(VersionedTable.read(spark, p, Some(v1)).get
      .columns.toSeq == Seq("k", "v"))
    // merge with the WIDE schema upserts across both generations
    // (no flag needed: 'extra' is known to the table by now)
    VersionedTable.merge(spark, p,
      Seq((1L, "A2", 10), (5L, "e", 50)).toDF("k", "v", "extra"), "k")
    val merged = VersionedTable.read(spark, p).get.collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(merged == Map(1L -> "A2", 2L -> "b", 3L -> "c",
      4L -> "d", 5L -> "e"))
    // the PRUNED merge path also reconciles: a narrow-schema batch
    // touching wide groups must not crash (absent column -> NULL)
    import spark.implicits._
    VersionedTable.mergePruned(spark, p,
      Seq((3L, "C9")).toDF("k", "v"), "k")
    val after = VersionedTable.read(spark, p).get.collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(after(3L) == "C9")
  }

  test("optimizeClustered: re-cuts the snapshot into disjoint key " +
      "spans, preserving content and restoring stats pruning that " +
      "fragmentation destroyed; empty spans are dropped") {
    import spark.implicits._
    val p = tmp()
    // INTERLEAVED ingest: both groups span [1,2,3,4] -> all stats
    // overlap any range
    val v1 = VersionedTable.commit(spark, p, df(1L -> "a", 3L -> "c"), 0L,
      statsCol = Some("k"))
    VersionedTable.commit(spark, p, df(2L -> "b", 4L -> "d"), v1,
      statsCol = Some("k"))
    // key 3 sits inside BOTH groups' [min,max] spans
    val (_, frag) = VersionedTable.mergePruned(spark, p,
      df(3L -> "C2"), "k")
    assert(frag == 2, "fragmented: a 1-key batch rewrites EVERY group")
    // re-cluster into (-inf,2], (2,9], (9,inf) — last span empty
    val (_, n) = VersionedTable.optimizeClustered(spark, p, "k",
      Seq(2L, 9L))
    assert(n == 2, "empty span dropped, two clustered groups")
    assert(snapshot(p) == Map(1L -> "a", 2L -> "b", 3L -> "C2", 4L -> "d"))
    val (_, clu) = VersionedTable.mergePruned(spark, p,
      df(3L -> "C3"), "k")
    assert(clu == 1, "clustered: the same-shaped batch touches ONE group")
    assert(snapshot(p) == Map(1L -> "a", 2L -> "b", 3L -> "C3", 4L -> "d"))
    intercept[IllegalArgumentException] {
      VersionedTable.optimizeClustered(spark, p, "k", Seq(9L, 2L))
    }
  }

  test("readRange opens only groups whose stats overlap; zero-overlap " +
      "reads touch no files; stats-less groups open conservatively") {
    val p = tmp()
    var v = 0L
    Seq(df(1L -> "a", 3L -> "c"), df(10L -> "j", 12L -> "l"),
      df(20L -> "t", 22L -> "w")).foreach { b =>
      v = VersionedTable.commit(spark, p, b, v, statsCol = Some("k"))
    }
    val (r1, n1) = VersionedTable.readRange(spark, p, "k", 10L, 21L)
    assert(n1 == 2)
    assert(r1.get.collect().map(_.getLong(0)).toSet == Set(10L, 12L, 20L))
    val (r2, n2) = VersionedTable.readRange(spark, p, "k", 50L, 60L)
    assert(r2.isEmpty && n2 == 0, "stats prove a miss: no file opened")
    // a group without stats must be opened conservatively
    VersionedTable.commit(spark, p, df(15L -> "o"), v) // no statsCol
    val (r3, n3) = VersionedTable.readRange(spark, p, "k", 20L, 22L)
    assert(n3 == 2, "stats-less group opened + the overlapping one")
    assert(r3.get.collect().map(_.getLong(0)).toSet == Set(20L, 22L))
  }

  test("commitAppendWithRetry: 8 threads x 3 appends all land with " +
      "ONE staging each — stage-once retry republishes the same " +
      "group after a lost race") {
    val p = tmp()
    VersionedTable.commit(spark, p, df(0L -> "base"), 0L)
    val n = 8
    val perThread = 3
    val barrier = new java.util.concurrent.CyclicBarrier(n)
    val conflicts = new java.util.concurrent.atomic.AtomicInteger(0)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until n).map { i =>
      new Thread(() => {
        try {
          (0 until perThread).foreach { j =>
            // re-barrier before EVERY append: all 8 threads attempt
            // the same next version each round, so a lost race is
            // guaranteed by construction, not by scheduler luck (the
            // start-only barrier went conflict-free once the
            // AlwaysPreTouch harness fix smoothed thread timing)
            barrier.await()
            val key = 100L + i * perThread + j
            val (_, lost) = VersionedTable.commitAppendWithRetry(
              spark, p, df(key -> s"w$i-$j"))
            conflicts.addAndGet(lost)
          }
        } catch { case t: Throwable => failures.add(t) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(failures.isEmpty, s"unexpected: ${failures.peek()}")
    // every append landed exactly once, versions are contiguous
    val snap = snapshot(p)
    assert(snap.size == 1 + n * perThread)
    assert(VersionedTable.currentVersion(spark, p) == 1 + n * perThread)
    // stage-once: data dir holds EXACTLY one group per commit — lost
    // races re-published the staged group instead of re-staging (and
    // no debris was left behind)
    assert(new java.io.File(s"$p/data").listFiles().count(_.isDirectory)
      == 1 + n * perThread)
    // NOTE: no minimum-conflict assert. Even with the per-append
    // barrier, the stagings serialize through the shared Spark
    // scheduler, so each thread can legitimately observe the latest
    // version and win first try — a zero-conflict run is correct,
    // not a broken race (it flaked exactly once this way). The retry
    // path itself is pinned DETERMINISTICALLY by the injected
    // always-lose arbiter test below; this test pins exactly-once
    // content + the stage-once group count under real threads, and
    // reports the observed contention for the curious.
    info(s"observed lost races: ${conflicts.get()}")
  }

  test("commitAppendWithRetry exhausting maxAttempts cleans its " +
      "staged group and rethrows") {
    val p = tmp()
    val v1 = VersionedTable.commit(spark, p, df(1L -> "a"), 0L)
    // an arbiter that always reports a lost race
    val alwaysLose: org.apache.hadoop.fs.FileSystem => graft.sources.CommitArbiter =
      _ => (_, _, _) => false
    intercept[VersionedTable.CommitConflictException] {
      VersionedTable.commitAppendWithRetry(spark, p, df(2L -> "b"),
        maxAttempts = 3, arbiterFor = alwaysLose)
    }
    assert(VersionedTable.currentVersion(spark, p) == v1)
    // the staged group was cleaned on final failure
    assert(new java.io.File(s"$p/data").listFiles().count(_.isDirectory) == 1)
  }

  test("HardLink arbiter primitive is atomic under thread contention " +
      "(the exact failure the old local create(overwrite=false) " +
      "arbiter had: two winners, second truncates first)") {
    import graft.sources.CommitArbiter
    val dir = tmp()
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val nThreads = 16
    val rounds = 40
    val pool = java.util.concurrent.Executors.newFixedThreadPool(nThreads)
    try {
      (0 until rounds).foreach { r =>
        val entry = new org.apache.hadoop.fs.Path(dir, f"e$r%04d.json")
        val barrier = new java.util.concurrent.CyclicBarrier(nThreads)
        val futures = (0 until nThreads).map { i =>
          pool.submit(new java.util.concurrent.Callable[Boolean] {
            def call(): Boolean = {
              val payload = s"""{"writer":$i}""".getBytes("UTF-8")
              barrier.await()
              CommitArbiter.HardLink.publish(fs, entry, payload)
            }
          })
        }
        val winners = futures.zipWithIndex.filter(_._1.get())
        assert(winners.size == 1,
          s"round $r: ${winners.size} writers won the same entry")
        // content-complete: the file holds the WINNER's full payload,
        // not a torn/truncated interleave
        val got = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(dir, f"e$r%04d.json")), "UTF-8")
        assert(got == s"""{"writer":${winners.head._2}}""")
      }
      // no .tmp debris survives any publish, winner or loser
      assert(new java.io.File(dir).listFiles()
        .count(_.getName.startsWith(".tmp-")) == 0,
        "stranded temp payloads in the log dir")
    } finally pool.shutdown()
  }

  test("AtomicCreate cleans the partial entry when the payload write " +
      "fails after create succeeded (disk-full must not brick the " +
      "log or masquerade as a conflict)") {
    import graft.sources.CommitArbiter
    val dir = tmp()
    val local = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // FS whose created streams fail on write — the disk-full shape
    val failing = new org.apache.hadoop.fs.FilterFileSystem(local) {
      override def create(p: org.apache.hadoop.fs.Path,
          overwrite: Boolean): org.apache.hadoop.fs.FSDataOutputStream = {
        val real = super.create(p, overwrite)
        new org.apache.hadoop.fs.FSDataOutputStream(
          new java.io.OutputStream {
            def write(b: Int): Unit =
              throw new java.io.IOException("disk full (injected)")
          }, null) { override def close(): Unit = real.close() }
      }
    }
    val entry = new org.apache.hadoop.fs.Path(dir, "e.json")
    intercept[java.io.IOException] {
      CommitArbiter.AtomicCreate.publish(failing, entry,
        "payload".getBytes("UTF-8"))
    }
    assert(!local.exists(entry),
      "partial entry survived the failed write — every retry would " +
        "now misreport as a lost race")
    // after cleanup a retry can win normally
    assert(CommitArbiter.AtomicCreate.publish(local, entry,
      "payload".getBytes("UTF-8")))
  }

  test("CommitArbiter seam: commits route through the injected " +
      "arbiter; a deterministic lost race surfaces as " +
      "CommitConflictException with staged cleanup") {
    import graft.sources.CommitArbiter
    val p = tmp()
    val v1 = VersionedTable.commit(spark, p, df(1L -> "a"), 0L)
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    val alwaysLose = new CommitArbiter {
      def publish(f: org.apache.hadoop.fs.FileSystem,
          entry: org.apache.hadoop.fs.Path,
          payload: Array[Byte]): Boolean = { calls.incrementAndGet(); false }
    }
    intercept[VersionedTable.CommitConflictException] {
      VersionedTable.commit(spark, p, df(2L -> "b"), v1,
        arbiterFor = _ => alwaysLose)
    }
    assert(calls.get() == 1, "commit must publish through the seam")
    // injected loser's staged group cleaned
    assert(new java.io.File(s"$p/data").listFiles()
      .count(_.isDirectory) == 1)
    // the injection is call-scoped: the default binding is untouched
    assert(VersionedTable.commit(spark, p, df(2L -> "b"), v1) == v1 + 1)
    assert(snapshot(p) == Map(1L -> "a", 2L -> "b"))
  }

  test("CommitArbiter.forFs dispatch: local filesystems get the " +
      "hard-link arbiter; a non-local FS gets atomic create, whose " +
      "first-wins + content-preserved contract holds") {
    import graft.sources.CommitArbiter
    val local = new org.apache.hadoop.fs.Path(tmp())
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // spark's hadoop conf resolves bare paths to LocalFileSystem
    assert(CommitArbiter.forFs(local) eq CommitArbiter.HardLink)
    assert(CommitArbiter.forFs(new org.apache.hadoop.fs.RawLocalFileSystem())
      eq CommitArbiter.HardLink)
    // remote stand-in: a FilterFileSystem wrapper is NOT a local FS
    // type, so it takes the atomic-create path (as HDFS would)
    val remote = new org.apache.hadoop.fs.FilterFileSystem(local)
    val arb = CommitArbiter.forFs(remote)
    assert(arb eq CommitArbiter.AtomicCreate)
    val dir = tmp()
    val entry = new org.apache.hadoop.fs.Path(dir, "e.json")
    assert(arb.publish(remote, entry, "first".getBytes("UTF-8")))
    assert(!arb.publish(remote, entry, "second".getBytes("UTF-8")),
      "existing entry must lose the race")
    val got = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "e.json")), "UTF-8")
    assert(got == "first", "loser must not clobber the winner")
  }

  private def dataGroupCount(p: String): Int =
    Option(new java.io.File(p, "data").list()).map(_.length).getOrElse(0)

  test("restore publishes the target live set as a NEW metadata-only " +
      "version: content equals time travel, no data staged, history " +
      "after the target stays readable") {
    val p = tmp()
    val v1 = VersionedTable.commit(spark, p, df(1L -> "a"), 0L)
    val v2 = VersionedTable.commit(spark, p, df(2L -> "b"), v1)
    val v3 = VersionedTable.commit(spark, p, df(9L -> "bad"), v2,
      replace = true)
    val before = dataGroupCount(p)
    val v4 = VersionedTable.restore(spark, p, v2)
    assert(v4 == v3 + 1, "the rollback is itself a new version")
    assert(snapshot(p) == Map(1L -> "a", 2L -> "b"),
      "head must be exactly the restored snapshot")
    assert(dataGroupCount(p) == before,
      "restore must not stage or move any data")
    assert(snapshot(p, Some(v3)) == Map(9L -> "bad"),
      "the rolled-back version stays readable (restore is not erasure)")
    assert(snapshot(p, Some(v4)) == snapshot(p, Some(v2)))
  }

  test("restore refuses a target behind the retention horizon, and a " +
      "restore entry re-pins its groups against expiry + vacuum") {
    val p = tmp()
    val v1 = VersionedTable.commit(spark, p, df(1L -> "a"), 0L)
    val v2 = VersionedTable.commit(spark, p, df(2L -> "b"), v1)
    VersionedTable.commit(spark, p, df(9L -> "z"), v2, replace = true)
    val v4 = VersionedTable.restore(spark, p, v1)
    // expiry drops v1/v2's entries; the horizon checkpoint + the
    // restore entry both still reference group A, so vacuum keeps it
    VersionedTable.expireVersions(spark, p, keepLast = 2)
    assert(VersionedTable.vacuum(spark, p, minAgeMs = 0).isEmpty,
      "every group is still referenced by some entry or checkpoint")
    assert(snapshot(p) == Map(1L -> "a"),
      "restored head reads intact after expiry + vacuum")
    val err = intercept[IllegalArgumentException] {
      VersionedTable.restore(spark, p, v1)
    }
    assert(err.getMessage.contains("retention horizon"))
    assert(VersionedTable.currentVersion(spark, p) == v4,
      "the refused restore must not have committed anything")
  }

  test("cloneShallow: zero-copy branch — reads the source snapshot, " +
      "diverges independently, clone-side vacuum cannot reach source " +
      "files, optimize localizes the clone") {
    val p = tmp()
    val c = tmp()
    val v1 = VersionedTable.commit(spark, p, df(1L -> "a", 2L -> "b"), 0L)
    VersionedTable.commit(spark, p, df(3L -> "c"), v1)
    VersionedTable.cloneShallow(spark, p, c)
    assert(dataGroupCount(c) == 0, "shallow clone copies no data")
    assert(snapshot(c) == Map(1L -> "a", 2L -> "b", 3L -> "c"))
    // diverge the clone; the source must not move
    VersionedTable.merge(spark, c, df(2L -> "B2", 4L -> "d"), "k")
    assert(snapshot(c) == Map(1L -> "a", 2L -> "B2", 3L -> "c", 4L -> "d"))
    assert(snapshot(p) == Map(1L -> "a", 2L -> "b", 3L -> "c"),
      "source unchanged by clone-side writes")
    // clone vacuum lists only its own data dir: source files are
    // structurally out of reach (and the clone's own merge output is
    // referenced, so nothing goes at all)
    assert(VersionedTable.vacuum(spark, c, minAgeMs = 0).isEmpty)
    assert(snapshot(p) == Map(1L -> "a", 2L -> "b", 3L -> "c"))
    // optimize rewrites the clone's snapshot into LOCAL groups: the
    // head entry carries no external reference afterwards
    VersionedTable.optimize(spark, c, statsCol = Some("k"))
    val head = VersionedTable.currentVersion(spark, c)
    val raw = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(c, "_log", f"v$head%08d.json")), "UTF-8")
    assert(!raw.contains(p),
      "optimized clone must no longer reference source paths:\n" + raw)
    assert(snapshot(c) == Map(1L -> "a", 2L -> "B2", 3L -> "c", 4L -> "d"))
  }

  test("cloneShallow clones a PAST version with asOfVersion; refuses " +
      "a non-empty target, an empty source, and a relative source") {
    val p = tmp()
    val c = tmp()
    val v1 = VersionedTable.commit(spark, p, df(1L -> "a"), 0L)
    VersionedTable.commit(spark, p, df(2L -> "b"), v1)
    VersionedTable.cloneShallow(spark, p, c, asOfVersion = Some(v1))
    assert(snapshot(c) == Map(1L -> "a"),
      "asOf clone branches from the historical snapshot")
    intercept[IllegalArgumentException] {
      VersionedTable.cloneShallow(spark, p, c) // target has commits
    }
    intercept[IllegalArgumentException] {
      VersionedTable.cloneShallow(spark, tmp(), tmp()) // empty source
    }
    intercept[IllegalArgumentException] {
      VersionedTable.cloneShallow(spark, "rel/path", tmp())
    }
  }

  private def kdf(rows: (Long, Long)*) = {
    import spark.implicits._
    rows.toDF("k", "pay")
  }

  private def ksnapshot(path: String) =
    VersionedTable.read(spark, path).get
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("mergePrunedRebase FOLDS a disjoint concurrent append: one " +
      "metadata retry, no data rewrite, serializable outcome") {
    val p = tmp()
    val v1 = VersionedTable.commit(spark, p, kdf(1L -> 10, 2L -> 20),
      0L, statsCol = Some("k"))
    val v2 = VersionedTable.commit(spark, p, kdf(100L -> 1, 101L -> 1),
      v1, statsCol = Some("k"))
    // interloper lands AFTER the merge's pinned snapshot v2
    VersionedTable.commit(spark, p, kdf(500L -> 5), v2,
      statsCol = Some("k"))
    val groupsBefore = dataGroupCount(p)
    val (v, rewrites, rebases) = VersionedTable.mergePrunedRebase(
      spark, p, kdf(2L -> 99, 3L -> 30), "k",
      fromVersion = Some(v2))
    assert(rebases == 1 && rewrites == 1,
      s"one fold over the disjoint append, one touched group: " +
        s"$rebases / $rewrites")
    assert(v == 4L)
    assert(dataGroupCount(p) == groupsBefore + 1,
      "exactly the one rewritten group was staged")
    assert(ksnapshot(p) == Map(1L -> 10L, 2L -> 99L, 3L -> 30L,
      100L -> 1L, 101L -> 1L, 500L -> 5L),
      "result equals interloper-then-merge")
  }

  test("mergePrunedRebase treats an OVERLAPPING append and a REPLACE " +
      "interloper as real conflicts: staged group cleaned, " +
      "CommitConflictException surfaces") {
    val p = tmp()
    val v1 = VersionedTable.commit(spark, p, kdf(1L -> 10, 2L -> 20),
      0L, statsCol = Some("k"))
    // overlapping append: key 3 sits inside the merge's update range
    VersionedTable.commit(spark, p, kdf(3L -> 30), v1,
      statsCol = Some("k"))
    val before = dataGroupCount(p)
    intercept[VersionedTable.CommitConflictException] {
      VersionedTable.mergePrunedRebase(spark, p,
        kdf(2L -> 99, 4L -> 40), "k", fromVersion = Some(v1))
    }
    assert(dataGroupCount(p) == before,
      "refused rebase must clean its staged group")
    assert(ksnapshot(p) == Map(1L -> 10L, 2L -> 20L, 3L -> 30L))
    // replace interloper (an optimize) can invalidate ANY read —
    // never folded, even when stats look disjoint
    val p2 = tmp()
    val w1 = VersionedTable.commit(spark, p2, kdf(1L -> 10, 2L -> 20),
      0L, statsCol = Some("k"))
    VersionedTable.commit(spark, p2, kdf(100L -> 1), w1,
      replace = true, statsCol = Some("k"))
    intercept[VersionedTable.CommitConflictException] {
      VersionedTable.mergePrunedRebase(spark, p2, kdf(2L -> 99), "k",
        fromVersion = Some(w1))
    }
  }

  test("mergePrunedRebase under a GENUINE race: disjoint appenders " +
      "land concurrently with the merge; everything commits, content " +
      "is the serial union") {
    val p = tmp()
    val v1 = VersionedTable.commit(spark, p,
      kdf((1L to 8L).map(k => k -> k * 10): _*), 0L,
      statsCol = Some("k"))
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val appenders = (0 until 4).map { i =>
      new Thread(() => {
        try {
          // each appender owns a far-away key range, disjoint from
          // the merge's [2, 3] span and from each other
          VersionedTable.commitAppendWithRetry(spark, p,
            kdf((1000L + i) -> i.toLong), statsCol = Some("k"))
        } catch { case t: Throwable => errs.add(t) }
      })
    }
    val merger = new Thread(() => {
      try {
        var done = false
        while (!done) {
          try {
            VersionedTable.mergePrunedRebase(spark, p,
              kdf(2L -> 99, 3L -> 98), "k")
            done = true
          } catch {
            // an append winning the CAS in the same instant the fold
            // re-publishes is still possible; full re-derive is the
            // documented fallback
            case _: VersionedTable.CommitConflictException =>
          }
        }
      } catch { case t: Throwable => errs.add(t) }
    })
    (appenders :+ merger).foreach(_.start())
    (appenders :+ merger).foreach(_.join(120000))
    assert(errs.isEmpty, s"unexpected failures: $errs")
    val want = (1L to 8L).map(k => k -> k * 10).toMap ++
      Map(2L -> 99L, 3L -> 98L) ++
      (0 until 4).map(i => (1000L + i) -> i.toLong).toMap
    assert(ksnapshot(p) == want)
  }

  /** Every version in the log must read as a complete snapshot — the
    * no-torn-state invariant the race tests below assert after every
    * interleaving. */
  private def allVersionsReadable(p: String): Unit = {
    val head = VersionedTable.currentVersion(spark, p)
    (1L to head).foreach { v =>
      VersionedTable.read(spark, p, Some(v)).foreach(df =>
        assert(df.count() >= 0))
    }
  }

  test("race: DV-delete vs OPTIMIZE on the same group — exactly one " +
      "wins each version, the retried loser composes, content is the " +
      "serial outcome either way, every version readable") {
    val p = tmp()
    VersionedTable.commit(spark, p,
      kdf((1L to 8L).map(k => k -> k * 10): _*), 0L,
      statsCol = Some("k"))
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val conflicts = new java.util.concurrent.atomic.AtomicInteger(0)
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    def retrying(op: => Unit): Thread = new Thread(() => {
      try {
        barrier.await()
        var done = false
        while (!done) {
          try { op; done = true }
          catch {
            case _: VersionedTable.CommitConflictException =>
              conflicts.incrementAndGet()
          }
        }
      } catch { case t: Throwable => errs.add(t) }
    })
    val deleter = retrying(
      VersionedTable.deleteKeys(spark, p, kdf(2L -> 0L, 3L -> 0L), "k"))
    val optimizer = retrying(
      VersionedTable.optimize(spark, p, statsCol = Some("k")))
    Seq(deleter, optimizer).foreach(_.start())
    Seq(deleter, optimizer).foreach(_.join(120000))
    assert(errs.isEmpty, s"unexpected failures: $errs")
    // both committed (delete-then-optimize clears the vector,
    // optimize-then-delete leaves one) — content is identical
    assert(ksnapshot(p) ==
      (1L to 8L).filterNot(k => k == 2L || k == 3L)
        .map(k => k -> k * 10).toMap)
    allVersionsReadable(p)
    info(s"observed conflicts: ${conflicts.get()}")
  }

  test("race: RESTORE vs APPEND — both commit (retried), the LAST " +
      "committer's semantics own the head, the other's version stays " +
      "readable (no lost write, no torn state)") {
    val p = tmp()
    val v1 = VersionedTable.commit(spark, p, kdf(1L -> 10L), 0L,
      statsCol = Some("k"))
    VersionedTable.commit(spark, p, kdf(2L -> 20L), v1,
      statsCol = Some("k"))
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val restoredAt = new java.util.concurrent.atomic.AtomicLong(-1)
    val appendedAt = new java.util.concurrent.atomic.AtomicLong(-1)
    def retrying(op: => Long, out: java.util.concurrent.atomic.AtomicLong)
        : Thread = new Thread(() => {
      try {
        barrier.await()
        var done = false
        while (!done) {
          try { out.set(op); done = true }
          catch { case _: VersionedTable.CommitConflictException => }
        }
      } catch { case t: Throwable => errs.add(t) }
    })
    val restorer = retrying(VersionedTable.restore(spark, p, v1),
      restoredAt)
    val appender = retrying(
      VersionedTable.commitAppendWithRetry(spark, p, kdf(3L -> 30L),
        statsCol = Some("k"))._1, appendedAt)
    Seq(restorer, appender).foreach(_.start())
    Seq(restorer, appender).foreach(_.join(120000))
    assert(errs.isEmpty, s"unexpected failures: $errs")
    assert(restoredAt.get() > 0 && appendedAt.get() > 0 &&
      restoredAt.get() != appendedAt.get(),
      s"both must land on distinct versions: $restoredAt/$appendedAt")
    val head = ksnapshot(p)
    if (restoredAt.get() > appendedAt.get()) {
      // restore landed last: head is the v1 era; the append is not
      // lost — its own version still reads complete
      assert(head == Map(1L -> 10L), s"head after restore-last: $head")
      val atAppend = VersionedTable
        .read(spark, p, Some(appendedAt.get())).get
        .collect().map(r => r.getLong(0)).toSet
      assert(atAppend.contains(3L), "append version must show its row")
    } else {
      // append landed last, on top of the restored (or pre-restore)
      // state it observed
      assert(head.get(3L).contains(30L), s"head after append-last: $head")
    }
    allVersionsReadable(p)
  }

  test("race: RENAME COLUMN vs stats-pruned MERGE — the schema gate " +
      "refuses a retried old-name batch after the rename wins; " +
      "re-submitted under the new name it lands; merge-first then " +
      "rename composes identically") {
    val p = tmp()
    VersionedTable.commit(spark, p,
      kdf((1L to 4L).map(k => k -> k * 10): _*), 0L,
      statsCol = Some("k"))
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val renamer = new Thread(() => {
      try {
        barrier.await()
        var done = false
        while (!done) {
          try { VersionedTable.renameColumn(spark, p, "pay", "amount")
            done = true }
          catch { case _: VersionedTable.CommitConflictException => }
        }
      } catch { case t: Throwable => errs.add(t) }
    })
    val merger = new Thread(() => {
      try {
        import spark.implicits._
        barrier.await()
        var done = false
        var colName = "pay"
        while (!done) {
          try {
            VersionedTable.mergePruned(spark, p,
              Seq((2L, 99L)).toDF("k", colName), "k")
            done = true
          } catch {
            case _: VersionedTable.CommitConflictException =>
            case e: IllegalArgumentException
                if e.getMessage.contains("introduces column") =>
              // the rename won the race between our gate and publish:
              // the old-name batch is REFUSED (the guard working as
              // designed) — re-derive under the new name
              colName = "amount"
          }
        }
      } catch { case t: Throwable => errs.add(t) }
    })
    Seq(renamer, merger).foreach(_.start())
    Seq(renamer, merger).foreach(_.join(120000))
    assert(errs.isEmpty, s"unexpected failures: $errs")
    val got = VersionedTable.read(spark, p).get
    assert(got.columns.toSeq == Seq("k", "amount"),
      s"rename must hold at head: ${got.columns.toSeq}")
    val m = got.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m == Map(1L -> 10L, 2L -> 99L, 3L -> 30L, 4L -> 40L),
      s"merge must hold at head: $m")
    allVersionsReadable(p)
  }

  test("per-group row counts ride the log (observed at stage time), " +
      "and entries WITHOUT the field still parse (older tables)") {
    val p = tmp()
    val v1 = VersionedTable.commit(spark, p, df(1L -> "a", 2L -> "b"),
      0L, statsCol = Some("k"))
    val raw = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(p, "_log", f"v$v1%08d.json")), "UTF-8")
    assert(raw.contains(""""rows":[2]"""),
      "stage-time observed count must land in the log:\n" + raw)
    // strip the rows field to simulate a pre-round-16 entry: every
    // verb must still work (falling back to the probe/count paths)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(p, "_log", f"v$v1%08d.json"),
      raw.replaceAll(""","rows":\[[^\]]*\]""", "").getBytes("UTF-8"))
    val (v2, masked, rewrote) = VersionedTable.mergeDv(spark, p,
      df(2L -> "B2"), "k", maxDvFraction = 1.0)
    assert(v2 == 2L && masked == 1 && rewrote == 0,
      s"mergeDv over a rows-less entry: ($v2, $masked, $rewrote)")
    assert(snapshot(p) == Map(1L -> "a", 2L -> "B2"))
  }

  test("an empty mergeDv batch stays a complete no-op under the " +
      "stage-first form: no new version, no leftover staged dir") {
    val p = tmp()
    val v1 = VersionedTable.commit(spark, p, df(1L -> "a"), 0L,
      statsCol = Some("k"))
    val (v2, masked, rewrote) =
      VersionedTable.mergeDv(spark, p, df().limit(0), "k")
    assert((v2, masked, rewrote) == ((v1, 0, 0)))
    assert(new java.io.File(s"$p/data").listFiles()
      .count(_.isDirectory) == 1,
      "the staged empty batch dir must be cleaned up")
    assert(snapshot(p) == Map(1L -> "a"))
  }

  test("an empty mergePruned batch publishes no version and stages no " +
      "stats-less group, so a later rebase still folds a disjoint " +
      "append") {
    val fresh = tmp()
    assert(VersionedTable.mergePruned(spark, fresh, kdf(), "k") == ((0L, 0)))
    assert(VersionedTable.currentVersion(spark, fresh) == 0L)
    assert(dataGroupCount(fresh) == 0, "the empty staged group is dropped")
    val p = tmp()
    val v1 = VersionedTable.commit(spark, p, kdf(1L -> 10, 2L -> 20),
      0L, statsCol = Some("k"))
    assert(VersionedTable.mergePruned(spark, p, kdf(), "k") == ((v1, 0)))
    assert(VersionedTable.currentVersion(spark, p) == v1)
    assert(dataGroupCount(p) == 1, "the empty staged group is dropped")
    // a merge pinned at v1 while a disjoint append lands still folds
    val v2 = VersionedTable.commit(spark, p, kdf(500L -> 5), v1,
      statsCol = Some("k"))
    assert(VersionedTable.mergePrunedRebase(spark, p, kdf(2L -> 99), "k",
      fromVersion = Some(v1)) == ((v2 + 1, 1, 1)))
    assert(ksnapshot(p) == Map(1L -> 10L, 2L -> 99L, 500L -> 5L))
  }

  test("mergePrunedRebase of an empty or all-null-key batch, pinned " +
      "behind a disjoint append, does not conflict") {
    val p = tmp()
    val v1 = VersionedTable.commit(spark, p, kdf(1L -> 10, 2L -> 20),
      0L, statsCol = Some("k"))
    val v2 = VersionedTable.commit(spark, p, kdf(500L -> 5), v1,
      statsCol = Some("k"))
    // empty: nothing to publish, the pinned version comes back
    assert(VersionedTable.mergePrunedRebase(spark, p, kdf(), "k",
      fromVersion = Some(v1)) == ((v1, 0, 0)))
    assert(VersionedTable.currentVersion(spark, p) == v2)
    // null keys match nothing: appended, with one fold over the append
    val nulls = spark.sql(
      "SELECT CAST(NULL AS BIGINT) AS k, CAST(7 AS BIGINT) AS pay")
    assert(VersionedTable.mergePrunedRebase(spark, p, nulls, "k",
      fromVersion = Some(v1)) == ((v2 + 1, 0, 1)))
    val got = VersionedTable.read(spark, p).get.collect().map(r =>
      (if (r.isNullAt(0)) None else Some(r.getLong(0))) -> r.getLong(1))
    assert(got.toSet == Set(Some(1L) -> 10L, Some(2L) -> 20L,
      Some(500L) -> 5L, None -> 7L))
  }
}
