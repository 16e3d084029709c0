package graft

import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicReference

import org.apache.hadoop.fs.{FSDataOutputStream, FileStatus, LocalFileSystem,
  LocatedFileStatus, Path, RawLocalFileSystem, RemoteIterator}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.VersionedTable
import graft.sources.VersionedTable.CommitConflictException
import graft.streaming.VersionedSink

/** The stock local filesystem under its own `vtcount` scheme: it
  * records every directory it lists and every file it creates, can
  * run one action just before a writer publishes into a given `_log/`
  * (the `mkdirs` every commit makes first), and can fail one created
  * stream on `close` — bytes that never reached the file, as in a
  * crash mid-write. Registered per session as
  * `fs.vtcount.impl`, so only paths written `vtcount:///...` pass
  * through it. */
class ListCountingFs extends LocalFileSystem(new RawLocalFileSystem {
  override def getUri: URI = ListCountingFs.Uri
}) {
  import ListCountingFs._
  override def getScheme: String = Uri.getScheme
  override def listStatus(f: Path): Array[FileStatus] = {
    listed.add(f.toUri.getPath); super.listStatus(f)
  }
  override def listLocatedStatus(f: Path)
      : RemoteIterator[LocatedFileStatus] = {
    listed.add(f.toUri.getPath); super.listLocatedStatus(f)
  }
  override def listStatusIterator(p: Path): RemoteIterator[FileStatus] = {
    listed.add(p.toUri.getPath); super.listStatusIterator(p)
  }
  override def mkdirs(f: Path): Boolean = {
    runHook(f); super.mkdirs(f)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    runHook(f); super.mkdirs(f, permission)
  }
  override def create(f: Path, permission: FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    val p = f.toUri.getPath
    created.add(p)
    val out = super.create(f, permission, overwrite, bufferSize,
      replication, blockSize, progress)
    val fault = failOnClose.get
    if (fault == null || !fault(p) || !failOnClose.compareAndSet(fault, null))
      out
    else new FSDataOutputStream(out, null) {
      override def close(): Unit =
        throw new java.io.IOException(s"injected failure closing $p")
    }
  }
  private def runHook(f: Path): Unit = {
    val hook = beforePublish.get
    if (hook != null && hook._1 == f.toUri.getPath &&
        beforePublish.compareAndSet(hook, null)) hook._2()
  }
}

object ListCountingFs {
  val Uri: URI = URI.create("vtcount:///")
  val listed = new ConcurrentLinkedQueue[String]()
  val created = new ConcurrentLinkedQueue[String]()
  /** Fails the next created stream whose path it accepts, on close. */
  val failOnClose = new AtomicReference[String => Boolean]()
  /** (log dir, action): runs once, on the next mkdirs of that dir. */
  val beforePublish = new AtomicReference[(String, () => Unit)]()
}

/** Every table verb reads `_log/` through ONE listing: the snapshot it
  * gates, plans and commits against (a commit landing on a
  * checkpoint boundary included — the checkpoint follows from that
  * snapshot plus the new entry). The streaming sink's batches take
  * the head's batch tag from that same snapshot. */
class LogListingSpec extends AnyFunSuite {
  lazy val spark = {
    val s = TestSpark.spark
    s.sparkContext.hadoopConfiguration
      .set("fs.vtcount.impl", classOf[ListCountingFs].getName)
    s
  }

  private def df(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("k", "v")
  }

  /** Nine key-clustered append commits — group i holds keys
    * [10 i, 10 i + 4] — so the verb under test commits v10, a
    * checkpoint boundary. Built once, copied per test. */
  private lazy val base: JPath = {
    val p = Files.createTempDirectory("loglisting")
    var v = 0L
    (0 until 9).foreach { i =>
      v = VersionedTable.commit(spark, p.toString,
        df((0 until 5).map(j => (10L * i + j) -> s"r$i"): _*), v,
        statsCol = Some("k"))
    }
    p
  }

  /** A private copy of the base table, addressed through `vtcount`. */
  private def table(): String = {
    val dst = Files.createTempDirectory("loglisting")
    Files.walk(base).forEach { src =>
      val to = dst.resolve(base.relativize(src).toString)
      if (Files.isDirectory(src)) Files.createDirectories(to)
      else Files.copy(src, to)
    }
    s"vtcount://$dst"
  }

  private def logListings(p: String)(body: => Unit): Int = {
    val log = new URI(p).getPath + "/_log"
    ListCountingFs.listed.clear()
    body
    ListCountingFs.listed.toArray.count(_ == log)
  }

  private def rows(p: String): Set[(Long, String)] =
    VersionedTable.read(spark, p).get.collect()
      .map(r => r.getLong(0) -> r.getString(1)).toSet

  private val baseRows: Set[(Long, String)] =
    (0 until 9).flatMap(i => (0 until 5).map(j => (10L * i + j) -> s"r$i"))
      .toSet

  private def hasCheckpoint(p: String, v: Long): Boolean =
    Files.exists(java.nio.file.Paths.get(new URI(p).getPath, "_log",
      f"chk-v$v%08d.json"))

  test("mergeDv lists the log once and checkpoints v10 from its snapshot") {
    val p = table()
    val n = logListings(p) {
      val (v, masked, _) = VersionedTable.mergeDv(spark, p,
        df(1L -> "u", 11L -> "u", 500L -> "new"), "k")
      assert(v == 10L && masked == 2)
    }
    assert(n == 1, s"$n listings of _log/")
    assert(hasCheckpoint(p, 10L))
    assert(rows(p) == baseRows - (1L -> "r0") - (11L -> "r1") +
      (1L -> "u") + (11L -> "u") + (500L -> "new"))
  }

  test("mergePruned lists the log once") {
    val p = table()
    val n = logListings(p) {
      val (v, rewritten) = VersionedTable.mergePruned(spark, p,
        df(2L -> "u", 12L -> "u"), "k")
      assert(v == 10L && rewritten == 2)
    }
    assert(n == 1, s"$n listings of _log/")
    assert(hasCheckpoint(p, 10L))
    assert(rows(p) == baseRows - (2L -> "r0") - (12L -> "r1") +
      (2L -> "u") + (12L -> "u"))
  }

  test("optimize lists the log once") {
    val p = table()
    val n = logListings(p) {
      assert(VersionedTable.optimize(spark, p, statsCol = Some("k"))._1 == 10L)
    }
    assert(n == 1, s"$n listings of _log/")
    assert(hasCheckpoint(p, 10L))
    assert(rows(p) == baseRows)
  }

  test("readIndexed lists the log once") {
    val p = table()
    val n = logListings(p) {
      val got = VersionedTable.readIndexed(spark, p, "k").get
        .filter("k BETWEEN 20 AND 24").count()
      assert(got == 5L)
    }
    assert(n == 1, s"$n listings of _log/")
  }

  test("deleteKeys lists the log once") {
    val p = table()
    val n = logListings(p) {
      val (v, vectors) = VersionedTable.deleteKeys(spark, p,
        df(3L -> "", 33L -> ""), "k")
      assert(v == 10L && vectors == 2)
    }
    assert(n == 1, s"$n listings of _log/")
    assert(hasCheckpoint(p, 10L))
    assert(rows(p) == baseRows - (3L -> "r0") - (33L -> "r3"))
  }

  test("appendBatch lists the log once; its retry at the checkpoint " +
      "head lists it once and commits nothing") {
    val p = table()
    val n = logListings(p) {
      assert(VersionedSink.appendBatch(spark, p, df(500L -> "b7"), 7L,
        Some("k")) == 10L)
    }
    assert(n == 1, s"$n listings of _log/")
    assert(hasCheckpoint(p, 10L))
    val retry = logListings(p) {
      assert(VersionedSink.appendBatch(spark, p, df(500L -> "b7"), 7L,
        Some("k")) == 10L)
    }
    assert(retry == 1, s"$retry listings of _log/ on the retry")
    assert(VersionedTable.currentVersion(spark, p) == 10L)
    assert(VersionedTable.read(spark, p).get.count() == baseRows.size + 1)
  }

  test("upsertBatch lists the log once; its retry at the checkpoint " +
      "head lists it once and commits nothing") {
    val p = table()
    val n = logListings(p) {
      assert(VersionedSink.upsertBatch(spark, p,
        df(1L -> "u", 500L -> "new"), 7L, "k") == 10L)
    }
    assert(n == 1, s"$n listings of _log/")
    assert(hasCheckpoint(p, 10L))
    val retry = logListings(p) {
      assert(VersionedSink.upsertBatch(spark, p,
        df(1L -> "u", 500L -> "new"), 7L, "k") == 10L)
    }
    assert(retry == 1, s"$retry listings of _log/ on the retry")
    assert(VersionedTable.currentVersion(spark, p) == 10L)
    assert(rows(p) == baseRows - (1L -> "r0") + (1L -> "u") +
      (500L -> "new"))
  }

  test("a mergePruned that loses its race deletes its staged group and " +
      "throws CommitConflictException") {
    val p = table()
    val dataDir = new java.io.File(new URI(p).getPath, "data")
    val before = dataDir.list().toSet
    // a disjoint append wins v10 just before the merge publishes
    ListCountingFs.beforePublish.set(new URI(p).getPath + "/_log" -> (() =>
      VersionedTable.commit(spark, p, df(900L -> "winner"), 9L,
        statsCol = Some("k"))))
    intercept[CommitConflictException] {
      VersionedTable.mergePruned(spark, p, df(4L -> "lost"), "k")
    }
    assert(ListCountingFs.beforePublish.get == null, "the race never ran")
    val added = dataDir.list().toSet -- before
    assert(added.size == 1, s"only the winner's group remains: $added")
    assert(VersionedTable.currentVersion(spark, p) == 10L)
    assert(rows(p) == baseRows + (900L -> "winner"))
  }

  private def logFiles(p: String): Set[String] =
    java.nio.file.Paths.get(new URI(p).getPath, "_log").toFile.list().toSet

  test("checkpoints land by rename: neither a checkpoint-boundary " +
      "commit nor expireVersions creates a chk-v*.json path") {
    val p = table()
    val log = new URI(p).getPath + "/_log/"
    ListCountingFs.created.clear()
    assert(VersionedTable.commit(spark, p, df(500L -> "n"), 9L,
      statsCol = Some("k")) == 10L)
    assert(VersionedTable.expireVersions(spark, p, keepLast = 3) == 7L)
    val direct = ListCountingFs.created.toArray.map(_.toString)
      .filter(c => c.startsWith(log) && new Path(c).getName.startsWith("chk-v"))
    assert(direct.isEmpty, s"created in place: ${direct.mkString(", ")}")
    assert(hasCheckpoint(p, 10L) && hasCheckpoint(p, 7L))
    assert(logFiles(p).forall(n => !n.startsWith(".tmp")))
    assert(rows(p) == baseRows + (500L -> "n"))
    // v8 resolves from the horizon checkpoint v7 plus entry v8
    assert(VersionedTable.read(spark, p, Some(8L)).get.count() == 40L)
  }

  test("a checkpoint write that fails inside expireVersions expires " +
      "no entry and leaves the head readable") {
    val p = table()
    val log = new URI(p).getPath + "/_log/"
    val before = logFiles(p)
    ListCountingFs.failOnClose.set(c => c.startsWith(log) && c.contains("chk"))
    intercept[java.io.IOException] {
      VersionedTable.expireVersions(spark, p, keepLast = 3)
    }
    assert(ListCountingFs.failOnClose.get == null, "the fault never ran")
    assert(logFiles(p).filter(_.startsWith("v")) ==
      before.filter(_.startsWith("v")), "an entry was deleted")
    assert(rows(p) == baseRows)
    assert(VersionedTable.read(spark, p, Some(6L)).get.count() == 30L)
  }

  test("a checkpoint that fails after its entry landed does not fail " +
      "the commit: the version is returned and reads back, and no temp " +
      "file is left") {
    val p = table()
    val log = new URI(p).getPath + "/_log/"
    ListCountingFs.failOnClose.set(c =>
      c.startsWith(log) && new Path(c).getName.startsWith(".tmp-chk-"))
    val (v, lost) = try VersionedTable.commitAppendWithRetry(spark, p,
        df(500L -> "n"), statsCol = Some("k"))
      finally ListCountingFs.failOnClose.set(null)
    assert(v == 10L && lost == 0)
    assert(!hasCheckpoint(p, 10L), "the fault never ran")
    assert(rows(p) == baseRows + (500L -> "n"))
    assert(logFiles(p).forall(n => !n.contains("tmp-chk")),
      logFiles(p).mkString(", "))
  }
}
