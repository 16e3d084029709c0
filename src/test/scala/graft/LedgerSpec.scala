package graft

import java.net.URI
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.TestBus
import org.scalatest.funsuite.AnyFunSuite

import graft.nhl.{Ingest, Ledger, Staging}
import graft.sources.VersionedTable

/** The Ledger verbs as commits on the versioned log. COPY INTO
  * (`Ledger.copyInto`): the Spark jobs a game day's load, replay and
  * read cost; a crash while the load is recorded; load history
  * across checkpoints, compaction and version expiry; and the
  * target's CHECK constraints. delete+insert
  * and append-if-absent (`deleteInsert`, `incrementalByKey`): a string
  * key, one log entry and few jobs per call, and a crash at the
  * publish. */
class LedgerSpec extends AnyFunSuite {
  lazy val spark = {
    val s = TestSpark.spark
    s.sparkContext.hadoopConfiguration
      .set("fs.vtcount.impl", classOf[ListCountingFs].getName)
    s
  }

  /** A stage dir holding games CSV files, one per (name, games). */
  private def stage(files: (String, Int)*): String = {
    val d = Files.createTempDirectory("ledger-stage")
    files.foreach { case (name, n) =>
      val rows = (1 to n).map(i =>
        s"2024-01-${"%02d".format(i)},7:00,Boston Bruins,$i," +
          s"Chicago Blackhawks,2,,1800$i,2:30,")
      Files.writeString(d.resolve(name), rows.mkString("", "\n", "\n"))
    }
    d.toString
  }

  private def games(dir: String): DataFrame = Ingest.readGamesCsv(spark, dir)

  private def target(): String =
    Files.createTempDirectory("ledger-target").resolve("raw").toString

  /** Rows per source file of the target. */
  private def perFile(t: String): Map[String, Long] =
    Ledger.readTarget(spark, t).get.groupBy(col("source_file")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  /** The Spark jobs `f` starts, with its result. */
  private def jobs[A](f: => A): (A, Int) = {
    val n = new AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    TestBus.drain(spark)
    spark.sparkContext.addSparkListener(l)
    try { val a = f; TestBus.drain(spark); (a, n.get) }
    finally spark.sparkContext.removeSparkListener(l)
  }

  test("a game day's COPY INTO costs one Spark job, its replay at most " +
      "one and no rows, and reading and staging the target none") {
    val t = target()
    val st = target()
    val (first, j1) = jobs(Ledger.copyInto(spark,
      games(stage("g1.csv" -> 3)), t))
    assert(first == 3L && j1 == 1, s"first load: $first rows, $j1 jobs")
    val day2 = stage("g1.csv" -> 3, "g2.csv" -> 2)
    val (second, j2) = jobs(Ledger.copyInto(spark, games(day2), t))
    assert(second == 2L && j2 == 1, s"second load: $second rows, $j2 jobs")
    val (replay, j3) = jobs(Ledger.copyInto(spark, games(day2), t))
    assert(replay == 0L && j3 <= 1, s"replay: $replay rows, $j3 jobs")
    val statsDir = Files.createTempDirectory("ledger-stats")
    Files.writeString(statsDir.resolve("teams.csv"),
      "Atlantic Division,,,,,,,,,,,,,\n" +
        "Boston Bruins,82,47,20,15,109,0.665,267,224,0.61,0.02,0.64,39,39-17-10\n")
    assert(Ledger.copyInto(spark,
      Ingest.readTeamStatsCsv(spark, statsDir.toString), st) == 2L)
    val (_, j4) = jobs {
      Staging.stgGames(Ledger.readTarget(spark, t).get)
      Staging.stgTeamStatistics(Ledger.readTarget(spark, st).get)
    }
    assert(j4 == 0, s"reading and staging the targets: $j4 jobs")
    assert(perFile(t) == Map("g1.csv" -> 3L, "g2.csv" -> 2L))
  }

  test("a crash while COPY INTO records its load leaves the rows of " +
      "before the call, and the retry loads every file exactly once") {
    val t = s"vtcount://${target()}"
    val local = new URI(t).getPath
    assert(Ledger.copyInto(spark, games(stage("f1.csv" -> 3)), t) == 3L)
    val before = perFile(t)
    val day = games(stage("f1.csv" -> 3, "f2.csv" -> 2))
    // the first write of load history fails; where the log entry itself
    // is published without a Hadoop create (a hard link on local
    // disk), the crash lands just before that publish instead
    ListCountingFs.failOnClose.set(p =>
      p.startsWith(s"$local/_ledger/") || p.startsWith(s"$local/_log/"))
    ListCountingFs.beforePublish.set(s"$local/_log" -> (() =>
      throw new java.io.IOException("injected crash before the publish")))
    try {
      intercept[Exception](Ledger.copyInto(spark, day, t))
      assert(ListCountingFs.failOnClose.get == null ||
        ListCountingFs.beforePublish.get == null, "no fault ran")
    } finally {
      ListCountingFs.failOnClose.set(null)
      ListCountingFs.beforePublish.set(null)
    }
    assert(perFile(t) == before, "the failed call changed the target")
    Ledger.copyInto(spark, day, t)
    assert(perFile(t) == Map("f1.csv" -> 3L, "f2.csv" -> 2L))
  }

  test("load history survives a checkpoint, optimize and " +
      "expireVersions; a log entry without loaded files still reads") {
    val t = target()
    // v1: a plain commit, whose entry names no loaded file
    val old = games(stage("f0.csv" -> 1))
    VersionedTable.commit(spark, t, old, 0L)
    assert(!new String(Files.readAllBytes(Paths.get(t, "_log",
      "v00000001.json")), "UTF-8").contains("files"))
    val all = stage((1 to 9).map(i => s"f$i.csv" -> 2): _*)
    def only(fs: Int*): DataFrame = games(all).filter(col("source_file")
      .isin(fs.map(i => s"f$i.csv"): _*))
    assert(Ledger.copyInto(spark, only(1, 2), t) == 4L) // v2
    (3 to 9).foreach(i => assert(Ledger.copyInto(spark, only(i), t) == 2L))
    // v9 is the last load; optimize commits v10, a checkpoint boundary
    assert(VersionedTable.optimize(spark, t)._1 == 10L)
    assert(Files.exists(Paths.get(t, "_log", "chk-v00000010.json")))
    assert(VersionedTable.expireVersions(spark, t, keepLast = 1) == 9L)
    assert(Ledger.copyInto(spark, only(1), t) == 0L)
    assert(Ledger.copyInto(spark, games(all), t) == 0L)
    val want = Map("f0.csv" -> 1L) ++ (1 to 9).map(i => s"f$i.csv" -> 2L)
    assert(perFile(t) == want)
    assert(VersionedTable.currentVersion(spark, t) == 10L)
  }

  test("COPY INTO holds the target's CHECK constraints: a violating " +
      "file is refused and loads nothing, a clean one loads") {
    import spark.implicits._
    def pay(file: String, v: Long): DataFrame =
      Seq(file -> v).toDF("source_file", "pay")
    val t = target()
    assert(Ledger.copyInto(spark, pay("f1.csv", 10L), t) == 1L)
    VersionedTable.addCheck(spark, t, "pos", "pay >= 0")
    val before = VersionedTable.currentVersion(spark, t)
    val e = intercept[IllegalArgumentException](
      Ledger.copyInto(spark, pay("f2.csv", -5L), t))
    assert(e.getMessage.contains("check constraint 'pos'"), e.getMessage)
    assert(VersionedTable.currentVersion(spark, t) == before)
    assert(perFile(t) == Map("f1.csv" -> 1L))
    assert(Ledger.copyInto(spark, pay("f3.csv", 7L), t) == 1L)
    assert(perFile(t) == Map("f1.csv" -> 1L, "f3.csv" -> 1L))
  }

  private def keyed(rows: (String, Long)*): DataFrame = {
    import spark.implicits._
    rows.toDF("unique_key", "v")
  }

  private def content(t: String): Set[(String, Long)] =
    Ledger.readTarget(spark, t).get.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSet

  private val verbs = Seq[(String, (DataFrame, String) => Long)](
    "deleteInsert" -> ((b, t) => Ledger.deleteInsert(spark, b, t)),
    "incrementalByKey" -> ((b, t) => Ledger.incrementalByKey(spark, b, t)))

  test("merge and deleteInsert on a string key equal the anti-join of " +
      "the table against the batch's keys plus the batch") {
    val cur = keyed("a" -> 1L, "b" -> 2L, "c" -> 3L)
    val batch = keyed("b" -> 20L, "d" -> 4L)
    val want = cur.join(batch.select("unique_key"), Seq("unique_key"),
      "left_anti").unionByName(batch).collect().map(r =>
        r.getString(0) -> r.getLong(1)).toSet
    val m = target()
    VersionedTable.commit(spark, m, cur, 0L)
    assert(VersionedTable.merge(spark, m, batch, "unique_key") == 2L)
    assert(content(m) == want)
    val d = target()
    assert(Ledger.deleteInsert(spark, cur, d) == 3L)
    assert(Ledger.deleteInsert(spark, batch, d) == 4L)
    assert(content(d) == want)
  }

  test("the stats-pruned verbs take a string key: mergePruned, " +
      "mergePrunedRebase and mergeDv equal merge, deleteKeys equals the " +
      "anti-join of the table against the keys, and an empty batch " +
      "publishes nothing") {
    val cur = Seq(keyed("a" -> 1L, "b" -> 2L), keyed("c" -> 3L, "d" -> 4L))
    val batch = keyed("b" -> 20L, "e" -> 5L)
    def table(): String = {
      val t = target()
      cur.zipWithIndex.foreach { case (b, v) =>
        VersionedTable.commit(spark, t, b, v.toLong) }
      t
    }
    val ref = table()
    VersionedTable.merge(spark, ref, batch, "unique_key")
    val want = content(ref)
    val upserts = Seq[(String, String => Any)](
      "mergePruned" -> (VersionedTable.mergePruned(spark, _, batch,
        "unique_key")),
      "mergePrunedRebase" -> (VersionedTable.mergePrunedRebase(spark, _,
        batch, "unique_key")),
      "mergeDv rewriting" -> (VersionedTable.mergeDv(spark, _, batch,
        "unique_key")),
      "mergeDv masking" -> (VersionedTable.mergeDv(spark, _, batch,
        "unique_key", maxDvFraction = 1.0)))
    upserts.foreach { case (name, verb) =>
      val t = table()
      verb(t)
      assert(content(t) == want, name)
      val v = VersionedTable.currentVersion(spark, t)
      VersionedTable.mergePruned(spark, t, keyed(), "unique_key")
      VersionedTable.mergeDv(spark, t, keyed(), "unique_key")
      assert(VersionedTable.currentVersion(spark, t) == v,
        s"$name: an empty batch published a version")
    }
    val d = table()
    assert(VersionedTable.deleteKeys(spark, d, batch, "unique_key") ==
      (3L, 1))
    assert(content(d) == Set("a" -> 1L, "c" -> 3L, "d" -> 4L))
  }

  test("deleteInsert and incrementalByKey each publish exactly one log " +
      "entry, in at most three Spark jobs") {
    verbs.foreach { case (name, verb) =>
      val t = target()
      Seq(keyed("a" -> 1L, "b" -> 2L), keyed("b" -> 20L, "c" -> 3L))
        .zipWithIndex.foreach { case (b, i) =>
          val (_, n) = jobs(verb(b, t))
          assert(n <= 3, s"$name call ${i + 1}: $n jobs")
          assert(VersionedTable.currentVersion(spark, t) == i + 1L,
            s"$name call ${i + 1}")
        }
    }
  }

  test("a crash at the publish of deleteInsert or incrementalByKey " +
      "leaves the rows of before the call, and the rerun gives what a " +
      "run without the crash gives") {
    val first = keyed("a" -> 1L, "b" -> 2L)
    val second = keyed("b" -> 20L, "c" -> 3L)
    verbs.foreach { case (name, verb) =>
      val clean = target()
      verb(first, clean)
      val cleanN = verb(second, clean)
      val t = s"vtcount://${target()}"
      verb(first, t)
      val before = content(t)
      ListCountingFs.beforePublish.set(s"${new URI(t).getPath}/_log" ->
        (() => throw new java.io.IOException("injected crash")))
      try {
        intercept[java.io.IOException](verb(second, t))
        assert(ListCountingFs.beforePublish.get == null, "no fault ran")
      } finally ListCountingFs.beforePublish.set(null)
      assert(content(t) == before, s"the failed $name changed the target")
      assert(verb(second, t) == cleanN)
      assert(content(t) == content(clean), name)
    }
  }
}
