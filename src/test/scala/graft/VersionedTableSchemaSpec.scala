package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.VersionedTable

/** Column mapping: metadata-only RENAME/DROP COLUMN — zero data
  * rewritten, per-group mapping before the reconciling union, time
  * travel keeps era-correct names, checkpoints/expiry/restore/clone
  * carry the state. */
class VersionedTableSchemaSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private def tmp() = java.nio.file.Files
    .createTempDirectory("vschema").toString

  private def df(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("k", "v")
  }

  private def dataGroupCount(p: String): Int =
    Option(new java.io.File(p, "data").list()).map(_.length).getOrElse(0)

  test("renameColumn is metadata-only: old generations map at read, " +
      "new writes use the new name, both union under one logical " +
      "column; time travel shows era names; old-name batches refused") {
    val p = tmp()
    val v1 = VersionedTable.commit(spark, p, df(1L -> "a"), 0L)
    val before = dataGroupCount(p)
    val v2 = VersionedTable.renameColumn(spark, p, "v", "label")
    assert(dataGroupCount(p) == before, "rename must stage no data")
    assert(VersionedTable.read(spark, p).get.columns.toSeq ==
      Seq("k", "label"))
    assert(VersionedTable.read(spark, p, Some(v1)).get.columns.toSeq ==
      Seq("k", "v"), "time travel keeps the pre-rename name")
    // new generation writes the new name physically
    import spark.implicits._
    VersionedTable.commit(spark, p,
      Seq((2L, "b")).toDF("k", "label"), v2)
    val got = VersionedTable.read(spark, p).get
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "a", 2L -> "b"),
      "old and new generations reconcile under the logical name")
    // a batch still using the OLD name is a mis-schema'd batch now
    intercept[IllegalArgumentException] {
      VersionedTable.commit(spark, p, df(3L -> "c"),
        VersionedTable.currentVersion(spark, p))
    }
  }

  test("chained renames compose: generations written under each era " +
      "name all map to the latest; merge works over the mix") {
    val p = tmp()
    import spark.implicits._
    val v1 = VersionedTable.commit(spark, p, df(1L -> "a"), 0L,
      statsCol = Some("k"))
    val v2 = VersionedTable.renameColumn(spark, p, "v", "w")
    val v3 = VersionedTable.commit(spark, p,
      Seq((2L, "b")).toDF("k", "w"), v2, statsCol = Some("k"))
    VersionedTable.renameColumn(spark, p, "w", "x")
    assert(VersionedTable.read(spark, p).get.columns.toSeq ==
      Seq("k", "x"))
    val got = VersionedTable.read(spark, p).get
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "a", 2L -> "b"))
    // upsert through the mapped read path
    VersionedTable.merge(spark, p,
      Seq((1L, "A2"), (3L, "c")).toDF("k", "x"), "k")
    val m = VersionedTable.read(spark, p).get
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m == Map(1L -> "A2", 2L -> "b", 3L -> "c"))
    assert(VersionedTable.read(spark, p, Some(v3)).get.columns.toSeq ==
      Seq("k", "w"), "mid-chain time travel shows the mid-chain name")
    assert(VersionedTable.read(spark, p, Some(v1)).get.columns.toSeq ==
      Seq("k", "v"))
  }

  test("dropColumn masks every generation without rewriting; time " +
      "travel still shows the column; last column refuses") {
    val p = tmp()
    import spark.implicits._
    val v1 = VersionedTable.commit(spark, p,
      Seq((1L, "a", 7L), (2L, "b", 8L)).toDF("k", "v", "extra"), 0L)
    val before = dataGroupCount(p)
    VersionedTable.dropColumn(spark, p, "extra")
    assert(dataGroupCount(p) == before)
    assert(VersionedTable.read(spark, p).get.columns.toSeq ==
      Seq("k", "v"))
    assert(VersionedTable.read(spark, p, Some(v1)).get.columns.toSeq ==
      Seq("k", "v", "extra"), "pre-drop era still reads the column")
    intercept[IllegalArgumentException] {
      VersionedTable.dropColumn(spark, p, "nope")
    }
    val p2 = tmp()
    VersionedTable.commit(spark, p2,
      Seq(Tuple1(1L)).toDF("k"), 0L)
    intercept[IllegalArgumentException] {
      VersionedTable.dropColumn(spark, p2, "k")
    }
  }

  test("the schema state survives log expiry via the horizon " +
      "checkpoint, rides RESTORE back to the target era, and is " +
      "inherited by shallow clones") {
    val p = tmp()
    val v1 = VersionedTable.commit(spark, p, df(1L -> "a"), 0L)
    val v2 = VersionedTable.renameColumn(spark, p, "v", "label")
    VersionedTable.commit(spark, p, df(9L -> "z")
      .withColumnRenamed("v", "label"), v2)
    // clone BEFORE expiry inherits the mapping
    val c = tmp()
    VersionedTable.cloneShallow(spark, p, c)
    assert(VersionedTable.read(spark, c).get.columns.toSeq ==
      Seq("k", "label"))
    // expiry drops the rename entry; the horizon checkpoint carries it
    VersionedTable.expireVersions(spark, p, keepLast = 1)
    assert(VersionedTable.read(spark, p).get.columns.toSeq ==
      Seq("k", "label"),
      "mapping must survive the rename entry's expiry")
    // restore rewinds the schema era too
    val p2 = tmp()
    val w1 = VersionedTable.commit(spark, p2, df(1L -> "a"), 0L)
    VersionedTable.renameColumn(spark, p2, "v", "label")
    VersionedTable.restore(spark, p2, w1)
    assert(VersionedTable.read(spark, p2).get.columns.toSeq ==
      Seq("k", "v"), "restore returns to the target era's names")
  }

  test("CHECK constraints: adding validates existing data, writes " +
      "that violate are refused NAMING the constraint, dropCheck " +
      "re-opens, internal rewrites skip the re-probe") {
    val p = tmp()
    import spark.implicits._
    val v1 = VersionedTable.commit(spark, p,
      Seq((1L, 10L), (2L, 20L)).toDF("k", "pay"), 0L,
      statsCol = Some("k"))
    val before = dataGroupCount(p)
    VersionedTable.addCheck(spark, p, "pay_pos", "pay >= 0")
    assert(dataGroupCount(p) == before, "addCheck is metadata-only")
    // a violated constraint cannot be added
    val err0 = intercept[IllegalArgumentException] {
      VersionedTable.addCheck(spark, p, "pay_big", "pay >= 100")
    }
    assert(err0.getMessage.contains("existing rows violate"))
    // valid write passes; violating write refused with the name
    val v3 = VersionedTable.commit(spark, p,
      Seq((3L, 30L)).toDF("k", "pay"),
      VersionedTable.currentVersion(spark, p), statsCol = Some("k"))
    val err = intercept[IllegalArgumentException] {
      VersionedTable.commit(spark, p, Seq((4L, -5L)).toDF("k", "pay"),
        v3, statsCol = Some("k"))
    }
    assert(err.getMessage.contains("pay_pos"), err.getMessage)
    // merge updates are gated too
    intercept[IllegalArgumentException] {
      VersionedTable.merge(spark, p, Seq((2L, -1L)).toDF("k", "pay"), "k")
    }
    // a batch that cannot even resolve the constrained column refuses
    intercept[IllegalArgumentException] {
      VersionedTable.commit(spark, p, Seq(Tuple1(9L)).toDF("k"),
        VersionedTable.currentVersion(spark, p))
    }
    // OPTIMIZE (internal rewrite) passes without re-probing
    VersionedTable.optimize(spark, p, statsCol = Some("k"))
    assert(VersionedTable.read(spark, p).get.count() == 3)
    // drop re-opens the gate
    VersionedTable.dropCheck(spark, p, "pay_pos")
    VersionedTable.commit(spark, p, Seq((4L, -5L)).toDF("k", "pay"),
      VersionedTable.currentVersion(spark, p), statsCol = Some("k"))
    assert(VersionedTable.read(spark, p).get.count() == 4)
    assert(VersionedTable.read(spark, p, Some(v1)).isDefined)
  }

  test("CHECK treats non-true as a violation: a NULL in the " +
      "constrained column refuses the batch AND blocks addCheck on " +
      "existing data (Delta semantics, not ANSI null-passes)") {
    val p = tmp()
    import spark.implicits._
    val v1 = VersionedTable.commit(spark, p,
      Seq((1L, Some(10L)), (2L, Some(20L))).toDF("k", "pay"), 0L,
      statsCol = Some("k"))
    VersionedTable.addCheck(spark, p, "pay_pos", "pay >= 0")
    // NULL pay makes `pay >= 0` evaluate to NULL -> refused, named
    val err = intercept[IllegalArgumentException] {
      VersionedTable.commit(spark, p,
        Seq((3L, None: Option[Long])).toDF("k", "pay"),
        VersionedTable.currentVersion(spark, p), statsCol = Some("k"))
    }
    assert(err.getMessage.contains("pay_pos"), err.getMessage)
    // a table already holding a NULL cannot gain the constraint
    val p2 = tmp()
    VersionedTable.commit(spark, p2,
      Seq((1L, Some(10L)), (2L, None: Option[Long])).toDF("k", "pay"), 0L)
    val err2 = intercept[IllegalArgumentException] {
      VersionedTable.addCheck(spark, p2, "pay_pos", "pay >= 0")
    }
    assert(err2.getMessage.contains("existing rows violate"))
  }

  test("dropColumn refuses the key column of a LIVE deletion vector " +
      "(the read anti-join needs it on both sides); dropping an " +
      "unrelated column keeps DV-masked reads working") {
    val p = tmp()
    import spark.implicits._
    val v1 = VersionedTable.commit(spark, p,
      Seq((1L, 10L, "a"), (2L, 20L, "b"), (3L, 30L, "c"))
        .toDF("k", "pay", "tag"), 0L, statsCol = Some("k"))
    VersionedTable.deleteKeys(spark, p, Seq(2L).toDF("k"), "k")
    val err = intercept[IllegalArgumentException] {
      VersionedTable.dropColumn(spark, p, "k")
    }
    assert(err.getMessage.contains("deletion-vector key"), err.getMessage)
    // unrelated drop: DV sidecar keeps its key column (drops must not
    // apply to the key-only DV frame) and the masked read still works
    VersionedTable.dropColumn(spark, p, "tag")
    val got = VersionedTable.read(spark, p).get
    assert(got.columns.toSeq == Seq("k", "pay"))
    assert(got.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((1L, 10L), (3L, 30L)))
    // after a rewrite drops the vector, the key column CAN be renamed
    // away and back through optimize
    VersionedTable.optimize(spark, p, statsCol = Some("k"))
    VersionedTable.dropColumn(spark, p, "pay")
    assert(VersionedTable.read(spark, p).get.columns.toSeq == Seq("k"))
  }

  test("rename/drop column names inherit addCheck's reserved-char " +
      "guard: a ',' '\"' ']' would corrupt the log arrays") {
    val p = tmp()
    VersionedTable.commit(spark, p, df(1L -> "a"), 0L)
    Seq("a,b", "a\"b", "a]b", "a>b").foreach { bad =>
      intercept[IllegalArgumentException] {
        VersionedTable.renameColumn(spark, p, "v", bad)
      }
      intercept[IllegalArgumentException] {
        VersionedTable.dropColumn(spark, p, bad)
      }
    }
  }

  test("commitAppendWithRetry re-validates the CHECK gate after a " +
      "lost race to a schema-carrying commit: a batch violating the " +
      "just-added constraint is refused, its staged group cleaned; " +
      "a clean batch through the same race path lands") {
    val p = tmp()
    import spark.implicits._
    VersionedTable.commit(spark, p,
      Seq((1L, 10L)).toDF("k", "pay"), 0L, statsCol = Some("k"))
    // an arbiter that loses exactly once, and in the SAME window lets
    // an interloping addCheck win the version — the deterministic form
    // of "constraint lands between my gate evaluation and my publish"
    def loseOnceToAddCheck(): org.apache.hadoop.fs.FileSystem =>
        graft.sources.CommitArbiter = {
      var first = true
      _ => (f, entry, payload) =>
        if (first) {
          first = false
          VersionedTable.addCheck(spark, p, "pay_pos", "pay >= 0")
          false
        } else graft.sources.CommitArbiter.forFs(f)
          .publish(f, entry, payload)
    }
    val groupsBefore = dataGroupCount(p)
    val err = intercept[IllegalArgumentException] {
      VersionedTable.commitAppendWithRetry(spark, p,
        Seq((2L, -5L)).toDF("k", "pay"), statsCol = Some("k"),
        arbiterFor = loseOnceToAddCheck())
    }
    assert(err.getMessage.contains("pay_pos"), err.getMessage)
    assert(dataGroupCount(p) == groupsBefore,
      "refused batch must clean its staged group")
    VersionedTable.dropCheck(spark, p, "pay_pos")
    // same race, clean batch: re-validation passes and the append lands
    val (v, lost) = VersionedTable.commitAppendWithRetry(spark, p,
      Seq((3L, 30L)).toDF("k", "pay"), statsCol = Some("k"),
      arbiterFor = loseOnceToAddCheck())
    assert(lost == 1)
    assert(VersionedTable.read(spark, p).get.count() == 2)
  }

  test("commitAppendWithRetry re-validates after a lost race to a " +
      "restore that leaves the schema state unchanged but takes away " +
      "a column the batch carries: the batch is refused, its staged " +
      "group cleaned") {
    val p = tmp()
    import spark.implicits._
    val v1 = VersionedTable.commit(spark, p,
      Seq((1L, 10L)).toDF("k", "pay"), 0L, statsCol = Some("k"))
    VersionedTable.commit(spark, p,
      Seq((2L, 20L, "x")).toDF("k", "pay", "extra"), v1,
      statsCol = Some("k"), allowEvolution = true)
    var first = true
    val loseOnceToRestore: org.apache.hadoop.fs.FileSystem =>
        graft.sources.CommitArbiter =
      _ => (f, entry, payload) =>
        if (first) {
          first = false
          VersionedTable.restore(spark, p, v1)
          false
        } else graft.sources.CommitArbiter.forFs(f)
          .publish(f, entry, payload)
    val groupsBefore = dataGroupCount(p)
    val err = intercept[IllegalArgumentException] {
      VersionedTable.commitAppendWithRetry(spark, p,
        Seq((3L, 30L, "y")).toDF("k", "pay", "extra"),
        statsCol = Some("k"), arbiterFor = loseOnceToRestore)
    }
    assert(err.getMessage.contains("extra"), err.getMessage)
    assert(dataGroupCount(p) == groupsBefore,
      "refused batch must clean its staged group")
    assert(VersionedTable.read(spark, p).get.columns.toSeq == Seq("k", "pay"))
  }

  test("changeFeed between two post-rename versions diffs under the " +
      "logical names") {
    val p = tmp()
    import spark.implicits._
    val v1 = VersionedTable.commit(spark, p, df(1L -> "a", 2L -> "b"),
      0L, statsCol = Some("k"))
    val v2 = VersionedTable.renameColumn(spark, p, "v", "label")
    VersionedTable.merge(spark, p,
      Seq((2L, "B2"), (3L, "c")).toDF("k", "label"), "k")
    val v3 = VersionedTable.currentVersion(spark, p)
    val feed = VersionedTable.changeFeed(spark, p, "k", v2, v3)
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getString(2))).toSet
    assert(feed == Set((2L, "b", "update_preimage"),
      (2L, "B2", "update_postimage"), (3L, "c", "insert")),
      s"feed under logical names: $feed")
    assert(VersionedTable.changeFeed(spark, p, "k", v2, v3)
      .columns.contains("label"))
  }
}
