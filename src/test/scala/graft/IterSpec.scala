package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{Iter, ListRank}

/** Lineage truncation: the reliable-checkpoint root follows the
  * caller's directory, and the single-task arm holds under reliable
  * checkpointing. */
class IterSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("truncate re-roots the checkpoint dir whenever the root changes, " +
      "including to a prefix of the current root") {
    val sc = spark.sparkContext
    val base = Files.createTempDirectory("graft-ckroot")
    val (ck2, ck) = (base.resolve("ck2").toString, base.resolve("ck").toString)
    val df = Seq(1L, 2L).toDF("x")
    def root = new Path(sc.getCheckpointDir.get).getParent.toUri.getPath
    Iter.truncate(df, Some(ck2))
    assert(root == ck2)
    Iter.truncate(df, Some(ck))
    assert(root == ck, "a root that is a prefix of the current one")
    Iter.truncate(df, Some(ck2))
    assert(root == ck2)
    // the same root again keeps its UUID subdirectory
    val dir = sc.getCheckpointDir
    Iter.truncate(df, Some(ck2 + "/"))
    assert(sc.getCheckpointDir == dir)
  }

  test("the single-task arm checkpoints reliably when asked: same ranks " +
      "as the distributed rounds, written under the directory") {
    val dir = Files.createTempDirectory("graft-ckpt").toString
    val chain = ((0L -> 0L) +: (1L to 20L).map(i => i -> (i - 1)))
      .toDF("node", "succ")
    def ranks(cap: Long) = ListRank.ranks(chain, Some(dir), 64, None, cap)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ranks(Iter.LocalRows) == (0L to 20L).map(i => i -> i).toMap)
    assert(ranks(Iter.LocalRows) == ranks(-1L))
    assert(new java.io.File(dir).list().nonEmpty)
  }
}
