package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.{forAllNoShrink, propBoolean}
import graft.sources.VersionedTable

/** The versioned table's write verbs against a model: random
  * sequences of `mergeDv` (density bounds that force the rewrite
  * fallback included), `deleteKeys`, `mergePruned`,
  * `mergePrunedRebase`, `deleteRange` and `optimize` over a key domain
  * of 40, with empty batches and null keys. After every step `read`
  * equals a map upsert/delete model (null-key rows match nothing, so
  * they accumulate and are never deleted), every live group's
  * recorded key range contains its keys — the fact every stats-pruned
  * verb skips groups on — and no step leaves a staged dir that no log
  * entry references (`vacuum` with no age fence deletes nothing), the
  * empty-batch and nothing-touched no-ops included. */
object VersionedTableProps extends Properties("graft.vtable") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8)

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private sealed trait Step
  private final case class MergeDv(rows: Seq[(Option[Long], Long)],
      maxDvFraction: Double) extends Step
  private final case class MergePruned(rows: Seq[(Option[Long], Long)],
      rebase: Boolean) extends Step
  private final case class DeleteKeys(keys: Seq[Option[Long]]) extends Step
  private final case class DeleteRange(lo: Long, hi: Long) extends Step
  private case object Optimize extends Step

  private val key = Gen.choose(0L, 39L)

  /** Distinct keys (one row per key, the merge contract) plus at most
    * one null-key row; empty now and then. */
  private val batch: Gen[Seq[(Option[Long], Long)]] = for {
    n <- Gen.frequency(1 -> Gen.const(0), 6 -> Gen.choose(1, 8))
    ks <- Gen.listOfN(n, key).map(_.distinct)
    nulls <- Gen.frequency(3 -> Gen.const(0), 1 -> Gen.const(1))
    pays <- Gen.listOfN(ks.size + nulls, Gen.choose(0L, 999L))
  } yield (ks.map(Option(_)) ++ Seq.fill(nulls)(None)).zip(pays)

  /** Weighted toward the deletion-vector verbs, so that sequences
    * often mask one group twice (the prior-vector merge). */
  private val step: Gen[Step] = Gen.frequency(
    3 -> Gen.zip(batch, Gen.oneOf(0.0, 0.3, 1.0, 1.0)).map(MergeDv.tupled),
    2 -> Gen.zip(batch, Gen.oneOf(true, false)).map(MergePruned.tupled),
    3 -> Gen.listOf(Gen.option(key)).map(ks => DeleteKeys(ks.take(8))),
    1 -> Gen.zip(key, key).map { case (a, b) =>
      DeleteRange(math.min(a, b), math.max(a, b)) },
    1 -> Gen.const(Optimize))

  private val steps = Gen.choose(4, 8).flatMap(Gen.listOfN(_, step))

  /** Non-null keys to payloads, and the payloads of null-key rows. */
  private final case class Model(rows: Map[Long, Long], nulls: Seq[Long]) {
    def upsert(b: Seq[(Option[Long], Long)]): Model = Model(
      rows ++ b.collect { case (Some(k), v) => k -> v },
      nulls ++ b.collect { case (None, v) => v })
    def contents: Seq[(Option[Long], Long)] =
      (rows.toSeq.map { case (k, v) => Option(k) -> v } ++
        nulls.map(None -> _)).sorted
  }

  private def run(p: String, m: Model, s: Step): Model = s match {
    case MergeDv(b, f) =>
      VersionedTable.mergeDv(spark, p, b.toDF("k", "pay"), "k",
        maxDvFraction = f)
      m.upsert(b)
    case MergePruned(b, rebase) =>
      if (rebase) VersionedTable.mergePrunedRebase(spark, p,
        b.toDF("k", "pay"), "k")
      else VersionedTable.mergePruned(spark, p, b.toDF("k", "pay"), "k")
      m.upsert(b)
    case DeleteKeys(ks) =>
      // the verb refuses a table with no live group; the model cannot
      // tell an empty live set from a fully masked one, so a delete on
      // an empty model is skipped
      if (m.contents.isEmpty) m
      else {
        VersionedTable.deleteKeys(spark, p, ks.toDF("k"), "k")
        m.copy(rows = m.rows -- ks.flatten)
      }
    case DeleteRange(lo, hi) =>
      VersionedTable.deleteRange(spark, p, "k", lo, hi)
      m.copy(rows = m.rows.filterNot { case (k, _) => k >= lo && k <= hi })
    case Optimize =>
      VersionedTable.optimize(spark, p, statsCol = Some("k"))
      m
  }

  private def contents(p: String): Seq[(Option[Long], Long)] =
    VersionedTable.read(spark, p).toSeq.flatMap(_.collect().map(r =>
      (if (r.isNullAt(0)) None else Some(r.getLong(0))) -> r.getLong(1)))
      .sorted

  /** The live groups at the head with their recorded key ranges,
    * folded straight from the log entries (nothing here expires
    * entries, so the fold needs no checkpoint). */
  private def liveRanges(p: String)
      : Seq[(String, Option[Long], Option[Long])] = {
    val entries = Option(Paths.get(p, "_log").toFile.list()).toSeq.flatten
      .filter(n => n.startsWith("v") && n.endsWith(".json")).sorted
    entries.foldLeft(Seq.empty[(String, Option[Long], Option[Long])]) {
      (live, n) =>
        val raw = new String(Files.readAllBytes(Paths.get(p, "_log", n)),
          "UTF-8")
        def arr(field: String) = raw.split(s""""$field":\\[""")(1)
          .takeWhile(_ != ']').split(",").toSeq.filter(_.nonEmpty)
        def bound(s: String) = if (s == "null") None else Some(s.toLong)
        val gs = arr("groups").map(_.stripPrefix("\"").stripSuffix("\""))
          .zip(arr("lo").zip(arr("hi")))
          .map { case (g, (lo, hi)) => (g, bound(lo), bound(hi)) }
        if (raw.contains("\"replace\":true")) gs else live ++ gs
    }
  }

  /** Every live group's physical keys (a superset of its visible ones)
    * lie inside its recorded range; one query for all groups. */
  private def rangesHold(p: String): Boolean = {
    val live = liveRanges(p)
    live.isEmpty || {
      val got = live.zipWithIndex.map { case ((g, _, _), i) =>
        spark.read.schema("k BIGINT, pay BIGINT").parquet(s"$p/data/$g")
          .agg(lit(i).as("i"), min("k").as("lo"), max("k").as("hi"))
      }.reduce(_.union(_)).collect()
      got.forall { r =>
        val (_, lo, hi) = live(r.getInt(0))
        r.isNullAt(1) || (lo.exists(_ <= r.getLong(1)) &&
          hi.exists(_ >= r.getLong(2)))
      }
    }
  }

  property("write verbs == map model; group ranges cover their keys") =
    forAllNoShrink(steps) { ss =>
      val p = Files.createTempDirectory("vtprops").toString
      val end = ss.foldLeft[Either[String, Model]](
          Right(Model(Map.empty, Seq.empty))) {
        case (Right(m), s) =>
          val next = run(p, m, s)
          val got = contents(p)
          if (got != next.contents)
            Left(s"after $s: read $got, model ${next.contents}")
          else if (!rangesHold(p))
            Left(s"after $s: keys outside their group's range " +
              liveRanges(p))
          else {
            val orphans = VersionedTable.vacuum(spark, p, minAgeMs = 0)
            if (orphans.nonEmpty) Left(s"after $s: orphans $orphans")
            else Right(next)
          }
        case (failed, _) => failed
      }
      end.isRight :| s"$ss ${end.left.getOrElse("")}"
    }
}
