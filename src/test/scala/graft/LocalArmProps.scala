package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAllNoShrink
import graft.ops.{Connect, Iter, ListRank, Scc}

/** The single-task arm ([[Iter.local]]) against the distributed rounds
  * (reached with a cap of -1): for list ranking, cycle labelling, SCC
  * peeling and large-star CC, both arms give the same rows, the same
  * column types and the same refusal message — and large-star the
  * same round count. Inputs cover chains and in-trees, rho shapes,
  * permutations, rootless cycles, dangling pointers, duplicate node
  * ids and too-small round budgets, over Int and Long id columns.
  * Random caps make SCC and large-star switch mid-run. */
object LocalArmProps extends Properties("graft.local") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8)

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Rows (as long pairs, sorted — the relations are bags) and column
    * types, or the refusal message. */
  private type Outcome = Either[String, (Seq[String], Seq[(Long, Long)])]

  private def outcome(f: => DataFrame): Outcome =
    try {
      val df = f
      Right((df.schema.map(_.dataType.simpleString),
        df.collect().map(r => (r.getAs[Number](0).longValue(),
          r.getAs[Number](1).longValue())).toSeq.sorted))
    } catch { case e: IllegalArgumentException => Left(e.getMessage) }

  private def ids(n: Int): Gen[Seq[Long]] =
    Gen.listOfN(n * 3, Gen.choose(-40000L, 40000L))
      .map(_.distinct.take(n)).suchThat(_.size == n)

  /** (node, succ) pairs of one shape. */
  private val linkShapes: Gen[Seq[(Long, Long)]] =
    Gen.choose(1, 12).flatMap(ids).flatMap { v =>
      val n = v.size
      // in-tree forest (a chain when every parent is the predecessor)
      val forest = Gen.sequence[List[Int], Int]((0 until n).map(i =>
        if (i == 0) Gen.const(0)
        else Gen.frequency(1 -> Gen.const(i), 2 -> Gen.const(i - 1),
          2 -> Gen.choose(0, i - 1))))
        .map(p => v.indices.map(i => v(i) -> v(p(i))))
      val perm = Gen.listOfN(n, Gen.choose(0, Int.MaxValue)).map(k =>
        v.zip(v.zip(k).sortBy(_._2).map(_._1)))
      val cycle = Gen.const(v.indices.map(i => v(i) -> v((i + 1) % n)))
      val rho = Gen.choose(0, n - 1).map(k => v.indices.map(i =>
        if (i < k) v(i) -> v(i + 1)
        else v(i) -> v(if (i + 1 < n) i + 1 else k)))
      val base: Gen[Seq[(Long, Long)]] =
        Gen.oneOf[Gen[Seq[(Long, Long)]]](forest, perm, cycle, rho)
          .flatMap(g => g)
      Gen.frequency(
        4 -> base,
        1 -> base.flatMap(ls => Gen.choose(0, ls.size - 1).map { j =>
          ls.updated(j, ls(j)._1 -> 99999L) }), // dangling
        1 -> base.flatMap(ls => Gen.someOf(ls).map(ls ++ _)), // duplicates
        1 -> base.flatMap(ls => Gen.someOf(ls).map(d =>
          ls ++ d.map { case (a, _) => a -> ls.head._1 })))
    }

  private def ints(df: DataFrame, as: Boolean): DataFrame =
    if (!as) df
    else df.select(df.columns.map(c => col(c).cast("int").as(c)): _*)

  private val linkCase = for {
    ls <- linkShapes
    asInt <- Gen.oneOf(true, false)
    bound <- Gen.oneOf(Gen.const(None), Gen.choose(1L, 12L).map(Some(_)))
    rounds <- Gen.oneOf(Gen.const(64), Gen.choose(0, 4))
  } yield (ls, asInt, bound, rounds)

  property("ranks: single-task arm == distributed rounds") =
    forAllNoShrink(linkCase) { case (ls, asInt, bound, rounds) =>
      val df = ints(ls.toDF("node", "succ"), asInt)
      val arms = Seq(Iter.LocalRows, -1L).map(cap =>
        outcome(ListRank.ranks(df, None, rounds, bound, cap)))
      arms.head == arms(1)
    }

  property("cycleLabels: single-task arm == distributed rounds") =
    forAllNoShrink(linkCase) { case (ls, asInt, bound, rounds) =>
      val df = ints(ls.toDF("node", "succ"), asInt)
      val arms = Seq(Iter.LocalRows, -1L).map(cap =>
        outcome(ListRank.cycleLabels(df, None, rounds, bound, cap)))
      arms.head == arms(1)
    }

  /** Nodes (some duplicated), directed edges (rings, random arcs, an
    * arc to a non-node), maxOuter, Int ids, and a cap that may switch
    * at any peel round. */
  private val sccCase = for {
    v <- Gen.choose(1, 10).flatMap(ids)
    dup <- Gen.someOf(v.take(2))
    ring <- Gen.someOf(v)
    arcs <- Gen.listOf(Gen.zip(Gen.oneOf(v), Gen.oneOf(v :+ 99999L)))
      .map(_.take(14))
    maxOuter <- Gen.oneOf(Gen.const(64), Gen.choose(1, 4))
    asInt <- Gen.oneOf(true, false)
    cap <- Gen.oneOf(Gen.const(Iter.LocalRows), Gen.choose(0L, 30L))
  } yield {
    val r = ring.toSeq
    val es = arcs ++ r.indices.map(i => r(i) -> r((i + 1) % r.size))
    (v ++ dup, es, maxOuter, asInt, cap)
  }

  property("Scc.components: single-task arm == distributed rounds") =
    forAllNoShrink(sccCase) { case (ns, es, maxOuter, asInt, cap) =>
      val nodes = ints(ns.toDF("v"), asInt)
      val edges = ints(es.toDF("u", "w"), asInt)
      val arms = Seq(cap, -1L).map(c =>
        outcome(Scc.components(nodes, edges, None, maxOuter, c)))
      arms.head == arms(1)
    }

  /** Undirected edges with self-loops and repeats, maxIter, Int ids,
    * and a cap that may switch at any round. */
  private val ccCase = for {
    v <- Gen.choose(1, 14).flatMap(ids)
    es <- Gen.listOf(Gen.zip(Gen.oneOf(v), Gen.oneOf(v))).map(_.take(20))
    chain <- Gen.oneOf(true, false)
    maxIter <- Gen.oneOf(Gen.const(30), Gen.choose(1, 3))
    asInt <- Gen.oneOf(true, false)
    cap <- Gen.oneOf(Gen.const(Iter.LocalRows), Gen.choose(0L, 20L))
  } yield {
    val c = if (chain) v.indices.drop(1).map(i => v(i - 1) -> v(i)) else Nil
    (es ++ c, maxIter, asInt, cap)
  }

  property("largeStarRounds: single-task arm == distributed rounds, " +
      "same round count") =
    forAllNoShrink(ccCase) { case (es, maxIter, asInt, cap) =>
      val edges = ints(es.toDF("s", "t"), asInt)
      val arms = Seq(cap, -1L).map { c =>
        var rounds = -1
        val o = outcome {
          val (df, r) = Connect.largeStarRounds(edges, "s", "t", maxIter,
            None, c)
          rounds = r
          df
        }
        (o, rounds)
      }
      arms.head == arms(1)
    }
}
