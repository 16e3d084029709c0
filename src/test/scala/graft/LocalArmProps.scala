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
  * ids and too-small round budgets, over Int and Long id columns, with
  * random caps. The single task's own paths: large-star labels for
  * nodes seen only in self-loops and for repeated edges, null ids
  * (the attempt declines to the distributed rounds) and refusals
  * raised inside the task. */
object LocalArmProps extends Properties("graft.local") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8)

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Rows (as pairs of longs or nulls, sorted — the relations are
    * bags) and column types, or the refusal message. */
  private type Outcome =
    Either[String, (Seq[String], Seq[(Option[Long], Option[Long])])]

  private def outcome(f: => DataFrame): Outcome =
    try {
      val df = f
      def at(r: org.apache.spark.sql.Row, i: Int) =
        Option(r.getAs[Number](i)).map(_.longValue())
      Right((df.schema.map(_.dataType.simpleString),
        df.collect().map(r => (at(r, 0), at(r, 1))).toSeq.sorted))
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

  /** Components of random sizes, each a random tree with repeated
    * edges in both orientations, plus nodes seen only in self-loops:
    * both arms give the same labels, every node once, a self-loop-only
    * node labelled by itself, every other node by its component's
    * minimum. */
  property("largeStarRounds: self-loop-only nodes and repeated edges") =
    forAllNoShrink(Gen.choose(1, 4).flatMap(k =>
      Gen.listOfN(k, Gen.choose(1, 6))).flatMap(sizes =>
        ids(sizes.sum + 3).map(v => (sizes, v)))) { case (sizes, v) =>
      val comps = sizes.scanLeft(0)(_ + _).sliding(2)
        .map(w => v.slice(w(0), w(1))).toSeq
      val loners = v.takeRight(3)
      val tree = comps.flatMap(c => c.indices.drop(1).flatMap(j =>
        Seq(c(j) -> c(j / 2), c(j / 2) -> c(j), c(j) -> c(j / 2))))
      val edges = (tree ++ loners.map(x => x -> x) ++ comps.map(c =>
        c.head -> c.head)).toDF("s", "t")
      val want = (comps.flatMap(c => c.map(x => Option(x) -> Option(c.min))) ++
        loners.map(x => Option(x) -> Option(x))).sorted
      val arms = Seq(Iter.LocalRows, -1L).map(c =>
        outcome(Connect.largeStarRounds(edges, "s", "t", 30, None, c)._1))
      arms.head == arms(1) && arms.head.map(_._2) == Right(want)
    }

  /** (node, succ) pairs with a null in some row's node or succ. */
  private val nullLinks = for {
    ls <- linkShapes
    j <- Gen.choose(0, ls.size - 1)
    first <- Gen.oneOf(true, false)
  } yield ls.indices.map { i =>
    val (a, b) = ls(i)
    if (i != j) (Option(a), Option(b))
    else if (first) (None, Option(b)) else (Option(a), None)
  }

  property("null ids decline to the distributed rounds: same outcome") =
    forAllNoShrink(nullLinks) { ls =>
      val df = ls.toDF("node", "succ")
      val sym = ls.toDF("s", "t")
      val nodes = ls.flatMap(_._1).distinct.toDF("v")
      val edges = ls.toDF("u", "w")
      def same(f: Long => DataFrame) =
        outcome(f(Iter.LocalRows)) == outcome(f(-1L))
      same(ListRank.ranks(df, None, 64, None, _)) &&
        same(ListRank.cycleLabels(df, None, 64, None, _)) &&
        same(Connect.largeStarRounds(sym, "s", "t", 30, None, _)._1) &&
        same(Scc.components(nodes, edges, None, 8, _))
    }

  /** Inputs every arm refuses: a rootless cycle (ranks), a dangling
    * pointer (ranks and labels), a too-small labeling budget, a DAG
    * of singleton components deeper than the SCC peel budget. */
  property("refusals raised in the task carry the rounds' messages") =
    forAllNoShrink(Gen.choose(3, 12).flatMap(ids)) { v =>
      val n = v.size
      val cycle = v.indices.map(i => v(i) -> v((i + 1) % n)).toDF("node", "succ")
      val dangling = (v.indices.map(i => v(i) -> v(math.max(0, i - 1)))
        .updated(n - 1, v(n - 1) -> 99999L)).toDF("node", "succ")
      // descending ids: each peel round assigns only the path's end
      val d = v.sorted.reverse
      val path = d.indices.drop(1).map(i => d(i - 1) -> d(i)).toDF("u", "w")
      def refused(f: Long => DataFrame) = {
        val (a, b) = (outcome(f(Iter.LocalRows)), outcome(f(-1L)))
        a == b && a.isLeft
      }
      refused(ListRank.ranks(cycle, None, 64, None, _)) &&
        refused(ListRank.ranks(dangling, None, 64, None, _)) &&
        refused(ListRank.cycleLabels(dangling, None, 64, None, _)) &&
        refused(ListRank.cycleLabels(cycle, None, 1, None, _)) &&
        refused(Scc.components(v.toDF("v"), path, None, 2, _))
    }
}
