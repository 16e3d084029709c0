package nhlbench

import scala.util.Random

import graft.ops.{Connect, ListRank, Scc}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Seeded graphs with known answers. Node ids are distinct random
  * longs, so the structure is opaque to the operators. */
final class Graphs(seed: Long) {
  import GraphRounds._
  private val r = new Random(seed)
  private val used = scala.collection.mutable.HashSet.empty[Long]
  private def ids(n: Int): IndexedSeq[Long] = (0 until n).map { _ =>
    var x = r.nextLong() & 0xFFFFFFFFFFFFL
    while (!used.add(x)) x = r.nextLong() & 0xFFFFFFFFFFFFL
    x
  }

  /** Chains ending in root self-loops: (node, succ) and each node's
    * distance to its root. */
  val lists: (Seq[(Long, Long)], Map[Long, Long]) = {
    val cs = (0 until Chains).map(_ => ids(ChainLen))
    (cs.flatMap(c => c.indices.map(j => c(j) -> c(math.max(0, j - 1)))),
      cs.flatMap(c => c.indices.map(j => c(j) -> j.toLong)).toMap)
  }

  /** Disjoint cycles: (node, succ) and each node's cycle minimum. */
  val cycles: (Seq[(Long, Long)], Map[Long, Long]) = {
    val cs = (0 until Chains).map(_ => ids(ChainLen))
    (cs.flatMap(c => c.indices.map(j => c(j) -> c((j + 1) % c.size))),
      cs.flatMap(c => c.map(_ -> c.min)).toMap)
  }

  /** Disjoint strongly connected rings with binary chords: nodes,
    * (u, w) edges and each node's component minimum. */
  val sccs: (Seq[Long], Seq[(Long, Long)], Map[Long, Long]) = {
    val gs = (0 until SccGroups).map(_ => ids(SccRing))
    val steps = Iterator.iterate(1)(_ * 2).takeWhile(_ < SccRing).toSeq
    val ring = gs.flatMap(g => g.indices.flatMap(j =>
      steps.map(s => g(j) -> g((j + s) % g.size))))
    (gs.flatten, ring, gs.flatMap(g => g.map(_ -> g.min)).toMap)
  }

  /** Undirected components, each a random tree plus a few extra edges:
    * (src, dst) edges and each node's component minimum. */
  val components: (Seq[(Long, Long)], Map[Long, Long]) = {
    val cs = (0 until CcCount).map(_ => ids(CcSize))
    val edges = cs.flatMap { c =>
      (1 until c.size).map(j => c(j) -> c(r.nextInt(j))) ++
        (0 until c.size / 8).map(_ => c(r.nextInt(c.size)) -> c(r.nextInt(c.size)))
    }
    (edges, cs.flatMap(c => c.map(_ -> c.min)).toMap)
  }
}

/** `graph_rounds`: one pass of the engine's iterative operators per op —
  * pointer-doubling list ranking, cycle labelling, strongly and weakly
  * connected components — on seeded inputs with known answers. Their
  * cost is rounds × a fixed per-round floor; no other workload runs
  * them. (`ListRank.ranksByContraction`, the contraction arm of list
  * ranking, is left out: its ~20 rounds cost 5 s a pass, which the
  * benchmark's time budget cannot carry.) */
final class GraphRounds(spark: SparkSession, t: Tracer, a: Args)
    extends Workload {
  import GraphRounds._
  import spark.implicits._

  private val g = new Graphs(a.seed)
  private var dir = ""

  def prepare(d: String): Unit = {
    dir = d
    g.lists._1.toDF("node", "succ").write.parquet(s"$dir/lists.parquet")
    g.cycles._1.toDF("node", "succ").write.parquet(s"$dir/cycles.parquet")
    g.sccs._1.toDF("v").write.parquet(s"$dir/scc_nodes.parquet")
    g.sccs._2.toDF("u", "w").write.parquet(s"$dir/scc_edges.parquet")
    g.components._1.toDF("src", "dst").write.parquet(s"$dir/cc_edges.parquet")
  }

  def warmUp(): Unit =
    op(-1).check().foreach(e => sys.error(s"warm-up pass: $e"))

  private def pairs(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  def op(i: Int): OpOut = {
    def table(name: String) = spark.read.parquet(s"$dir/$name.parquet")
    def call(name: String)(f: => DataFrame): Map[Long, Long] =
      t.span(s"ops.$name")(pairs(f))
    val bound = Some(ChainLen.toLong)
    val got = Seq(
      "ListRank.ranks" -> call("ListRank.ranks")(
        ListRank.ranks(table("lists"), reachBound = bound)),
      "ListRank.cycleLabels" -> call("ListRank.cycleLabels")(
        ListRank.cycleLabels(table("cycles"), reachBound = bound)),
      "Scc.components" -> call("Scc.components")(
        Scc.components(table("scc_nodes"), table("scc_edges"))),
      "Connect.connectedComponentsLargeStar" ->
        call("Connect.connectedComponentsLargeStar")(
          Connect.connectedComponentsLargeStar(table("cc_edges"), "src",
            "dst")))
    val want = Seq(g.lists._2, g.cycles._2, g.sccs._3, g.components._2)
    OpOut(() => got.zip(want).collectFirst {
      case ((name, x), w) if x != w =>
        val bad = w.keys.count(k => x.get(k) != w.get(k))
        s"$name: ${bad + (x.keySet -- w.keySet).size} node(s) wrong"
    })
  }

  override def layers(tr: Tracer, ops: Seq[Span]): Seq[(String, Double)] = {
    import Layers._
    operators.flatMap { o =>
      val s = s"ops.$o"
      Seq(s"$s.ms" -> msOf(tr, ops, s),
        s"$s.jobs" -> workOf(tr, ops, s, "jobs"),
        s"$s.checkpoint_jobs" -> workOf(tr, ops, s, "checkpoint_jobs"),
        s"$s.shuffle_bytes" -> workOf(tr, ops, s, "shuffle_write_bytes"))
    }
  }
}

object GraphRounds {
  /** List ranking and cycle labelling: chains × nodes per chain. */
  val Chains = 8
  val ChainLen = 8
  /** Strongly connected rings × nodes per ring. */
  val SccGroups = 8
  val SccRing = 8
  /** Undirected components × nodes per component. */
  val CcCount = 16
  val CcSize = 8
}
