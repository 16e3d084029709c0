package graft.ops

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

/** Strongly connected components of a GENERAL directed graph by
  * forward–backward min-label peeling (the FW-BW idea specialized to
  * min labels): for the current vertex set compute
  *
  *   F(v) = min label forward-reachable from v (v included)
  *   B(v) = min label that can reach v (v included)
  *
  * Every v with F(v) == B(v) == m is in the SCC of m (v reaches m and
  * m reaches v), and that set IS the whole SCC of m — assign those,
  * remove them, repeat. Progress is guaranteed: the globally minimal
  * remaining label m always has F(m) = B(m) = m, so each outer round
  * peels at least one SCC (in practice every SCC that is the minimum
  * of its reachability class — a DAG-of-SCCs of depth d costs ≤ d
  * outer rounds).
  *
  * Each reach-min is a plain fixpoint: one keyed join + min-aggregate
  * per round, rounds = graph diameter, lineage truncated per round —
  * the same shuffle shape as the CC/label-prop family, with direction
  * (B runs the identical loop on flipped edges). At 100 TB this stays
  * one n-row relation + one m-row relation per round; the closure-
  * squaring shortcut (log-diameter rounds) is deliberately NOT used —
  * transitive-closure relations explode quadratically on dense
  * components, the fixpoint never exceeds the input size.
  *
  * When the nodes plus edges fit in [[Iter.LocalRows]] rows, the
  * whole peel runs in one task ([[Iter.local]]).
  *
  * Functional graphs (out-degree 1) should use the cheaper
  * [[ListRank.cycleLabels]] doubling form instead.
  */
object Scc {

  /** BOTH reach-min fixpoints (forward f, backward b) interleaved in
    * one loop over one (v, f, b) relation: the two directions are
    * independent, so running them together halves the per-round fixed
    * cost (one lineage truncation + one convergence check per round,
    * not per direction) and the loop ends at max(diamF, diamB) rounds
    * instead of their sum.
    *
    * The round is ONE join + ONE min-aggregate over the symmetrized
    * `esym` (src, dst, fwd): a fwd row propagates f from dst back to
    * src (forward-reach min flows against the edge), a bwd row
    * propagates b — so both direction updates share one exchange pair
    * instead of two joins + two aggregates. The convergence check
    * rides the checkpoint-materializing job via an accumulator (the
    * Connect.scala idiom) — no separate count action per round; task
    * retries can only inflate it, never fake a zero. */
  private def reachMins(nodes: DataFrame, esym: DataFrame,
      checkpointDir: Option[String]): DataFrame = {
    val spark = nodes.sparkSession
    var lab = nodes.select(col("v"), col("v").as("f"), col("v").as("b"))
    var changed = 1L
    var iter = 0
    while (changed > 0) {
      val cand = esym.join(lab, col("dst") === col("v"))
        .groupBy(col("src").as("cv"))
        .agg(min(when(col("fwd"), col("f"))).as("cf"),
          min(when(not(col("fwd")), col("b"))).as("cb"))
      val next = lab
        .join(cand, col("v") === col("cv"), "left")
        .select(col("v"),
          least(col("f"), coalesce(col("cf"), col("f"))).as("f"),
          least(col("b"), coalesce(col("cb"), col("b"))).as("b"),
          coalesce(col("cf") < col("f") || col("cb") < col("b"),
            lit(false)).as("moved"))
      val acc = spark.sparkContext.longAccumulator(s"graft.scc.moved.$iter")
      val schema = next.schema
      val counted = next.mapPartitions { it =>
        it.map { r =>
          if (r.getBoolean(3)) acc.add(1L)
          r
        }
      }(org.apache.spark.sql.Encoders.row(schema))
      lab = Iter.truncate(
        counted.select(col("v"), col("f"), col("b")), checkpointDir)
      changed = acc.value
      iter += 1
    }
    lab
  }

  /** @param edges (u, w) directed pairs over `nodes` (v). Returns
    * (v, scc_id) with scc_id = the minimum label of v's SCC.
    *
    * When the nodes plus the edges are at most [[Iter.LocalRows]] rows
    * with integral ids, the whole peel runs in ONE task
    * ([[Iter.local]]) over one tagged relation of both: the same FW-BW
    * peel rounds, counted against the same `maxOuter`. */
  def components(nodes: DataFrame, edges: DataFrame,
      checkpointDir: Option[String] = None,
      maxOuter: Int = 64): DataFrame =
    components(nodes, edges, checkpointDir, maxOuter, Iter.LocalRows)

  /** [[components]] with the single-task cap as an argument (-1
    * always runs the distributed rounds). */
  private[graft] def components(nodes: DataFrame, edges: DataFrame,
      checkpointDir: Option[String], maxOuter: Int, localRows: Long)
      : DataFrame = {
    // node rows (1, v, v) and edge rows (0, u, w)
    val tagged = nodes.select(lit(1L).as("node"), col("v").as("a"),
        col("v").as("b"))
      .unionByName(edges.select(lit(0L).as("node"), col("u").as("a"),
        col("w").as("b")))
    val t = nodes.schema("v").dataType
    val out = StructType(Seq(StructField("v", t), StructField("scc_id", t)))
    Iter.local(tagged, out, localRows)(c =>
      peelLocal(c(0), c(1), c(2), maxOuter)
    ).fold({ in =>
      def typed(c: String, like: DataFrame, name: String) =
        col(c).cast(like.schema(name).dataType).as(name)
      peel(in.filter(col("node") === 1L).select(typed("a", nodes, "v")),
        in.filter(col("node") === 0L)
          .select(typed("a", edges, "u"), typed("b", edges, "w")),
        checkpointDir, maxOuter)
    }, _._1)
  }

  /** The distributed FW-BW peel: one [[reachMins]] fixpoint per
    * round, then the assigned nodes and their edges leave. */
  private def peel(nodes: DataFrame, edges: DataFrame,
      checkpointDir: Option[String], maxOuter: Int): DataFrame = {
    // truncate the INPUTS once: the fixpoint re-reads these relations
    // every round, and an expensive upstream plan (window-built
    // fixtures, joins) must not re-execute per round. Edges are kept
    // SYMMETRIZED (src, dst, fwd) so each reach-min round is one join
    // + one aggregate over a single relation (see reachMins). The
    // node count rides the truncation pass.
    var (remaining, left) =
      Iter.truncateCounted(nodes.select(col("v")), checkpointDir)
    var es = Iter.truncate(
      edges.select(col("u").as("src"), col("w").as("dst"),
          lit(true).as("fwd"))
        .unionByName(edges.select(col("w").as("src"), col("u").as("dst"),
          lit(false).as("fwd"))),
      checkpointDir)
    var acc: Option[DataFrame] = None
    var outer = 0
    while (left > 0) {
      require(outer < maxOuter, peelMsg(maxOuter))
      val assigned = reachMins(remaining, es, checkpointDir)
        .filter(col("f") === col("b"))
        .select(col("v"), col("f").as("scc_id"))
      acc = Some(acc.map(_.unionByName(assigned)).getOrElse(assigned))
      val (r, l) = Iter.truncateCounted(
        remaining.join(assigned.select(col("v")), Seq("v"), "left_anti"),
        checkpointDir)
      // keep only edges with BOTH endpoints still unassigned (each
      // original edge's two symmetric rows are filtered consistently)
      es = Iter.truncate(
        es.join(r.select(col("v").as("src")), Seq("src"), "left_semi")
          .join(r.select(col("v").as("dst")), Seq("dst"), "left_semi")
          .select(col("src"), col("dst"), col("fwd")),
        checkpointDir)
      remaining = r; left = l
      outer += 1
    }
    acc.getOrElse(nodes.select(col("v"), col("v").as("scc_id")).limit(0))
  }

  private def peelMsg(maxOuter: Int): String =
    s"SCC peeling exceeded $maxOuter rounds"

  /** The FW-BW peel in one task over the tagged (node, a, b) columns:
    * per round, F and B are the same min-label fixpoints (here one
    * ascending-label sweep of backward / forward searches, each vertex
    * labelled by the first — smallest — label that reaches it), every
    * v with F(v) == B(v) is assigned, and the round is counted against
    * `maxOuter`. Edges count only between nodes, as in the relational
    * form; a duplicate node id yields one output row per copy. Returns
    * the (v, scc_id) columns. */
  private def peelLocal(tag: Array[Long], as: Array[Long], bs: Array[Long],
      maxOuter: Int): Iter.Out = {
    val copies = new mutable.LongMap[Int]()
    tag.indices.foreach(j =>
      if (tag(j) == 1L) copies(as(j)) = copies.getOrElse(as(j), 0) + 1)
    // vertex i is the i-th smallest id, so label order = index order
    val ids = copies.keys.toArray.sorted
    val at = new mutable.LongMap[Int](ids.length)
    ids.indices.foreach(i => at(ids(i)) = i)
    val kept = tag.indices.filter(j =>
      tag(j) == 0L && at.contains(as(j)) && at.contains(bs(j)))
    // adjacency in CSR form: out(i) / in(i) neighbour index lists
    def csr(from: Int => Int, to: Int => Int): (Array[Int], Array[Int]) = {
      val start = new Array[Int](ids.length + 1)
      kept.foreach(j => start(from(j) + 1) += 1)
      (0 until ids.length).foreach(i => start(i + 1) += start(i))
      val fill = start.clone()
      val adj = new Array[Int](kept.length)
      kept.foreach { j => adj(fill(from(j))) = to(j); fill(from(j)) += 1 }
      (start, adj)
    }
    val fwd = csr(j => at(as(j)), j => at(bs(j)))
    val bwd = csr(j => at(bs(j)), j => at(as(j)))
    val alive = Array.fill(ids.length)(true)
    // label(i) = index of the smallest alive vertex reaching i along
    // `adj` (a vertex reaches itself)
    def minReach(adj: (Array[Int], Array[Int])): Array[Int] = {
      val (start, nb) = adj
      val label = Array.fill(ids.length)(-1)
      val stack = new Array[Int](ids.length) // each vertex pushed once
      ids.indices.foreach { m =>
        if (alive(m) && label(m) < 0) {
          label(m) = m
          stack(0) = m
          var top = 1
          while (top > 0) {
            top -= 1
            val x = stack(top)
            (start(x) until start(x + 1)).foreach { k =>
              val y = nb(k)
              if (alive(y) && label(y) < 0) {
                label(y) = m; stack(top) = y; top += 1
              }
            }
          }
        }
      }
      label
    }
    val (vs, cs) = (mutable.ArrayBuilder.make[Long], mutable.ArrayBuilder.make[Long])
    var left = ids.length
    var outer = 0
    while (left > 0) {
      require(outer < maxOuter, peelMsg(maxOuter))
      // F(v): min label v reaches = searches from m over in-edges
      val f = minReach(bwd)
      val b = minReach(fwd)
      ids.indices.foreach { i =>
        if (alive(i) && f(i) == b(i)) {
          alive(i) = false
          left -= 1
          (0 until copies(ids(i))).foreach { _ => vs += ids(i); cs += ids(f(i)) }
        }
      }
      outer += 1
    }
    Iter.Out(Seq(vs.result(), cs.result()))
  }
}
