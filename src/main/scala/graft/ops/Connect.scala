package graft.ops

import org.apache.spark.internal.Logging
import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

/** Connected components — the clustering step that turns pairwise
  * near-duplicate edges into whole duplicate GROUPS (one-round dedup
  * like [[Dedup.minhashDedup]] only collapses direct neighbours;
  * chains a~b~c need the transitive closure).
  *
  * Two algorithms, same output contract:
  *
  *  - [[connectedComponents]] — iterative min-label propagation.
  *    Every node starts labelled with its own id; each round every
  *    node takes the min of its label and its neighbours' labels.
  *    O(component diameter) rounds; each round is one equi-join
  *    edges⋈labels + one min-aggregate. The right default for
  *    near-dup graphs, whose components are small and shallow.
  *
  *  - [[connectedComponentsLargeStar]] — alternating large-star /
  *    small-star (Kiveris et al., "Connected Components in MapReduce
  *    and Beyond"): each round rewires every node's strictly-larger
  *    neighbours (large-star) then its smaller neighbours
  *    (small-star) directly to the local minimum, contracting paths
  *    aggressively — O(log diameter) rounds on deep graphs, the
  *    published choice for billion-edge general graphs.
  *
  * Convergence costs NO extra job in either variant: the
  * changed-row / edge-set-checksum check rides the same action that
  * materializes the round (an accumulator bumped while the
  * checkpoint writes), so a distributed round is one job (two under
  * reliable checkpointing, see [[Iter.truncate]]). Large-star over an
  * edge set of at most [[Iter.LocalRows]] rows runs whole as ONE job
  * in a single task ([[Iter.local]]).
  *
  * Lineage is truncated per round via [[Iter.truncate]]:
  * `localCheckpoint` by default, RELIABLE checkpointing when
  * `checkpointDir` is set (the fault-tolerant 100 TB posture).
  */
object Connect extends Logging {

  /** @return (id, comp) for every node appearing in `edges`; comp is
    *         the smallest node id in the connected component. */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
      maxIter: Int = 20, checkpointDir: Option[String] = None): DataFrame =
    minLabelRounds(edges, srcCol, dstCol, maxIter, checkpointDir)._1

  /** [[connectedComponents]] plus the number of rounds run — for
    * benches and convergence tests. */
  def minLabelRounds(edges: DataFrame, srcCol: String, dstCol: String,
      maxIter: Int = 20, checkpointDir: Option[String] = None)
      : (DataFrame, Int) = {
    val spark = edges.sparkSession
    val sym = Iter.truncate(
      edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
        .union(edges.select(col(dstCol).as("a"), col(srcCol).as("b")))
        .distinct(), checkpointDir)
    var labels = Iter.truncate(
      sym.select(col("a").as("id")).distinct()
        .withColumn("lbl", col("id")), checkpointDir)
    var iter = 0
    var done = false
    while (!done && iter < maxIter) {
      val changed = spark.sparkContext.longAccumulator(s"graft.cc.changed.$iter")
      val nbrMin = sym.join(labels, sym("b") === labels("id"))
        .groupBy(col("a").as("nid")).agg(min(col("lbl")).as("nlbl"))
      val joined = labels
        .join(nbrMin, labels("id") === nbrMin("nid"), "left_outer")
        .select(col("id"),
          least(col("lbl"), coalesce(col("nlbl"), col("lbl"))).as("lbl2"),
          col("lbl"))
      // the convergence check rides the SAME job that materializes
      // the round: this map bumps the accumulator as the checkpoint
      // writes each partition — no separate isEmpty action
      val schema = joined.schema
      val counted = joined.mapPartitions { it =>
        it.map { r =>
          if (r.get(1) != r.get(2)) changed.add(1L)
          r
        }
      }(Encoders.row(schema))
      labels = Iter.truncate(
        counted.select(col("id"), col("lbl2").as("lbl")), checkpointDir)
      // task retries can only INFLATE the accumulator (a spurious
      // extra round), never fake a zero — premature convergence is
      // impossible by construction
      done = changed.value == 0L
      iter += 1
    }
    if (!done) {
      logWarning(s"min-label CC hit maxIter=$maxIter before convergence " +
        "(component diameter exceeds the round budget); labels are partial" +
        " — raise maxIter or use connectedComponentsLargeStar " +
        "(O(log diameter) rounds)")
    }
    (labels.select(col("id"), col("lbl").as("comp")), iter)
  }

  /** Large-star/small-star connected components: same (id, comp)
    * output as [[connectedComponents]], O(log diameter) rounds. */
  def connectedComponentsLargeStar(edges: DataFrame, srcCol: String,
      dstCol: String, maxIter: Int = 30,
      checkpointDir: Option[String] = None): DataFrame =
    largeStarRounds(edges, srcCol, dstCol, maxIter, checkpointDir)._1

  /** [[connectedComponentsLargeStar]] plus the number of rounds.
    *
    * When the edge set has at most [[Iter.LocalRows]] rows with
    * integral ids, the whole operator runs in ONE task
    * ([[Iter.local]]): the same large-star/small-star rounds, the same
    * (count, [[Iter.mix]] checksum) convergence test — so the same
    * round count and the same `maxIter` warning — and the same star
    * extraction. */
  def largeStarRounds(edges: DataFrame, srcCol: String, dstCol: String,
      maxIter: Int = 30, checkpointDir: Option[String] = None)
      : (DataFrame, Int) =
    largeStarRounds(edges, srcCol, dstCol, maxIter, checkpointDir,
      Iter.LocalRows)

  /** [[largeStarRounds]] with the single-task cap as an argument (-1
    * always runs the distributed rounds). */
  private[graft] def largeStarRounds(edges: DataFrame, srcCol: String,
      dstCol: String, maxIter: Int, checkpointDir: Option[String],
      localRows: Long): (DataFrame, Int) = {
    val in = edges.select(col(srcCol).as("s"), col(dstCol).as("t"))
    val ids = in.select(col("s").as("id")).union(in.select(col("t").as("id")))
    val t = ids.schema("id").dataType
    val out = StructType(Seq(StructField("id", t), StructField("comp", t)))
    val (labels, rounds, done) = Iter.local(in, out, localRows)(c =>
      starLocal(c(0), c(1), maxIter)
    ).fold(starRounds(_, maxIter, checkpointDir),
      { case (df, o) => (df, o.rounds, o.done) })
    if (!done) {
      logWarning(s"large-star CC hit maxIter=$maxIter before the edge set " +
        "stabilized; the star extraction below assumes convergence, so " +
        "labels may be inconsistent — raise maxIter (rounds grow " +
        "O(log diameter), so a small bump goes far)")
    }
    (labels, rounds)
  }

  /** The distributed rounds of [[largeStarRounds]] over (s, t) edges:
    * the labels, the rounds run and whether they converged. */
  private def starRounds(edges: DataFrame, maxIter: Int,
      checkpointDir: Option[String]): (DataFrame, Int, Boolean) = {
    val spark = edges.sparkSession
    val nodes = edges.select(col("s").as("id"))
      .union(edges.select(col("t").as("id"))).distinct()
    // canonical undirected edges u > v; self-loops carry no information
    var e = Iter.truncate(
      edges.select(greatest(col("s"), col("t")).as("u"),
        least(col("s"), col("t")).as("v"))
        .filter(col("u") =!= col("v")).distinct(), checkpointDir)
    var iter = 0
    var prev = (-1L, -1L)
    var done = false
    while (!done && iter < maxIter) {
      // LARGE-STAR: for each node u (symmetric neighbourhood), link
      // every strictly larger neighbour v to m = min(Γ(u) ∪ {u}).
      // Emitted (v, m) has v > u >= m, so it is already canonical.
      val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val lsm = sym.groupBy(col("u"))
        .agg(min(col("v")).as("mn"))
        .select(col("u").as("cu"), least(col("u"), col("mn")).as("m"))
      val ls = sym.join(lsm, col("u") === col("cu"))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
      // SMALL-STAR on the canonical (u > all its v) orientation:
      // link every smaller neighbour and u itself to m = min of them.
      val ssm = ls.groupBy(col("u")).agg(min(col("v")).as("m"))
      val ss = ls.join(ssm, Seq("u"))
        .filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v")) // v > m: canonical
        .union(ssm.select(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v"))
        .distinct()
      // stability check (count + commutative checksum) rides the
      // materializing job via accumulators — one compute pass per
      // round (reliable-checkpoint mode adds a cache-backed write
      // job that does not recompute the round; see Iter.truncate)
      val cnt =
        spark.sparkContext.longAccumulator(s"graft.ccstar.cnt.$iter")
      val chk =
        spark.sparkContext.longAccumulator(s"graft.ccstar.chk.$iter")
      val schema = ss.schema
      val counted = ss.mapPartitions { it =>
        it.map { r =>
          cnt.add(1L)
          chk.add(Iter.mix(r.getAs[Number](0).longValue(),
            r.getAs[Number](1).longValue()))
          r
        }
      }(Encoders.row(schema))
      e = Iter.truncate(counted, checkpointDir)
      val cur = (cnt.value.longValue(), chk.value.longValue())
      // a task retry inflates cnt/chk, making THIS round's pair
      // differ from the previous one — the worst case is a spurious
      // extra round; retry noise can never manufacture the stable
      // round-to-round equality that declares convergence early
      done = cur == prev
      prev = cur
      iter += 1
    }
    // converged: stars — every non-root u has exactly one edge to its
    // component min; roots and self-loop-only nodes label themselves
    val comp = e.groupBy(col("u")).agg(min(col("v")).as("cmp"))
    val out = nodes.join(comp, nodes("id") === comp("u"), "left_outer")
      .select(col("id"), coalesce(col("cmp"), col("id")).as("comp"))
    (out, iter, done)
  }

  /** [[starRounds]] in one task over the (s, t) columns: the same
    * large-star then small-star rewiring of the same canonical edge
    * set, stopping on the same stable (count, checksum) pair or at
    * `maxIter`, then the same stars. Nodes are indexed in id order,
    * so a min over indices is the min over ids, and an edge u > v is
    * one long (u << 32 | v); each round's edge set is sorted and
    * deduplicated. Returns the (id, comp) columns. */
  private def starLocal(ss: Array[Long], ts: Array[Long], maxIter: Int)
      : Iter.Out = {
    def uniq(xs: Array[Long]): Array[Long] = {
      java.util.Arrays.sort(xs)
      var k = 0
      xs.foreach(x => if (k == 0 || x != xs(k - 1)) { xs(k) = x; k += 1 })
      java.util.Arrays.copyOf(xs, k)
    }
    val ids = uniq(ss ++ ts)
    def at(x: Long) = java.util.Arrays.binarySearch(ids, x)
    def edge(u: Int, v: Int) = (u.toLong << 32) | v
    def hi(e: Long) = (e >>> 32).toInt
    def lo(e: Long) = e.toInt
    var es = uniq(ss.indices.collect { case j if ss(j) != ts(j) =>
      val (a, b) = (at(ss(j)), at(ts(j)))
      edge(math.max(a, b), math.min(a, b))
    }.toArray)
    var iter = 0
    var prev = (-1L, -1L)
    var done = false
    while (!done && iter < maxIter) {
      // LARGE-STAR: m(x) = min(Γ(x) ∪ {x}); each edge u > v links u
      // to m(v)
      val m = Array.tabulate(ids.length)(identity)
      es.foreach { e =>
        m(hi(e)) = math.min(m(hi(e)), lo(e))
        m(lo(e)) = math.min(m(lo(e)), hi(e))
      }
      val ls = uniq(es.map(e => edge(hi(e), m(lo(e)))))
      // SMALL-STAR: every smaller neighbour of u, and u itself, links
      // to m2(u), the least of them (ls is sorted: u's first edge)
      val m2 = Array.fill(ids.length)(-1)
      ls.foreach(e => if (m2(hi(e)) < 0) m2(hi(e)) = lo(e))
      es = uniq(ls.collect { case e if lo(e) != m2(hi(e)) =>
        edge(lo(e), m2(hi(e))) } ++
        m2.indices.collect { case u if m2(u) >= 0 => edge(u, m2(u)) })
      val cur = (es.length.toLong,
        es.iterator.map(e => Iter.mix(ids(hi(e)), ids(lo(e)))).sum)
      done = cur == prev
      prev = cur
      iter += 1
    }
    // stars: u's first (least) edge is its component min
    val comp = Array.tabulate(ids.length)(identity)
    es.reverseIterator.foreach(e => comp(hi(e)) = lo(e))
    Iter.Out(Seq(ids, comp.map(ids(_))), iter, done)
  }

  /** Message-form k-core peel — the BEYOND-BROADCAST arm of
    * `Parity24.kcorePeel` (same output contract: surviving (node, dg)
    * after `rounds` synchronous peel rounds at threshold `k`).
    *
    * `adj` is the BOTH-DIRECTIONS adjacency (node, nbr) — one row per
    * edge endpoint. Each round:
    *   1. alive senders emit 1 to every neighbour: a left-semi join of
    *      the adjacency against the alive set on `node`;
    *   2. degree = count of messages per receiver: groupBy(nbr) with
    *      map-side partial aggregation, so the exchange carries at
    *      most (distinct receivers per partition) rows;
    *   3. receivers restrict to the alive set, survivors are
    *      degree >= k.
    *
    * Why this shape scales where the broadcast peel stops: per-round
    * SHUFFLE volume is node-bounded everywhere — the alive set (into
    * the semi-join), the partial degree counts, and the alive∩degree
    * join — while the edge-sized relation is only ever SCANNED. With
    * the adjacency stored as a table bucketed on `node`
    * ([[graft.sources.Sinks.writeBucketed]]), step 1's semi-join
    * leaves the adjacency side entirely unshuffled (the alive set
    * hashes into the bucket layout), so NO per-round cost is
    * edge-sized network traffic — the layout investment every daily
    * k-core/PageRank loop amortizes. The broadcast peel instead ships
    * the alive set to every executor each round: node-count-sized × 2
    * semi-joins × rounds, which dies when the alive set outgrows
    * executor memory (billions of nodes); this arm has no such cliff.
    * ScaleBench measures both at the 10x/100x tiers; SCALE.md records
    * the crossover.
    *
    * Like the broadcast peel, rounds are lineage-truncated; `adj` is
    * re-scanned each round (a bucketed parquet scan — the cheap side
    * of the trade at any scale). */
  def kcorePeelMsg(adj: DataFrame, k: Int, rounds: Int,
      checkpointDir: Option[String] = None): DataFrame = {
    var alive: DataFrame = null // null = all nodes alive (round 1)
    var lastDeg: DataFrame = null
    for (_ <- 1 to rounds) {
      val msgs =
        if (alive == null) adj
        else adj.join(alive, Seq("node"), "left_semi")
      val deg = msgs.groupBy(col("nbr")).agg(count(lit(1)).as("dg"))
        .select(col("nbr").as("node"), col("dg"))
      lastDeg =
        if (alive == null) deg
        else deg.join(alive, Seq("node"), "left_semi")
      alive = Iter.truncate(
        lastDeg.filter(col("dg") >= k).select(col("node")), checkpointDir)
    }
    lastDeg.filter(col("dg") >= k).select(col("node"), col("dg"))
  }
}
