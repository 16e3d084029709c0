package graft.ops

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Distributed LIST RANKING by pointer doubling (Wyllie's algorithm) —
  * the canonical O(log n)-round technique for successor-chain data
  * (linked logs, parent pointers, next-version chains) that no
  * built-in operator covers: a window over the chain would move the
  * WHOLE list into one task's sort, and a naive walk is O(n) rounds.
  *
  * Input: (node, succ) pairs forming chains that terminate at root
  * self-loops (succ = node). Output: (node, rank) where rank is the
  * node's distance to its chain's root.
  *
  * Each round squares every pointer: node's pointer jumps to its
  * pointer's pointer and accumulates that hop's distance — after k
  * rounds every pointer has jumped 2^k links, so ceil(log2(longest
  * chain)) rounds finish regardless of how many chains there are.
  * Root rows are ABSORBING ((root, root, 0): joining through them
  * adds zero and leaves the pointer parked), which is what makes the
  * fixed-point detectable as "every pointer parked on a root".
  *
  * Scale shape: one self-join per round, both sides the same n-row
  * relation shuffled on the join key; lineage truncated per round
  * ([[Iter.truncate]]); convergence checked once, after the last
  * round. 100 TB: n rows per round × log2(n) rounds, each a plain
  * keyed shuffle — contrast with the single-partition window, which
  * is the one shape that CANNOT distribute (SCALE.md `list_rank`
  * prices both arms). Relations of at most [[Iter.LocalRows]] rows
  * run the same rounds in one task instead ([[Iter.local]]; SCALE.md
  * `local_arm`).
  */
object ListRank {

  /** @param links (node, succ) long pairs; roots are self-loops.
    * @param maxRounds hard bound (2^64 links is unreachable, so 64
    *   is "until converged" with a runaway guard).
    * @param reachBound caller-known bound on the longest chain
    *   (round-16, the [[cycleLabels]] treatment): trims the doubling
    *   to ceil(log2 bound) rounds, capped by n (always sound); unlike
    *   cycleLabels a TOO-SMALL bound is caught loudly here — the
    *   parked check refuses an unconverged run rather than returning
    *   short ranks.
    *
    * Inputs of at most [[Iter.LocalRows]] links with integral ids
    * finish in ONE task ([[Iter.local]]): the same doubling rounds and
    * the same dangling and parked refusals, in memory — one job
    * instead of one per round. */
  def ranks(links: DataFrame, checkpointDir: Option[String] = None,
      maxRounds: Int = 64, reachBound: Option[Long] = None): DataFrame =
    ranks(links, checkpointDir, maxRounds, reachBound, Iter.LocalRows)

  /** [[ranks]] with the single-task cap as an argument (-1 always runs
    * the distributed rounds). */
  private[graft] def ranks(links: DataFrame, checkpointDir: Option[String],
      maxRounds: Int, reachBound: Option[Long], localRows: Long)
      : DataFrame =
    pointers(links, checkpointDir, maxRounds, reachBound, localRows,
      ranked = true)

  /** [[ranks]] (`ranked`: x is the distance, summed) and [[cycleLabels]]
    * (x is the min label, least), in one task or in rounds. After k
    * rounds every pointer has jumped 2^k links, and no chain is longer
    * than the relation itself — so ceil(log2 n) rounds suffice
    * UNCONDITIONALLY, and the loop needs no per-round convergence
    * action: one n-count up front, one parked-check at the end (which
    * doubles as the rootless-cycle refusal — a cycle never parks). */
  private def pointers(links: DataFrame, checkpointDir: Option[String],
      maxRounds: Int, reachBound: Option[Long], localRows: Long,
      ranked: Boolean): DataFrame = {
    val in = links.select(col("node"), col("succ"))
    val t = in.schema("node").dataType
    val name = if (ranked) "rank" else "label"
    val out = StructType(Seq(StructField("node", t),
      StructField(name, if (ranked) LongType else t)))
    // ceil(log2 horizon) rounds; `reachBound` (round-16): a caller that
    // KNOWS the longest forward reach can bound the doubling below
    // ceil(log2 n) — each saved round is a full self-join + truncate;
    // n is always sound, so the caller's value is capped by it
    def rounds(n: Long): Int = {
      val horizon = math.min(n, reachBound.fold(n)(math.max(_, 1L)))
      val need = Iter.ceilLog2(horizon)
      // unlike ranks, a short labeling run is silently WRONG (no parked
      // state to check), so refuse up front rather than underrun
      if (!ranked) require(need <= maxRounds, s"cycle labeling needs " +
        s"$need rounds for horizon $horizon ($n links) (> maxRounds)")
      math.min(need, maxRounds)
    }
    Iter.local(in, out, localRows) { c =>
      Iter.Out(doublingLocal(c(0), c(1), rounds(c(0).length), ranked))
    }.fold({ lk0 =>
      // truncate the input once: the dangling check and the loop's
      // round 0 both reference it, and an expensive upstream plan
      // (window-built fixtures) must not re-execute per reference;
      // the count rides that truncation pass
      val (lk, n0) = Iter.truncateCounted(lk0, checkpointDir)
      doubling(lk, n0, rounds(n0), checkpointDir, ranked)
        .withColumnRenamed("x", name)
    }, _._1)
  }

  /** The distributed rounds of [[pointers]]: one self-join +
    * truncation per round. Returns (node, x). */
  private def doubling(lk: DataFrame, n0: Long, rounds: Int,
      checkpointDir: Option[String], ranked: Boolean): DataFrame = {
    // DANGLING pointers (succ values that are not nodes) must refuse:
    // the self-join silently DROPS such rows mid-iteration — surviving
    // nodes would "converge" with wrong ranks and the vanished ones
    // would just be missing. Round-16: the check rides round 1's
    // already-materialized result (the inner self-join drops EXACTLY
    // the dangling rows, so a shrunken count IS the dangling count —
    // one cheap checkpoint scan instead of a dedicated n-row shuffled
    // anti-join + count up front, guide §1.2). Only the no-join path
    // (rounds == 0) still pays the explicit probe.
    if (rounds == 0) {
      val dangling = lk.as("x").join(lk.as("y"),
        col("x.succ") === col("y.node"), "left_anti").count()
      require(dangling == 0, danglingMsg(dangling))
    }
    // state: (node, ptr, x); ranks: roots start parked at distance 0;
    // labels: x = min label among positions [0, 2^k) of the successor
    // walk, ptr = successor 2^k ahead
    var state = lk.select(col("node"), col("succ").as("ptr"),
      (if (ranked) when(col("succ") === col("node"), lit(0L))
        .otherwise(lit(1L)) else col("node")).as("x"))
    (0 until rounds).foreach { i =>
      val jumped = state.as("a")
        .join(state.as("b"), col("a.ptr") === col("b.node"))
        .select(col("a.node").as("node"), col("b.ptr").as("ptr"),
          (if (ranked) col("a.x") + col("b.x")
           else least(col("a.x"), col("b.x"))).as("x"))
      state = Iter.truncate(jumped, checkpointDir)
      if (i == 0) {
        val c = state.count()
        require(c == n0, danglingMsg(n0 - c))
      }
    }
    // parked ⟺ the pointer sits on a root ⟺ one more jump would add
    // 0 (only roots carry dist 0 — non-root dist starts at 1 and
    // never shrinks). One join-count, once — not per round.
    if (ranked) {
      val pending = state.as("s")
        .join(state.as("t"), col("s.ptr") === col("t.node"))
        .filter(col("t.x") =!= 0L).count()
      require(pending == 0, unparkedMsg(rounds))
    }
    state.select(col("node"), col("x"))
  }

  private def danglingMsg(k: Long): String =
    s"$k dangling successor pointer(s): succ values that are not nodes"

  private def unparkedMsg(rounds: Int): String =
    s"list ranking did not converge in $rounds rounds " +
      "(rootless cycle in the input, or maxRounds too low)"

  /** [[doubling]] in one task, on unique node ids: every row joins
    * exactly one row, so the rows never change and a pointer is a row
    * index — a round sets ptr(j) to ptr(ptr(j)). The round-1 dangling
    * count and the parked check refuse with the distributed arm's
    * messages. Returns the (node, x) columns; a duplicate id, whose
    * rows the self-join multiplies, throws [[Iter.Decline]]. */
  private def doublingLocal(ns: Array[Long], ps: Array[Long], rounds: Int,
      ranked: Boolean): Seq[Array[Long]] = {
    val at = new mutable.LongMap[Int](ns.length)
    ns.indices.foreach(j => at(ns(j)) = j)
    if (at.size < ns.length) throw Iter.Decline
    var ptr = ps.map(at.getOrElse(_, -1))
    // round 1 keeps exactly the rows with a target: its count check
    val dangling = ptr.count(_ < 0)
    require(dangling == 0, danglingMsg(dangling))
    var xs =
      if (!ranked) ns.clone()
      else Array.tabulate(ns.length)(j => if (ps(j) == ns(j)) 0L else 1L)
    (0 until rounds).foreach { _ =>
      val (p, x) = (ptr, xs)
      xs = Array.tabulate(ns.length)(j =>
        if (ranked) x(j) + x(p(j)) else math.min(x(j), x(p(j))))
      ptr = p.map(p(_))
    }
    // parked: no pointer sits on a row of non-zero distance
    if (ranked)
      require(!ptr.exists(j => j >= 0 && xs(j) != 0L), unparkedMsg(rounds))
    Seq(ns, xs)
  }

  /** List ranking by INDEPENDENT-SET CONTRACTION (the O(n)-WORK form,
    * JaJa §3; [[ranks]] is Wyllie doubling, O(n log n) work at
    * O(log n) depth): per round, a deterministic per-round coin
    * (hash parity of (node, round)) selects every non-root node whose
    * coin is heads and whose successor's coin is tails — no two
    * ADJACENT nodes can both be selected, so splicing them out is a
    * single-hop pointer fix: each survivor pointing at a spliced node
    * re-points to the spliced node's successor and absorbs its link
    * weight. ~1/4 of the list contracts per round; total touched rows
    * across all rounds telescope to O(n). The spliced sets are then
    * EXPANDED in reverse round order — rank(v) = rank(successor at
    * splice time) + absorbed weight — each expansion a join sized by
    * that round's splice set.
    *
    * Trade vs [[ranks]]: geometrically SHRINKING data per round
    * against Wyllie's constant n — work-bound beats depth-bound once
    * n is large enough that per-round data cost dominates the
    * per-round fixed floor (SCALE.md `list_rank` measures the
    * crossover). Works on in-trees like [[ranks]] (a spliced node's
    * many predecessors all re-point in the same fix-up join).
    * Bit-equal to [[ranks]] by oracle and spec.
    *
    * Round-16 (accelerated cascading, JaJa §2.7): contracting all the
    * way to empty costs ~log_{4/3}(n) contraction rounds PLUS as many
    * expansion rounds, every one a full keyed join whose fixed
    * per-round floor dominates long after the data stopped being the
    * cost. So contract only until the ACTIVE remainder is
    * ≤ n/ceil(log2 n) (`switchFrac` scales the threshold for tests),
    * then finish the remainder with WEIGHTED Wyllie doubling — the
    * contracted state (node, succ, w) is exactly a weighted successor
    * list, so doubling accumulates w instead of 1 and parks on roots
    * the same way — in ceil(log2 active) rounds over ≤ n/log2(n)
    * rows: O(n) total work preserved, round count drops from
    * ~2·log_{4/3}(n) to ~2·log_{4/3}(log2 n) + log2(n). Already-
    * spliced sets expand exactly as before (a spliced node's
    * splice-time successor either survived into the doubled remainder
    * or was spliced later, so its rank is always assigned first). */
  def ranksByContraction(links: DataFrame,
      checkpointDir: Option[String] = None,
      maxRounds: Int = 300, switchFrac: Double = 1.0): DataFrame = {
    val lk = Iter.truncate(links.select(col("node"), col("succ")),
      checkpointDir)
    val n = lk.count()
    val dangling = lk.as("x").join(lk.as("y"),
      col("x.succ") === col("y.node"), "left_anti").count()
    require(dangling == 0,
      s"$dangling dangling successor pointer(s): succ values that are " +
        "not nodes")
    // contract only down to here, then switch to weighted doubling
    // (see the scaladoc); n/ceil(log2 n) keeps the doubling's total
    // work O(n). switchAt = 0 (switchFrac = 0) is pure contraction —
    // the pre-round-16 behavior, kept reachable for the spec's
    // equivalence pins.
    val switchAt =
      (switchFrac * n / math.max(1, Iter.ceilLog2(n))).toLong
    // state: (node, succ, w) — w = distance from node to its CURRENT
    // successor; roots are self-loops with w = 0
    var cur = Iter.truncate(lk.select(col("node"), col("succ"),
      when(col("succ") === col("node"), lit(0L)).otherwise(lit(1L))
        .as("w")), checkpointDir)
    val spliced = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var round = 0
    var active = cur.filter(col("node") =!= col("succ")).count()
    // convergence polled every CheckEvery rounds, not every round: a
    // post-convergence round splices nothing and is harmless, so the
    // poll cadence trades ≤3 wasted cheap rounds for 3/4 of the
    // count jobs
    val CheckEvery = 4
    while (active > switchAt) {
      require(round < maxRounds,
        s"contraction did not converge in $maxRounds rounds " +
          "(rootless cycle in the input?)")
      val coin = (c: org.apache.spark.sql.Column) =>
        pmod(xxhash64(c, lit(round)), lit(2)) === 0
      // the coin is a pure hash of the node ID, so the successor's
      // coin comes straight from the succ VALUE — no join to mark
      val m = cur.withColumn("sel",
        coin(col("node")) && !coin(col("succ")) &&
          col("node") =!= col("succ"))
      val spl = m.filter(col("sel")).select(col("node"), col("succ"),
        col("w"))
      // survivors re-point through spliced successors (never two in a
      // row — the coin rule forbids adjacent selections)
      val next = m.filter(!col("sel"))
        .join(spl.select(col("node").as("sn"), col("succ").as("ss"),
          col("w").as("sw")), col("succ") === col("sn"), "left")
        .select(col("node"), coalesce(col("ss"), col("succ")).as("succ"),
          (col("w") + coalesce(col("sw"), lit(0L))).as("w"))
      cur = Iter.truncate(next, checkpointDir)
      spliced += spl
      round += 1
      if (round % CheckEvery == 0)
        active = cur.filter(col("node") =!= col("succ")).count()
    }
    val baseRanks =
      if (active == 0) {
        // fully contracted (tiny inputs / switchFrac = 0): a ROOTLESS
        // CYCLE contracts to a self-loop with ACCUMULATED weight —
        // distinguishable from a true root (w = 0) and refused rather
        // than silently ranked against a fake root
        val fake = cur.filter(col("node") === col("succ") &&
          col("w") =!= 0L).count()
        require(fake == 0,
          s"$fake rootless cycle(s) in the input (contracted to " +
            "weighted self-loops)")
        cur.select(col("node"), lit(0L).as("rank"))
      } else {
        // weighted Wyllie doubling on the contracted remainder:
        // (node, ptr, dist) with roots absorbing at dist 0; each round
        // squares the pointer and accumulates the jumped-over weight.
        // The polled `active` (non-increasing, so a stale poll only
        // overestimates) bounds the longest remaining hop-chain, so
        // ceil(log2(active + 1)) rounds park every pointer on a root.
        var st = cur.select(col("node"), col("succ").as("ptr"),
          col("w").as("dist"))
        (0 until Iter.ceilLog2(active + 1)).foreach { _ =>
          val jumped = st.as("a")
            .join(st.as("b"), col("a.ptr") === col("b.node"))
            .select(col("a.node").as("node"), col("b.ptr").as("ptr"),
              (col("a.dist") + col("b.dist")).as("dist"))
          st = Iter.truncate(jumped, checkpointDir)
        }
        // parked ⟺ the pointer sits on a TRUE root (dist 0). A cycle
        // that contracted to a weighted self-loop sits at dist ≠ 0 and
        // a cycle still mid-contraction never parks — both refuse here
        val pending = st.as("s")
          .join(st.as("t"), col("s.ptr") === col("t.node"))
          .filter(col("t.dist") =!= 0L).count()
        require(pending == 0,
          s"$pending unparked pointer(s) after doubling — rootless " +
            "cycle in the input")
        st.select(col("node"), col("dist").as("rank"))
      }
    // expansion, reverse order: a spliced node's splice-time successor
    // survived to the NEXT round — so it either survived into the
    // doubled remainder (rank in baseRanks) or was spliced later
    // (expanded earlier in this reverse walk); by induction its rank
    // is already assigned when we get there. The lookup relation only
    // GROWS, so it is re-truncated every few rounds (the in-between
    // unions keep the plan a shallow union of checkpoints). NOTE the
    // lookup join is O(n) PER ROUND — the honest cost of realizing
    // contraction on a shuffle engine; SCALE.md's list_rank reading
    // prices it.
    var ranks = baseRanks
    var sinceTrunc = 0
    spliced.reverseIterator.foreach { spl =>
      val add = spl.join(ranks.select(col("node").as("rn"),
          col("rank").as("rr")), col("succ") === col("rn"))
        .select(col("node"), (col("rr") + col("w")).as("rank"))
      ranks = ranks.unionByName(Iter.truncate(add, checkpointDir))
      sinceTrunc += 1
      if (sinceTrunc % CheckEvery == 0)
        ranks = Iter.truncate(ranks, checkpointDir)
    }
    Iter.truncate(ranks, checkpointDir)
  }

  /** CYCLE LABELING of a functional graph (every node exactly one
    * successor; self-loops allowed) by min-label doubling — the
    * cycle-shaped counterpart of [[ranks]]: after k rounds each node
    * knows the MINIMUM label among its first 2^k successors, and with
    * 2^k ≥ n that covers the entire forward reach (re-walking a cycle
    * is idempotent under min), so ceil(log2 n) rounds suffice with NO
    * convergence action at all. On a permutation (pure cycles) the
    * returned label IS the strongly-connected-component id — every
    * node of a cycle reports the cycle's minimum node; on rho-shaped
    * inputs (tails into cycles) it is the min label forward-reachable,
    * the standard "which basin am I in" key. Same per-round cost
    * shape as [[ranks]]: one keyed self-join, lineage truncated.
    *
    * Input must be FUNCTIONAL (node unique in `links`); a node with
    * two successors would duplicate through the self-join. Returns
    * (node, label).
    *
    * Inputs of at most [[Iter.LocalRows]] links with integral ids
    * finish in ONE task ([[Iter.local]]) — the same min-label doubling
    * and dangling refusal, in memory. */
  def cycleLabels(links: DataFrame, checkpointDir: Option[String] = None,
      maxRounds: Int = 64, reachBound: Option[Long] = None): DataFrame =
    cycleLabels(links, checkpointDir, maxRounds, reachBound, Iter.LocalRows)

  /** [[cycleLabels]] with the single-task cap as an argument (-1
    * always runs the distributed rounds). */
  private[graft] def cycleLabels(links: DataFrame,
      checkpointDir: Option[String], maxRounds: Int,
      reachBound: Option[Long], localRows: Long): DataFrame =
    pointers(links, checkpointDir, maxRounds, reachBound, localRows,
      ranked = false)
}
