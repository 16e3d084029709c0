package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.ListRank

/** Pointer-doubling list-ranking contract: exact distance-to-root on
  * single chains, multiple chains, and singletons; a rootless cycle
  * (which can never converge) is refused rather than looped on.
  */
class ListRankSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def links(pairs: (Long, Long)*) = {
    import spark.implicits._
    pairs.toDF("node", "succ")
  }

  private def rankMap(df: org.apache.spark.sql.DataFrame) =
    ListRank.ranks(df).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("single chain: rank = distance to the self-loop root") {
    // 0 <- 1 <- 2 <- ... <- 9 (succ points toward the root)
    val chain = links((0L -> 0L) +: (1L to 9L).map(i => i -> (i - 1)): _*)
    assert(rankMap(chain) == (0L to 9L).map(i => i -> i).toMap)
  }

  test("multiple chains of different lengths + singleton roots") {
    val ls = links(
      // chain A: 10 <- 11 <- 12
      10L -> 10L, 11L -> 10L, 12L -> 11L,
      // chain B: 20 <- 21
      20L -> 20L, 21L -> 20L,
      // singleton
      30L -> 30L)
    assert(rankMap(ls) == Map(10L -> 0L, 11L -> 1L, 12L -> 2L,
      20L -> 0L, 21L -> 1L, 30L -> 0L))
  }

  test("round count is logarithmic: a 33-link chain converges (2^6 " +
      "coverage) where a naive walk would need 33 rounds") {
    val n = 33L
    val chain = links((0L -> 0L) +: (1L to n).map(i => i -> (i - 1)): _*)
    // maxRounds = 7 covers the ceil(log2 34) = 6 doubling rounds of
    // these 34 links; convergence needs no extra round — one parked
    // check after the last round confirms it
    val r = ListRank.ranks(chain, maxRounds = 7).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r == (0L to n).map(i => i -> i).toMap)
  }

  test("ranks with a caller-known reach bound: fewer doubling " +
      "rounds, identical ranks; a too-small bound refuses loudly " +
      "instead of returning short ranks") {
    // 3 chains of length <= 5 over 10 nodes: bound 5 -> 3 rounds
    // instead of ceil(log2 10) = 4
    val ls = links(
      0L -> 0L, 1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L,
      10L -> 10L, 11L -> 10L, 12L -> 11L,
      20L -> 20L, 21L -> 20L)
    val unbounded = rankMap(ls)
    val bounded = ListRank.ranks(ls, reachBound = Some(5L)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(bounded == unbounded)
    // an over-large bound is capped at n
    val capped = ListRank.ranks(ls, reachBound = Some(1000000L)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(capped == unbounded)
    // bound 2 covers only 2^1 links: the 4-link chain cannot park
    val e = intercept[IllegalArgumentException] {
      ListRank.ranks(ls, reachBound = Some(2L)).collect()
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("a rootless cycle is refused (would never converge)") {
    val cycle = links(1L -> 2L, 2L -> 3L, 3L -> 1L)
    val e = intercept[IllegalArgumentException] {
      ListRank.ranks(cycle, maxRounds = 8).collect()
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("dangling successor pointers are refused up front — the " +
      "self-join would silently drop those rows mid-iteration") {
    // node 3 does not exist; node 0 is a real root so the survivors
    // WOULD park and a converge-only check would pass wrongly
    val broken = links(0L -> 0L, 1L -> 0L, 2L -> 3L)
    val e = intercept[IllegalArgumentException] {
      ListRank.ranks(broken).collect()
    }
    assert(e.getMessage.contains("dangling"))
    // single dangling link (the bound-0-rounds edge): also refused
    intercept[IllegalArgumentException] {
      ListRank.ranks(links(1L -> 2L)).collect()
    }
    // cycleLabels applies the same refusal
    intercept[IllegalArgumentException] {
      ListRank.cycleLabels(links(1L -> 1L, 2L -> 9L)).collect()
    }
  }

  private def rankMapC(df: org.apache.spark.sql.DataFrame) =
    ListRank.ranksByContraction(df).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("contraction arm: identical ranks to Wyllie on a single " +
      "chain, multiple chains, and an in-tree") {
    val chain = links((0L -> 0L) +: (1L to 40L).map(i => i -> (i - 1)): _*)
    assert(rankMapC(chain) == rankMap(chain))
    val multi = links(10L -> 10L, 11L -> 10L, 12L -> 11L,
      20L -> 20L, 21L -> 20L, 30L -> 30L)
    assert(rankMapC(multi) == Map(10L -> 0L, 11L -> 1L, 12L -> 2L,
      20L -> 0L, 21L -> 1L, 30L -> 0L))
    // in-tree: two branches sharing a parent (many preds re-point
    // through one spliced node)
    val tree = links(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 1L)
    assert(rankMapC(tree) ==
      Map(0L -> 0L, 1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 2L))
  }

  test("contraction arm: the hybrid doubling tail (default), pure " +
      "contraction (switchFrac = 0), and an immediate switch " +
      "(switchFrac >= n) all produce identical ranks") {
    // 120-node chain: n/ceil(log2 n) = 120/7 = 17, so the default
    // contracts past several rounds and then genuinely enters the
    // weighted-doubling tail with a non-trivial remainder
    val chain = links((0L -> 0L) +: (1L to 119L).map(i => i -> (i - 1)): _*)
    val expected = (0L to 119L).map(i => i -> i).toMap
    assert(rankMapC(chain) == expected)
    val pure = ListRank.ranksByContraction(chain, switchFrac = 0.0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pure == expected)
    // switchFrac large enough that no contraction round runs at all —
    // the tail alone is weighted Wyllie on the raw list
    val allDouble = ListRank.ranksByContraction(chain, switchFrac = 999.0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(allDouble == expected)
    // in-tree through the hybrid tail too
    val tree = links(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 1L,
      5L -> 3L, 6L -> 3L, 7L -> 5L)
    assert(rankMapC(tree) ==
      ListRank.ranks(tree).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap)
  }

  test("contraction arm refuses a rootless cycle through the " +
      "doubling tail as well (pointers never park)") {
    // switchFrac huge -> no contraction, the cycle hits doubling
    val e = intercept[IllegalArgumentException] {
      ListRank.ranksByContraction(
        links(1L -> 2L, 2L -> 3L, 3L -> 1L), switchFrac = 999.0).collect()
    }
    assert(e.getMessage.contains("rootless cycle"))
  }

  test("contraction arm refuses rootless cycles and dangling " +
      "pointers like Wyllie") {
    val e = intercept[IllegalArgumentException] {
      ListRank.ranksByContraction(
        links(1L -> 2L, 2L -> 3L, 3L -> 1L), maxRounds = 40).collect()
    }
    assert(e.getMessage.contains("rootless cycle"))
    intercept[IllegalArgumentException] {
      ListRank.ranksByContraction(links(1L -> 2L)).collect()
    }
  }

  private def labelMap(df: org.apache.spark.sql.DataFrame) =
    ListRank.cycleLabels(df).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("cycleLabels: every node of a cycle reports the cycle's " +
      "minimum; multiple cycles + fixed points") {
    val perm = links(
      // cycle A: 5 -> 9 -> 2 -> 5
      5L -> 9L, 9L -> 2L, 2L -> 5L,
      // cycle B: 7 -> 8 -> 7
      7L -> 8L, 8L -> 7L,
      // fixed point
      4L -> 4L)
    assert(labelMap(perm) == Map(5L -> 2L, 9L -> 2L, 2L -> 2L,
      7L -> 7L, 8L -> 7L, 4L -> 4L))
  }

  test("cycleLabels on a rho shape: tail nodes report the min of " +
      "their forward reach (basin key)") {
    // tail 10 -> 11 -> into cycle 1 -> 2 -> 3 -> 1
    val rho = links(10L -> 11L, 11L -> 1L,
      1L -> 2L, 2L -> 3L, 3L -> 1L)
    assert(labelMap(rho) ==
      Map(10L -> 1L, 11L -> 1L, 1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("cycleLabels refuses an insufficient maxRounds up front " +
      "(a short run would be silently wrong)") {
    val perm = links((1L to 40L).map(i => i -> (i % 40 + 1)): _*)
    intercept[IllegalArgumentException] {
      ListRank.cycleLabels(perm, maxRounds = 3)
    }
  }

  test("cycleLabels with a caller-known reach bound: fewer doubling " +
      "rounds, identical labels (and n stays a sound cap)") {
    // 12 nodes but the longest cycle is 3: bound 3 -> 2 rounds
    // instead of 4, same labels
    val perm = links(
      1L -> 2L, 2L -> 3L, 3L -> 1L,
      4L -> 5L, 5L -> 6L, 6L -> 4L,
      7L -> 8L, 8L -> 9L, 9L -> 7L,
      10L -> 11L, 11L -> 12L, 12L -> 10L)
    val unbounded = ListRank.cycleLabels(perm).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bounded = ListRank.cycleLabels(perm, reachBound = Some(3L))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(bounded == unbounded)
    // an over-large bound is capped at n (still correct, never more
    // rounds than the unconditional ceil(log2 n))
    val capped = ListRank.cycleLabels(perm, reachBound = Some(1000000L))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(capped == unbounded)
  }
}
