package graft

import java.util.concurrent.atomic.AtomicInteger

import scala.util.Random

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graft.TestBus
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{Connect, ListRank, Scc}

/** Spark jobs per call of the four iterative operators on graphs of
  * the benchmark's `graph_rounds` shape (8 chains and 8 cycles of 8
  * nodes, 8 chorded rings of 8, 16 components of 8), result collected:
  * the single-task arm pins an upper bound far below the distributed
  * rounds (reached with a cap of -1). */
class LocalArmJobsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val r = new Random(7)
  private val used = scala.collection.mutable.HashSet.empty[Long]
  private def ids(n: Int): IndexedSeq[Long] = (0 until n).map { _ =>
    var x = r.nextLong() & 0xFFFFFFFFFFFFL
    while (!used.add(x)) x = r.nextLong() & 0xFFFFFFFFFFFFL
    x
  }
  private val lists = (0 until 8).map(_ => ids(8)).flatMap(c =>
    c.indices.map(j => c(j) -> c(math.max(0, j - 1)))).toDF("node", "succ")
  private val cycles = (0 until 8).map(_ => ids(8)).flatMap(c =>
    c.indices.map(j => c(j) -> c((j + 1) % 8))).toDF("node", "succ")
  private val rings = (0 until 8).map(_ => ids(8))
  private val sccNodes = rings.flatten.toDF("v")
  private val sccEdges = rings.flatMap(g => g.indices.flatMap(j =>
    Seq(1, 2, 4).map(s => g(j) -> g((j + s) % 8)))).toDF("u", "w")
  private val ccEdges = (0 until 16).map(_ => ids(8)).flatMap { c =>
    (1 until 8).map(j => c(j) -> c(r.nextInt(j))) :+
      (c(r.nextInt(8)) -> c(r.nextInt(8)))
  }.toDF("src", "dst")

  /** Jobs the call and the collect of its result start. */
  private def jobs(f: => DataFrame): Int = {
    val n = new AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    TestBus.drain(spark)
    spark.sparkContext.addSparkListener(l)
    try { f.collect(); TestBus.drain(spark); n.get }
    finally spark.sparkContext.removeSparkListener(l)
  }

  private def pin(name: String, bound: Int)(f: Long => DataFrame): Unit =
    test(s"$name: at most $bound jobs in the single-task arm") {
      val local = jobs(f(graft.ops.Iter.LocalRows))
      val rounds = jobs(f(-1L))
      info(s"$name: $local jobs (distributed rounds: $rounds)")
      assert(local <= bound && local < rounds,
        s"$name: $local jobs, distributed rounds $rounds")
    }

  pin("ListRank.ranks", 3)(c =>
    ListRank.ranks(lists, None, 64, Some(8L), c))
  pin("ListRank.cycleLabels", 3)(c =>
    ListRank.cycleLabels(cycles, None, 64, Some(8L), c))
  pin("Scc.components", 4)(c =>
    Scc.components(sccNodes, sccEdges, None, 64, c))
  pin("Connect.largeStarRounds", 7)(c =>
    Connect.largeStarRounds(ccEdges, "src", "dst", 30, None, c)._1)
}
