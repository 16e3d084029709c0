package graft

import java.util.concurrent.atomic.AtomicInteger

import scala.util.Random

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.functions.{col, udf}
import org.apache.spark.sql.graft.TestBus
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{Connect, Iter, ListRank, Scc}

/** Spark jobs per call of the four iterative operators on graphs of
  * the benchmark's `graph_rounds` shape (8 chains and 8 cycles of 8
  * nodes, 8 chorded rings of 8, 16 components of 8), result collected:
  * the single-task arm is one job, far below the distributed rounds
  * (reached with a cap of -1). A declined attempt reads its input
  * once, and an input built by a join is tried on the estimate of the
  * leaves it reads. */
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

  private def pin(name: String)(f: Long => DataFrame): Unit =
    test(s"$name: one Spark job a call in the single-task arm") {
      val local = jobs(f(graft.ops.Iter.LocalRows))
      val rounds = jobs(f(-1L))
      info(s"$name: $local jobs (distributed rounds: $rounds)")
      assert(local <= 1 && local < rounds,
        s"$name: $local jobs, distributed rounds $rounds")
    }

  pin("ListRank.ranks")(c =>
    ListRank.ranks(lists, None, 64, Some(8L), c))
  pin("ListRank.cycleLabels")(c =>
    ListRank.cycleLabels(cycles, None, 64, Some(8L), c))
  pin("Scc.components")(c =>
    Scc.components(sccNodes, sccEdges, None, 64, c))
  pin("Connect.largeStarRounds")(c =>
    Connect.largeStarRounds(ccEdges, "src", "dst", 30, None, c)._1)

  /** Large-star's labels over `edges` with a counting map on `src`,
    * and how many rows the map saw. */
  private def counted(edges: DataFrame, cap: Long): (Set[Row], Long) = {
    val seen = spark.sparkContext.longAccumulator("seen")
    val tap = udf { (x: java.lang.Long) => seen.add(1L); x }
      .asNondeterministic()
    val in = edges.select(tap(col("src")).as("src"), col("dst"))
    val got = Connect.largeStarRounds(in, "src", "dst", 30, None, cap)._1
      .collect().toSet
    (got, seen.value)
  }

  test("a declined attempt hands its rows to the distributed rounds: " +
      "the input's plan runs once") {
    // a null id declines inside the task
    val withNull = ccEdges.union(Seq[(java.lang.Long, java.lang.Long)](
      (null, 5L)).toDF("src", "dst"))
    val rows = withNull.count()
    val (nulls, nullReads) = counted(withNull, graft.ops.Iter.LocalRows)
    assert(nulls == counted(withNull, -1L)._1)
    assert(nulls.contains(Row(null, null)))
    assert(nullReads == rows, s"$nullReads reads of $rows rows")
    // a parquet file the optimizer sizes under the cap (its repeats
    // compress) holds more rows than the cap: the task stops counting
    // at the cap and declines
    val dir = java.nio.file.Files.createTempDirectory("graft-decline")
    val file = s"$dir/edges.parquet"
    spark.range(4096).select((col("id") % 4).as("src"),
      (col("id") % 4 + 1).as("dst")).coalesce(1).write.parquet(file)
    val big = spark.read.parquet(file)
    val (labels, reads) = counted(big, 256L)
    assert(labels == counted(big, -1L)._1)
    assert(labels == (0L to 4L).map(Row(_, 0L)).toSet)
    assert(reads == 4096L, s"$reads reads of 4096 rows")
  }

  test("an input built by a join is tried on its leaves' estimate, " +
      "which the join does not multiply") {
    val twoHops = lists.as("x").join(lists.as("y"),
        col("x.succ") === col("y.node"))
      .select(col("x.node").as("node"), col("y.succ").as("succ"))
    val plan = twoHops.queryExecution.optimizedPlan
    val cap = 1024L
    assert(plan.stats.sizeInBytes /
      EstimationUtils.getSizePerRow(plan.output) > cap)
    val tried =
      Iter.local(twoHops, twoHops.schema, cap)(c => Iter.Out(c.toSeq))
    assert(tried.isRight)
    assert(tried.toOption.get._1.collect().toSet == twoHops.collect().toSet)
    // a leaf estimated above the cap is not tried
    assert(Iter.local(lists, lists.schema, 16L)(c => Iter.Out(c.toSeq)) ==
      Left(lists))
  }
}
