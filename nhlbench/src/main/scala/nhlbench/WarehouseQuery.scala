package nhlbench

import scala.util.Random

import graft.SparkEntry
import graft.sources.VersionedTable
import org.apache.spark.sql.{Observation, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._

/** `warehouse_query`: one dashboard refresh per op — a fixed pass over
  * nine of the engine's queries on the repository's scale-0.01 test
  * tables (`Args.data`, read only), each written to the noop sink, then
  * seeded point reads on a versioned `orders` table that set-up commits
  * in many small batches. The read side: Catalyst planning, the `plans`
  * rules and the `functions` expressions do most of the work here. */
final class WarehouseQuery(spark: SparkSession, t: Tracer, a: Args)
    extends Workload {
  import WarehouseQuery._
  import Layers.queries

  private val data = a.data
  private var vt = ""
  /** Per query: (rows, order-independent hash) from set-up's pass. */
  private var expected = Map.empty[String, (Long, java.math.BigDecimal)]
  /** The versioned table's first key, its rows by key, and its head
    * version. The seed picks which run of `VtRows` consecutive orders
    * the table holds. */
  private val firstKey = new Random(a.seed).nextInt(OrderKeys - VtRows).toLong
  private var rows = Map.empty[Long, Row]
  private var head = 0L
  private val planCounts = scala.collection.mutable.Map.empty[String, (Int, Int)]

  /** Commits the chosen orders to a fresh versioned table, a batch of
    * consecutive keys per commit, as a daily load would. */
  def prepare(dir: String): Unit = {
    vt = s"$dir/orders_vt"
    val orders = spark.read.parquet(s"$data/orders.parquet")
      .filter(col("o_orderkey").between(firstKey, firstKey + VtRows - 1))
    (0 until VtBatches).foreach { b =>
      val lo = firstKey + b * PerBatch
      head = VersionedTable.commit(spark, vt,
        orders.filter(col("o_orderkey").between(lo, lo + PerBatch - 1)),
        expectedVersion = b.toLong, statsCol = Some("o_orderkey"))
    }
    rows = orders.collect().map(r => r.getLong(0) -> r).toMap
    require(rows.size == VtRows, s"orders $firstKey.. has ${rows.size} rows")
  }

  /** One pass, whose query results every timed pass must repeat. */
  def warmUp(): Unit = {
    val first = pass(-1)
    expected = first.results
    first.check().foreach(e => sys.error(s"warm-up pass: $e"))
  }

  def op(i: Int): OpOut = pass(i).out

  private final case class Pass(results: Map[String, (Long, java.math.BigDecimal)],
      reads: Seq[(Long, Option[Long], Array[Row], Double)]) {
    def check(): Option[String] = {
      val q = queries.collectFirst {
        case n if !expected.get(n).contains(results(n)) =>
          s"$n returned ${results(n)}, expected ${expected.get(n)}"
      }
      q.orElse(reads.collectFirst {
        case (k, v, got, _) if !(got.length == 1 && got(0) == rows(k)) =>
          s"point read of key $k at ${v.getOrElse("head")} returned " +
            got.mkString(";")
      })
    }
    def out: OpOut = OpOut(() => check(), reads.map(_._4))
  }

  private def pass(i: Int): Pass = {
    val results = t.span("queries.pass") {
      queries.map(q => q -> t.span(s"queries.$q")(run(q))).toMap
    }
    val r = new Random(a.seed * 31L + i)
    val reads = (0 until Reads).map { _ =>
      val k = firstKey + r.nextInt(VtRows)
      val commitV = (k - firstKey) / PerBatch + 1
      val asOf =
        if (r.nextInt(4) == 0) Some(commitV + r.nextInt((head - commitV + 1).toInt))
        else None
      val r0 = System.nanoTime()
      val got = t.span("VersionedTable.read") {
        VersionedTable.readIndexed(spark, vt, "o_orderkey", asOf).get
          .filter(col("o_orderkey") === k).collect()
      }
      (k, asOf, got, (System.nanoTime() - r0) / 1e6)
    }
    Pass(results, reads)
  }

  /** One query to the noop sink; its row count and hash ride the write
    * as observed metrics. */
  private def run(q: String): (Long, java.math.BigDecimal) = {
    val obs = new Observation()
    val df = SparkEntry.queries(q)(spark, data).observe(obs,
      count(lit(1)).as("n"),
      sum(expr("xxhash64(*)").cast("decimal(38,0)")).as("h"))
    if (t.active) {
      val plan = t.span(s"queries.$q.plan") {
        df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
          .queryExecution.executedPlan
      }
      planCounts(q) = PlanCount(plan)
    }
    t.span(s"queries.$q.exec") {
      df.write.format("noop").mode("overwrite").save()
    }
    val m = obs.get
    (m("n").asInstanceOf[Long],
      Option(m("h").asInstanceOf[java.math.BigDecimal])
        .getOrElse(java.math.BigDecimal.ZERO))
  }

  override def layers(tr: Tracer, ops: Seq[Span]): Seq[(String, Double)] = {
    import Layers._
    queries.flatMap { q =>
      Seq(s"queries.$q.plan_ms" -> msOf(tr, ops, s"queries.$q.plan"),
        s"queries.$q.exec_ms" -> msOf(tr, ops, s"queries.$q.exec"))
    } ++ Seq(
      "queries.plan_ms" -> queries.map(q => msOf(tr, ops, s"queries.$q.plan")).sum,
      "queries.exec_ms" -> queries.map(q => msOf(tr, ops, s"queries.$q.exec")).sum,
      "plans.topk_nodes" -> planCounts.values.map(_._1).sum.toDouble,
      "plans.range_join_rewrites" -> planCounts.values.map(_._2).sum.toDouble,
      "VersionedTable.read_ms" -> msOf(tr, ops, "VersionedTable.read"),
      "VersionedTable.read_fs_meta_ops" ->
        perOp(tr, ops, "VersionedTable.read")(fsMetaOps),
      "VersionedTable.read_files_opened" ->
        fsOf(tr, ops, "VersionedTable.read", "open_ops"))
  }
}

object WarehouseQuery {
  /** The test tables' order keys are 0 until this. */
  val OrderKeys = 15000
  /** Rows of the versioned `orders` table and the commits they land in
    * (set-up commits them three times, so each commit costs the time
    * budget three times over). */
  val VtRows = 1200
  val VtBatches = 4
  val PerBatch: Int = VtRows / VtBatches
  /** Point reads per op. */
  val Reads = 4
}

/** Custom-operator counts in an executed plan: bounded-heap top-k nodes
  * and joins on the range-join rewrite's bin keys. */
object PlanCount extends AdaptiveSparkPlanHelper {
  def apply(plan: SparkPlan): (Int, Int) = {
    val topk = collectWithSubqueries(plan) {
      case p if p.getClass.getSimpleName.startsWith("TopKPerKey") => 1
    }.size
    val binned = collectWithSubqueries(plan) {
      case j: BaseJoinExec if (j.leftKeys ++ j.rightKeys).exists(
          _.references.exists(_.name.endsWith("_bin"))) => 1
    }.size
    (topk, binned)
  }
}
