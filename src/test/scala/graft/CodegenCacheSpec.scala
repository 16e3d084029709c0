package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The session's codegen cache holds a whole dashboard pass: the nine
  * `warehouse_query` queries on the scale-0.01 test tables, each to
  * the noop sink with the benchmark's observed row count and hash,
  * compile nothing the second time. Spark's default bound of 100
  * classes evicts part of a pass, so every pass recompiled. */
class CodegenCacheSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val queries = Seq("q1_agg", "q6_filter_agg", "a4_rollup",
    "w1_rank_window", "j2_join_enrich", "j5_rule_rewrite", "asof_forward",
    "topk_per_key", "mart_join_union")

  /** Classes compiled by one pass. */
  private def pass(): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    queries.foreach { q =>
      SparkEntry.queries(q)(spark, "nhlbench/data/sf0.01")
        .observe(new Observation(), count(lit(1)).as("n"),
          sum(expr("xxhash64(*)").cast("decimal(38,0)")).as("h"))
        .write.format("noop").mode("overwrite").save()
    }
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  test("a second pass of the dashboard queries compiles no class") {
    val first = pass()
    val second = pass()
    info(s"classes compiled: first pass $first, second pass $second")
    assert(second == 0, s"$second classes recompiled ($first in the first pass)")
  }
}
