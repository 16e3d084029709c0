package nhlbench

/** The per-layer metrics a traced run prints, `<module>.<metric>`, each
  * a mean per traced op unless its name says otherwise; the three op
  * metrics come from the run's untraced ops. Every traced run prints
  * all of them; a layer its workload never calls reads 0. */
object Layers {
  val queries: Seq[String] = Seq("q1_agg", "q6_filter_agg", "a4_rollup",
    "w1_rank_window", "j2_join_enrich", "j5_rule_rewrite", "asof_forward",
    "topk_per_key", "mart_join_union")

  val operators: Seq[String] = Seq("ListRank.ranks", "ListRank.cycleLabels",
    "Scc.components", "Connect.connectedComponentsLargeStar")

  val all: Seq[(String, String)] = Seq(
    "op_p50_ms" -> "ms", "op_tail_ms" -> "ms", "ops_per_s" -> "1/s",
    "Ledger.copy_ms" -> "ms", "Ledger.copy_jobs" -> "count",
    "Ledger.copy_fs_meta_ops" -> "count", "Ledger.replay_ms" -> "ms",
    "Ledger.replay_rows" -> "count",
    "Quality.gate_ms" -> "ms", "Quality.gate_jobs" -> "count",
    "Mart.refresh_ms" -> "ms", "Mart.refresh_jobs" -> "count",
    "Mart.refresh_shuffle_bytes" -> "bytes",
    "VersionedTable.upsert_ms" -> "ms", "VersionedTable.upsert_jobs" -> "count",
    "VersionedTable.upsert_fs_meta_ops" -> "count",
    "VersionedTable.upsert_files_created" -> "count",
    "VersionedTable.groups_masked" -> "count",
    "VersionedTable.groups_rewritten" -> "count",
    "VersionedTable.maintain_ms" -> "ms",
    "VersionedTable.maintain_bytes_rewritten" -> "bytes",
    "VersionedTable.log_entries" -> "count",
    "VersionedTable.live_groups" -> "count",
    "VersionedTable.read_ms" -> "ms",
    "VersionedTable.read_fs_meta_ops" -> "count",
    "VersionedTable.read_files_opened" -> "count",
    "VersionedTable.read_p50_ms" -> "ms", "VersionedTable.read_tail_ms" -> "ms",
    "VersionedTable.storage_amp" -> "ratio", "fs.write_amp" -> "ratio") ++
    queries.flatMap(q =>
      Seq(s"queries.$q.plan_ms" -> "ms", s"queries.$q.exec_ms" -> "ms")) ++
    Seq("queries.plan_ms" -> "ms", "queries.exec_ms" -> "ms",
      "plans.topk_nodes" -> "count", "plans.range_join_rewrites" -> "count") ++
    operators.flatMap(o => Seq(s"ops.$o.ms" -> "ms", s"ops.$o.jobs" -> "count",
      s"ops.$o.checkpoint_jobs" -> "count",
      s"ops.$o.shuffle_bytes" -> "bytes")) ++
    Work.names.filter(_ != "checkpoint_jobs").map(k =>
      s"spark.$k" -> (if (k.endsWith("_ms")) "ms"
        else if (k.endsWith("_bytes")) "bytes" else "count")) ++
    Seq("spark.driver_ms" -> "ms") ++
    FsCounters.names.map(k =>
      s"fs.$k" -> (if (k.startsWith("bytes")) "bytes" else "count")) ++
    Seq("trace.overhead_ms" -> "ms", "trace.traced_ops" -> "count")

  private val fsMeta = Seq("list_ops", "status_ops", "rename_ops",
    "delete_ops").map(FsCounters.names.indexOf(_))
  val fsIdx: Map[String, Int] = FsCounters.names.zipWithIndex.toMap

  /** Filesystem metadata calls of a span: lists, stats, renames and
    * deletes. */
  def fsMetaOps(s: Span): Double = fsMeta.map(s.fs(_)).sum.toDouble

  /** Mean per traced op of `f` over the spans called `name`. */
  def perOp(t: Tracer, ops: Seq[Span], name: String)(f: Span => Double)
      : Double = {
    val ids = ops.map(_.op).toSet
    t.spans.filter(s => s.name == name && ids.contains(s.op)).map(f).sum /
      ops.size
  }

  def msOf(t: Tracer, ops: Seq[Span], name: String): Double =
    perOp(t, ops, name)(_.ms)

  /** Spark counter `k` per traced op over the spans called `name`. */
  def workOf(t: Tracer, ops: Seq[Span], name: String, k: String): Double =
    perOp(t, ops, name)(t.work(_)(Work(k)))

  /** Filesystem counter `k` per traced op over the spans called `name`. */
  def fsOf(t: Tracer, ops: Seq[Span], name: String, k: String): Double =
    perOp(t, ops, name)(_.fs(fsIdx(k)).toDouble)

  /** Spark and filesystem totals per traced op. */
  def common(t: Tracer, ops: Seq[Span]): Seq[(String, Double)] = {
    val n = ops.size.toDouble
    val work = ops.map(t.work)
    Work.names.filter(_ != "checkpoint_jobs").map { k =>
      s"spark.$k" -> work.map(_(Work(k))).sum / n
    } ++ Seq("spark.driver_ms" -> ops.map(t.driverMs).sum / n) ++
      FsCounters.names.indices.map { i =>
        s"fs.${FsCounters.names(i)}" -> ops.map(_.fs(i).toDouble).sum / n
      }
  }
}
