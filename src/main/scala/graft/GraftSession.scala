package graft

import org.apache.spark.sql.SparkSession

/** Central SparkSession factory with the engine's tuned defaults.
  *
  * Design notes (100 TB posture):
  *  - AQE on: runtime coalescing of shuffle partitions, skew-join
  *    splitting, and dynamic BHJ conversion replace hand-tuned
  *    partition counts when stats are missing.
  *  - shuffle.partitions matches local core count here; on a real
  *    cluster this is the AQE *initial* number and should be set to
  *    ~2-3x total executor cores (AQE coalesces down).
  *  - Session timezone pinned UTC so timestamp semantics match the
  *    DuckDB oracle and are cluster-location-independent.
  *  - Non-blocking reference cleanup: the ContextCleaner frees each
  *    job's task-binary broadcast and each truncation's persisted RDD
  *    after a GC finds them; blocking, it waits ~5 ms per item, so a
  *    backlog from a few passes of the small graph operators keeps
  *    the block manager's removal pools busy for over half a second.
  *    Local sessions have one block manager, so removals run
  *    concurrently (shuffle cleanup is non-blocking by default).
  *  - A codegen cache of 512 classes: a dashboard pass compiles once
  *    per JVM, not once per pass (CodegenCacheSpec).
  */
object GraftSession {
  def local(cores: Int = 32, appName: String = "graft"): SparkSession = {
    val b = SparkSession
      .builder()
      // the factory session carries the full Catalyst surface
      // (TopKStrategy, TopKRewriteRule, RangeJoinRewriteRule, SQL
      // functions) — without this, rule-dependent plans only form in
      // sessions that remember to wire the extensions themselves
      .withExtensions(new GraftExtensions)
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.referenceTracking.blocking", "false")
      // Spark keeps 100 generated classes by default; one pass of the
      // nine `warehouse_query` dashboard queries needs more, so each
      // pass evicted and recompiled 76–114 classes (0.8–1.9 s on 4
      // cores). A static conf, read once per JVM.
      .config("spark.sql.codegen.cache.maxEntries", "512")
      // testdata events.parquet stores INT64 nanosecond timestamps
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    b.sparkContext.setLogLevel("WARN")
    b
  }
}
