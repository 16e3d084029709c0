package nhlbench

import java.io.File
import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

/** What a timed op hands back: a check to run once the op's timer has
  * stopped (None = outputs correct, Some(reason) = wrong), and the
  * latencies of the versioned-table reads made inside the op. */
final case class OpOut(check: () => Option[String],
    readsMs: Seq[Double] = Nil)

/** A closed-loop workload driven by one client thread. */
trait Workload {
  /** Generates the run's inputs under `dir`, a fresh directory. Set-up
    * runs it `Main.SetupRounds` times; the timed phase uses the last
    * inputs. */
  def prepare(dir: String): Unit

  /** Untimed warm-up ops on the last prepared inputs. */
  def warmUp(): Unit

  /** Ops in a run when the run is a fixed sequence of states rather
    * than a time window. */
  def fixedOps: Option[Int] = None

  /** One timed op. */
  def op(i: Int): OpOut

  /** Layer metrics from the traced ops, by name. */
  def layers(t: Tracer, ops: Seq[Span]): Seq[(String, Double)] = Nil

  /** Facts about the final state, measured after the timed phase. */
  def endState(): Seq[(String, Double)] = Nil
}

/** `data`: the read-only directory of the dashboard's parquet tables. */
final case class Args(workload: String, seed: Long, seconds: Int,
    trace: Boolean, work: String, out: String, data: String, cores: Int) {
  /** Timed ops a run makes at least: a traced run traces them
    * on-off-off-on. */
  def minOps: Int = if (trace) 4 else 1
}

object Main {
  /** How many times set-up prepares a workload's inputs; `setup_s`
    * counts the median. */
  val SetupRounds = 3

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing $k"))
    Args(need("--workload"), need("--seed").toLong, need("--seconds").toInt,
      need("--trace") == "1", need("--work"), need("--out"), need("--data"),
      need("--cores").toInt)
  }

  def workload(spark: SparkSession, t: Tracer, a: Args): Workload =
    a.workload match {
      case "daily_load" => new DailyLoad(spark, t, a)
      case "warehouse_query" => new WarehouseQuery(spark, t, a)
      case "graph_rounds" => new GraphRounds(spark, t, a)
      case other => sys.error(s"unknown workload $other")
    }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val t0 = System.nanoTime()
    new File(a.work).mkdirs()
    new File(a.out).mkdirs()
    // everything Spark writes stays under the run's work directory
    // (run.py points SPARK_LOCAL_DIRS there as well)
    System.setProperty("spark.sql.warehouse.dir", s"${a.work}/warehouse")
    if (a.trace)
      System.setProperty("spark.hadoop.fs.file.impl",
        classOf[CountingLocalFs].getName)
    val spark = graft.GraftSession.local(a.cores, "nhlbench")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val code = try run(a, spark, sessionS) finally spark.stop()
    sys.exit(code)
  }

  /** Runs the workload, prints the result; the exit code. */
  private def run(a: Args, spark: SparkSession, sessionS: Double): Int = {
    val tracer = new Tracer(spark.sparkContext, a.trace)
    val w = workload(spark, tracer, a)
    val rounds = (1 to SetupRounds).map { r =>
      val t = System.nanoTime()
      w.prepare(s"${a.work}/setup$r")
      val secs = (System.nanoTime() - t) / 1e9
      System.err.println(f"[nhlbench] inputs, round $r: $secs%.2f s")
      secs
    }
    val warmS = {
      val t = System.nanoTime()
      w.warmUp()
      (System.nanoTime() - t) / 1e9
    }
    System.err.println(f"[nhlbench] warm-up: $warmS%.2f s")
    val setupS = sessionS + Stats.median(rounds) + warmS

    // the timed phase: ops back to back, each timed from outside. A
    // traced run times at least four ops and traces them on-off-off-on,
    // so the untraced ones give the tracing overhead within the same run
    // and warming over the run biases neither side. Output checks run
    // between ops; their time is taken out of the phase's wall time
    val fixed = w.fixedOps.map(math.max(_, a.minOps))
    val lat = scala.collection.mutable.ArrayBuffer.empty[Double]
    val traced = scala.collection.mutable.ArrayBuffer.empty[Boolean]
    val reads = scala.collection.mutable.ArrayBuffer.empty[(Boolean, Double)]
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    var checkNs = 0L
    val before = Probe.take()
    val start = System.nanoTime()
    def more = fixed match {
      case Some(n) => lat.size < n
      case None => lat.size < a.minOps ||
        (System.nanoTime() - start - checkNs) / 1e9 < a.seconds
    }
    while (more) {
      val i = lat.size
      val on = a.trace && (i % 4 == 0 || i % 4 == 3)
      tracer.beginOp(i + 1, on)
      val t = System.nanoTime()
      val out = try Right(tracer.span("op")(w.op(i)))
        catch { case e: Exception => Left(e) }
      val ns = System.nanoTime() - t
      lat += ns / 1e6
      System.err.println(f"[nhlbench] op $i: ${ns / 1e6}%.1f ms")
      traced += on
      tracer.active = false
      val c = System.nanoTime()
      val verdict = out match {
        case Left(e) => Some(s"op failed: $e")
        case Right(o) =>
          reads ++= o.readsMs.map(on -> _)
          try o.check() catch { case e: Exception => Some(s"check: $e") }
      }
      checkNs += System.nanoTime() - c
      verdict.foreach(v => failures += s"op $i: $v")
    }
    val wallS = (System.nanoTime() - start - checkNs) / 1e9
    val timed = Probe.take().minus(before)
    val end = w.endState()
    tracer.drain()

    val n = lat.size
    val plain = lat.zip(traced).collect { case (x, false) => x }.toSeq match {
      case Seq() => lat.toSeq
      case xs => xs
    }
    val (tailMs, tailPct, beyond) = Stats.tail(plain)
    val plainReads = reads.collect { case (false, x) => x }.toSeq
    val heapMb = {
      // the second and third collections pick up what Spark's cleaner
      // released after the first
      (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed /
        (1024.0 * 1024.0)
    }
    // op latency and throughput are per-layer metrics, taken from the
    // untraced ops of a traced run: from one fresh JVM to the next on
    // a shared machine they spread more than any bound allows (NOTES.md)
    val e2e = Seq(
      "setup_s" -> (setupS, "s"),
      "ok_ops_frac" -> ((n - failures.size).toDouble / n, "frac"),
      "heap_mb" -> (heapMb, "MB"))

    val layerVals: Map[String, Double] =
      if (!a.trace) Map.empty
      else {
        val opSpans = tracer.spans.filter(_.parent == 0).toSeq
        val tracedLat = lat.zip(traced).collect { case (x, true) => x }.toSeq
        val base = Layers.common(tracer, opSpans) ++ Seq(
          "op_p50_ms" -> Stats.median(plain),
          "op_tail_ms" -> tailMs,
          "ops_per_s" -> plain.size * 1000 / plain.sum,
          "trace.overhead_ms" ->
            (Stats.median(tracedLat) - Stats.median(plain)),
          "trace.traced_ops" -> opSpans.size.toDouble) ++
          (if (plainReads.isEmpty) Nil
           else Seq(
             "VersionedTable.read_p50_ms" -> Stats.median(plainReads),
             "VersionedTable.read_tail_ms" -> Stats.tail(plainReads)._1))
        (base ++ w.layers(tracer, opSpans) ++ end).toMap
      }
    if (a.trace)
      tracer.writeSpans(s"${a.out}/spans-${a.workload}-${a.seed}.jsonl")

    val shape = Seq(
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "trace" -> a.trace, "cores" -> Runtime.getRuntime.availableProcessors,
      "local_k" -> a.cores,
      "shuffle_partitions" ->
        spark.conf.get("spark.sql.shuffle.partitions"),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "gc" -> Probe.collectors,
      "java" -> System.getProperty("java.version"),
      "spark" -> spark.version, "scala" -> util.Properties.versionString)
    val detail = Seq(
      "shape" -> shape.toMap,
      "ops" -> n, "untraced_ops" -> plain.size, "op_ms" -> lat,
      "ops_per_s" -> n / wallS,
      "op_tail_pct" -> tailPct, "op_tail_beyond" -> beyond,
      "session_s" -> sessionS, "inputs_s" -> rounds, "warm_up_s" -> warmS,
      "checks_s" -> checkNs / 1e9,
      // what could set a JVM's speed apart from the next: compile time,
      // collections, process CPU against wall time, and the machine's
      // load, all over the timed phase
      "timed_phase" -> timed.fields(wallS + checkNs / 1e9),
      "load_avg_1m" -> Seq(before.loadAvg, timed.loadAvg),
      "read_ops" -> plainReads.size,
      "read_p50_ms" -> (if (plainReads.isEmpty) None
        else Some(Stats.median(plainReads))),
      "read_tail_ms" -> (if (plainReads.isEmpty) None
        else Some(Stats.tail(plainReads)._1)),
      "end_state" -> end.toMap,
      "failures" -> failures.take(5))
    println("[nhlbench] detail " + Json.obj(detail))
    failures.take(5).foreach(f => System.err.println(s"[nhlbench] $f"))

    val metrics =
      if (!a.trace) e2e.map { case (k, (v, u)) => k -> Map("value" -> v,
        "unit" -> u) }
      else Layers.all.map { case (k, u) =>
        k -> Map("value" -> layerVals.getOrElse(k, 0.0), "unit" -> u) }
    println(Json.obj(Seq(
      "correct" -> failures.isEmpty, "attempted" -> n,
      "failed" -> failures.size,
      "metrics" -> scala.collection.immutable.ListMap(metrics: _*))))
    System.out.flush()
    if (failures.isEmpty) 0 else 1
  }
}

/** Process counters sampled around the timed phase. */
final case class Probe(jitMs: Long, gcCount: Long, gcMs: Long, cpuMs: Double,
    loadAvg: Double) {
  /** The counters' growth since `p`, with this probe's load average. */
  def minus(p: Probe): Probe = Probe(jitMs - p.jitMs, gcCount - p.gcCount,
    gcMs - p.gcMs, cpuMs - p.cpuMs, loadAvg)

  def fields(wallS: Double): Map[String, Any] = Map("jit_ms" -> jitMs,
    "gc_count" -> gcCount, "gc_ms" -> gcMs, "cpu_ms" -> cpuMs,
    "cpu_per_wall" -> cpuMs / (wallS * 1000))
}

object Probe {
  import scala.jdk.CollectionConverters._

  /** The collectors in use, for the detail line. */
  def collectors: Seq[String] =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getName).toSeq

  def take(): Probe = {
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val os = ManagementFactory.getOperatingSystemMXBean
    val cpuNs = os match {
      case x: com.sun.management.OperatingSystemMXBean => x.getProcessCpuTime
      case _ => 0L
    }
    Probe(ManagementFactory.getCompilationMXBean.getTotalCompilationTime,
      gcs.map(_.getCollectionCount).sum, gcs.map(_.getCollectionTime).sum,
      cpuNs / 1e6, os.getSystemLoadAverage)
  }
}
