package graft.ops

import scala.util.control.NoStackTrace

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.types._

/** Lineage truncation for iterative operators (connected components,
  * k-means, PQ codebook training): each round's result must cut the
  * exponentially growing plan or the optimizer re-walks the whole
  * history every iteration.
  *
  * Two modes:
  *  - `checkpointDir = None` (default): `localCheckpoint` — executor-
  *    local blocks, fastest, the right choice for a single-JVM
  *    sandbox or short-lived jobs. NOT fault-tolerant: losing an
  *    executor loses the blocks and the lineage needed to recompute
  *    them is gone.
  *  - `checkpointDir = Some(dir)`: RELIABLE checkpoint — materialized
  *    to the (typically HDFS/S3) directory, survives executor loss.
  *    The 100 TB posture for long iterative jobs; costs a
  *    write+read per round.
  *
  * The SINGLE-TASK ARM ([[local]]): an iterative operator whose
  * relation is at most [[LocalRows]] rows stops paying a Spark job,
  * driver planning and a truncation barrier per round. It hands the
  * relation to one task (`coalesce(1)` → `mapPartitions`) that runs
  * the SAME algorithm in memory — same round counts, same refusals —
  * and truncates the result like any round, so reliable-checkpoint
  * mode still holds. Nothing is collected to the driver and per-task
  * state is bounded by the cap; relations above it run the
  * distributed rounds unchanged. `ListRank.ranks`,
  * `ListRank.cycleLabels`, `Scc.components` and
  * `Connect.largeStarRounds` switch to it; SCALE.md's `local_arm`
  * reading (ScaleBench block `local_arm`) records the crossover the
  * cap is set by.
  */
private[graft] object Iter {

  def truncate(df: DataFrame, checkpointDir: Option[String]): DataFrame =
    checkpointDir match {
      case Some(dir) =>
        val sc = df.sparkSession.sparkContext
        // setCheckpointDir appends a UUID subdir; only (re)set when
        // the configured root changes — compared as qualified paths
        // (a substring test kept `/x/ck2/<uuid>` for a later `/x/ck`)
        val root = {
          val p = new Path(dir)
          p.getFileSystem(sc.hadoopConfiguration).makeQualified(p)
        }
        if (!sc.getCheckpointDir.exists(new Path(_).getParent == root))
          sc.setCheckpointDir(dir)
        // RDD checkpointing runs TWO jobs over the plan (materialize,
        // then write); persist first so the write pass reads cached
        // partitions instead of recomputing the round's joins — this
        // also keeps convergence accumulators single-counted
        df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // capStats: Spark copies the ORIGIN plan's statistics through
        // the checkpoint, so iterative self-joins square sizeInBytes
        // every round — by round ~25 the stats visitor grinds on
        // million-digit BigIntegers; capping bounds the product while
        // keeping small-state broadcast planning (see Bridge.capStats)
        try org.apache.spark.sql.graft.Bridge.capStats(
          df.checkpoint(eager = true))
        finally df.unpersist(blocking = false)
      case None =>
        org.apache.spark.sql.graft.Bridge.capStats(
          df.localCheckpoint(eager = true))
    }

  /** [[truncate]] plus the relation's row count, taken by an
    * accumulator on the materializing pass (the Connect idiom) — no
    * count job. */
  def truncateCounted(df: DataFrame, checkpointDir: Option[String])
      : (DataFrame, Long) = {
    val n = df.sparkSession.sparkContext.longAccumulator("graft.iter.rows")
    val counted = df.mapPartitions { it =>
      it.map { r => n.add(1L); r }
    }(Encoders.row(df.schema))
    (truncate(counted, checkpointDir), n.value)
  }

  /** The single-task arm's cap: an operator finishes in one task when
    * the relation it iterates over has at most this many rows. A
    * constant, not a conf — SCALE.md records the crossover measured
    * for it. */
  val LocalRows: Long = 1L << 17

  /** A refusal raised inside a single-task kernel; the driver rethrows
    * it as the `require` failure the distributed rounds raise. */
  final case class Refusal(msg: String) extends RuntimeException(msg)
    with NoStackTrace

  /** The single-task form of `require`. */
  def refuse(ok: Boolean, msg: => String): Unit =
    if (!ok) throw Refusal(msg)

  /** Thrown by a kernel that cannot finish its input within its
    * bound (a null id, or a state that would outgrow both its input
    * and [[LocalRows]]): the caller runs the distributed rounds
    * instead. */
  case object Decline extends RuntimeException with NoStackTrace

  /** True when every named column is an integral type — the ids the
    * kernels read as longs (other types run the distributed rounds). */
  def integral(df: DataFrame, cols: String*): Boolean =
    cols.forall(c => df.schema(c).dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    })

  /** Run `kernel` over all of `df` in ONE task and truncate its output
    * (schema `schema`) — the round's job is the only job. A
    * [[Refusal]] comes back through an accumulator read after the
    * eager truncate and is raised here as an IllegalArgumentException;
    * a [[Decline]] returns None. The kernel runs exactly once even
    * over a zero-partition relation, since callers read round counts
    * off its accumulators. */
  def local(df: DataFrame, schema: StructType,
      checkpointDir: Option[String])(kernel: Iterator[Row] => Seq[Row])
      : Option[DataFrame] = {
    val spark = df.sparkSession
    val sc = spark.sparkContext
    val refused = sc.collectionAccumulator[String]("graft.local.refused")
    val declined = sc.longAccumulator("graft.local.declined")
    val in = df.rdd.coalesce(1)
    val one = if (in.getNumPartitions == 1) in
      else sc.parallelize(Seq.empty[Row], 1)
    val out = truncate(spark.createDataFrame(one.mapPartitions { it =>
      try kernel(it).iterator catch {
        case Refusal(m) => refused.add(m); Iterator.empty
        case Decline => declined.add(1L); Iterator.empty
      }
    }, schema), checkpointDir)
    require(refused.isZero, refused.value.get(0))
    if (declined.isZero) Some(out) else None
  }

  /** Order-independent 64-bit mix for edge-set checksums accumulated
    * across tasks (Java long addition wraps, so per-row mixes sum to
    * a stable commutative checksum). */
  def mix(a: Long, b: Long): Long = {
    var x = a * 0x9E3779B97F4A7C15L + (b ^ 0xC2B2AE3D27D4EB4FL)
    x ^= (x >>> 31)
    x * 0xFF51AFD7ED558CCDL
  }
}
