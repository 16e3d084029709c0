package graft.ops

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

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
  * The SINGLE-TASK ARM ([[local]]): an iterative operator whose input
  * the optimizer estimates at most [[LocalRows]] rows (for the plan or
  * for the leaves it reads, as a join's estimate multiplies its
  * children's) stops paying a Spark job, driver planning and a
  * truncation barrier per round. Its input, projected to long
  * columns, goes to one task (`coalesce(1)`)
  * that counts the rows and runs the WHOLE operator in memory — the
  * same algorithm, round counts and refusals as the distributed
  * rounds — and at most [[LocalRows]] rows come back with that one
  * job, as a local relation on the driver. The call is one Spark job,
  * the caller's collect included, and operators over two id columns
  * share one plan shape, so a cold JVM compiles it once.
  * Reliable-checkpoint mode has nothing left to truncate there: the
  * result has no lineage and no executor blocks, so no executor loss
  * can take it. An input above the estimate, with non-integral ids,
  * or that the kernel declines (a null id, more rows than the cap)
  * runs the distributed rounds unchanged. `ListRank.ranks`,
  * `ListRank.cycleLabels`, `Scc.components` and
  * `Connect.largeStarRounds` use it; SCALE.md's `local_arm` reading
  * (ScaleBench block `local_arm`) records the crossover the cap is
  * set by.
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
        df.persist(StorageLevel.MEMORY_AND_DISK)
        // capStats: Spark copies the ORIGIN plan's statistics through
        // the checkpoint, so iterative self-joins square sizeInBytes
        // every round — by round ~25 the stats visitor grinds on
        // million-digit BigIntegers; capping bounds the product while
        // keeping small-state broadcast planning (see Bridge.capStats)
        try Bridge.capStats(df.checkpoint(eager = true))
        finally df.unpersist(blocking = false)
      case None =>
        Bridge.capStats(df.localCheckpoint(eager = true))
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

  /** Thrown by a kernel that cannot finish its input in memory (a
    * duplicate id the relational join would multiply): the caller runs
    * the distributed rounds instead. */
  case object Decline extends RuntimeException
    with scala.util.control.NoStackTrace

  /** What a kernel hands back: its output columns, the rounds it ran
    * and whether they converged. */
  final case class Out(cols: Seq[Array[Long]], rounds: Int = 0,
      done: Boolean = true)

  /** Run `kernel` over all of `in` in ONE task — it gets one long array
    * per column — and hand back its output as a local relation of
    * `out` (the kernel's longs cast to its types), with its [[Out]]. A
    * `require` failing in the kernel is raised here. Tried only when
    * every column is integral and the optimizer estimates at most
    * `cap` rows, for the plan or for the leaves it reads. Left is the
    * input for the distributed rounds, typed like `in`: `in` when not
    * tried, or — after a null, more than `cap` rows or a [[Decline]] —
    * the rows the attempt's job kept in executor memory, so `in`'s
    * plan never runs twice. Those rows stay persisted while the frame
    * is reachable, as the rounds may read them late (large-star's node
    * list does); Spark's ContextCleaner unpersists them after that. */
  def local(in: DataFrame, out: StructType, cap: Long)(
      kernel: Array[Array[Long]] => Out): Either[DataFrame, (DataFrame, Out)] = {
    val integral = in.schema.forall(_.dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    })
    if (!integral) return Left(in)
    val longs = in.select(cast(StructType(in.schema.map(
      _.copy(dataType = LongType)))): _*)
    // the optimizer's row estimate: its row count, else size over
    // width. A join's estimate multiplies its children's, so an input
    // built by joins reads far above the cap however small it is; the
    // leaves the plan reads are not inflated that way, and past the
    // cap the task declines on its own count
    def rowsOf(p: LogicalPlan): BigInt = p.stats.rowCount.getOrElse(
      p.stats.sizeInBytes / EstimationUtils.getSizePerRow(p.output))
    val plan = longs.queryExecution.optimizedPlan
    if (rowsOf(plan).min(plan.collectLeaves().map(rowsOf).sum) > cap)
      return Left(in)
    val rows = longs.queryExecution.toRdd.map(_.copy())
      .persist(StorageLevel.MEMORY_AND_DISK)
    val width = in.columns.length
    // None: declined; Left: a refusal's message
    def run(it: Iterator[InternalRow]): Option[Either[String, Out]] = {
      val cols = Array.fill(width)(mutable.ArrayBuilder.make[Long])
      var n = 0L
      try {
        it.foreach { r =>
          n += 1
          if (n > cap) throw Decline
          (0 until width).foreach { i =>
            if (r.isNullAt(i)) throw Decline
            cols(i) += r.getLong(i)
          }
        }
        Some(Right(kernel(cols.map(_.result()))))
      } catch {
        case Decline => None
        case e: IllegalArgumentException => Some(Left(e.getMessage))
      }
    }
    val one = rows.coalesce(1)
    // a zero-partition input still runs the kernel once (on the
    // driver, over no rows): callers read round counts off it
    val got = if (one.partitions.isEmpty) run(Iterator.empty)
      else one.mapPartitions(it => Iterator.single(run(it))).collect().head
    val spark = in.sparkSession
    got match {
      case None =>
        Left(Bridge.ofRows(spark, LogicalRDD(
            DataTypeUtils.toAttributes(longs.schema), rows)(
            spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
            Some(plan.stats)))
          .select(cast(in.schema): _*))
      case Some(res) =>
        rows.unpersist(blocking = false)
        val o = res.fold(msg => throw new IllegalArgumentException(msg),
          identity)
        val rel = LocalRelation(DataTypeUtils.toAttributes(
            StructType(out.map(_.copy(dataType = LongType)))),
          (0 until o.cols.headOption.fold(0)(_.length)).map(j =>
            InternalRow.fromSeq(o.cols.map(_(j)))))
        Right((Bridge.ofRows(spark, rel).select(cast(out): _*), o))
    }
  }

  private def cast(to: StructType) =
    to.map(f => col(f.name).cast(f.dataType).as(f.name))

  /** Order-independent 64-bit mix for edge-set checksums accumulated
    * across tasks (Java long addition wraps, so per-row mixes sum to
    * a stable commutative checksum). */
  def mix(a: Long, b: Long): Long = {
    var x = a * 0x9E3779B97F4A7C15L + (b ^ 0xC2B2AE3D27D4EB4FL)
    x ^= (x >>> 31)
    x * 0xFF51AFD7ED558CCDL
  }

  /** ceil(log2 n); 0 for n <= 1. */
  def ceilLog2(n: Long): Int =
    if (n <= 1) 0 else 64 - java.lang.Long.numberOfLeadingZeros(n - 1)
}
