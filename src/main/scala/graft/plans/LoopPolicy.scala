package graft.plans

import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}

/**
 * The loop policy of the iterative operators (`Dedup.components`,
 * `Clump.clump`, `Clump.sieveFixpoint`, `Flow.routing`,
 * `Flow.accumulation`): when a loop hands its state to a single-task
 * kernel, and how a distributed round cuts its lineage.
 *
 * LOCAL FINISH: each operator runs the two-phase MapReduce design —
 * distributed rounds while the loop state is big, then ONE single-task
 * kernel (union-find, sieve replay, pointer chase, Kahn sweep) once the
 * state fits a task. The bound is the session setting
 * `spark.graft.localFinishRows` (default 2M rows ≈ tens of MB of
 * longs). `0` forces the distributed loops everywhere; because the key
 * starts with `spark.`, a JVM flag `-Dspark.graft.localFinishRows=0`
 * reaches a whole session with no code change. The decision is taken
 * when the operator is CALLED (it counts its input eagerly), so a
 * setting changed later does not affect frames already built.
 */
object LoopPolicy {

  val LocalFinishRows = "spark.graft.localFinishRows"

  private val DefaultLocalFinishRows = 2000000L

  /** Whether relations of these row counts all fit the session's
    * local-finish bound (never true under a bound of 0). */
  def fitsLocal(spark: SparkSession, rows: Long*): Boolean = {
    val bound = spark.conf.getOption(LocalFinishRows)
      .fold(DefaultLocalFinishRows)(_.toLong)
    bound > 0 && rows.forall(_ <= bound)
  }

  /**
   * Materialize one round's loop state and cut its lineage: a reliable
   * checkpoint when the operator was given a `checkpointDir` (any Hadoop
   * FS, so round snapshots survive executor loss on a cluster), else a
   * `localCheckpoint` (executor blocks; fine single-node).
   *
   * resetStats: a checkpoint's LogicalRDD CARRIES the pre-checkpoint
   * plan's size estimate, and the loops' self-joins would square it
   * every round (the digit count doubles, and Catalyst grinds
   * million-digit BigIntegers in join selection by round ~20; see the
   * GraftBridge doc).
   */
  def truncate(df: DataFrame, checkpointDir: Option[String]): DataFrame =
    GraftBridge.resetStats(
      if (checkpointDir.isDefined) df.checkpoint() else df.localCheckpoint())
}
