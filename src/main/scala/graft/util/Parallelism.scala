package graft.util

import org.apache.spark.sql.SparkSession

/** Partition-count policy for the engine's EXPLICIT repartitions
  * (guide §2.5 input spreading, §2.2 "fewer, larger partitions").
  *
  * Why not `spark.sql.shuffle.partitions` everywhere: that conf is an
  * admin-sized constant for BYTE-heavy reduce stages. The engine's
  * explicit repartitions are mostly the opposite shape — a small scan
  * fanned out ahead of a compute-heavy narrow chain (address/variant
  * synthesis, the normalize regex chains, k-shingling), where the
  * right task count tracks the CORES the session can actually run.
  * Measured at sf0.1/local[32] (OPTIMIZATION_r06.md): 256-partition
  * spreads make ~150-row tasks whose scheduling cost exceeds their
  * compute several-fold across every stage of the chain.
  *
  * Both knobs are scale-adaptive, never constants, and both are
  * FLOORED at `spark.sql.shuffle.partitions`: `defaultParallelism` is
  * read at plan-build time and under dynamic allocation (or before
  * executors register) it reflects only the cores registered RIGHT
  * NOW — without the floor a cold cluster would fan a large corpus
  * into a handful of partitions ahead of the compute chains the
  * repartition exists to parallelize. The admin-sized conf is the
  * lower bound; the cores term only ever RAISES the count (a session
  * with more cores than the conf was sized for).
  */
object Parallelism {

  /** Partitions for compute-bound input spreading:
    * max(shuffle.partitions, 2 × session cores). */
  def spread(spark: SparkSession): Int =
    math.max(spark.sessionState.conf.numShufflePartitions,
      2 * spark.sparkContext.defaultParallelism)

  /** Partitions for exploding (block/band) join exchanges. */
  def explodingJoin(spark: SparkSession): Int =
    math.max(spark.sessionState.conf.numShufflePartitions,
      2 * spark.sparkContext.defaultParallelism)
}
