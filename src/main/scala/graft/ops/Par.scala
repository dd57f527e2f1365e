package graft.ops

import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, UnaryExecNode}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Parallelism floor for map-side-expensive pipelines.
  *
  * The local corpus (TESTDATA.md) is one parquet file per table with a
  * single row group, so a scan plans 1-3 tasks no matter how many cores the
  * session has — and any per-row kernel downstream (JTS geometry, minhash,
  * array math) runs nearly single-threaded. `fanOut` restores scan-side
  * parallelism by repartitioning (round-robin, or by range on given keys)
  * ONLY when the source collapsed below the session's core count.
  *
  * At production scale this is the identity: a 100 TB table scans as tens of
  * thousands of splits, the condition is false, and no shuffle is added.
  */
object Par {
  /** The initial physical plan — exchanges already inserted by the
    * query-stage preparation rules (EnsureRequirements), nothing executed.
    * Under AQE the executed plan is the adaptive wrapper; reading its
    * `initialPlan` runs no job (the r17 lesson: `.rdd` on an
    * exchange-bearing plan MATERIALIZES every non-final query stage). */
  private[ops] def initialPhysical(df: DataFrame): SparkPlan =
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }

  /** Output width of a shuffle-free physical (sub)plan, computed WITHOUT
    * running a job: unary operators preserve partitioning, a broadcast
    * join's output width is its streamed side's, and a leaf's RDD
    * partition count is known at plan time (creating a scan's input RDD
    * lists files; it never submits a job). Descending only the streamed
    * spine is what keeps this job-free — touching a broadcast build side
    * would trigger the broadcast collect. None = unrecognized shape
    * (fanOut then leaves the plan alone, the pre-r18 behavior for every
    * join shape). */
  private def staticWidth(p: SparkPlan): Option[Int] = p match {
    case b: BroadcastHashJoinExec =>
      // streamedPlan is protected on HashJoin; derive it from buildSide
      staticWidth(b.buildSide match {
        case BuildLeft => b.right
        case BuildRight => b.left
      })
    case b: BroadcastNestedLoopJoinExec =>
      staticWidth(b.buildSide match {
        case BuildLeft => b.right
        case BuildRight => b.left
      })
    case u: UnaryExecNode => staticWidth(u.child)
    case l: LeafExecNode => scala.util.Try(l.execute().getNumPartitions).toOption
    case _ => None
  }

  /** With `keys`, the widen is a range exchange on them instead of
    * round-robin: a pipeline that groups or sorts on those keys
    * downstream (ascending, as `orderBy` does) then finds its clustering
    * and ordering already satisfied, so EnsureRequirements plans no
    * further exchange above it. The decision is the same job-free probe
    * either way; a wide scan is still passed through untouched. */
  def fanOut(df: DataFrame, keys: Column*): DataFrame = {
    val want = df.sparkSession.sparkContext.defaultParallelism
    val plan = initialPhysical(df)
    // A shuffle exchange anywhere in the plan already re-widens the data
    // to the session's shuffle parallelism (or AQE's coalesced sizing),
    // so the single-file-scan collapse fanOut exists to fix cannot
    // survive above one — and probing such a plan is what ran the wasted
    // pass r17 removed. Deciding on the PHYSICAL plan (not a logical
    // heuristic) is the r17-ADVICE fix: a non-global sort
    // (sortWithinPartitions) plans no exchange, and a broadcast-only join
    // plans only a BroadcastExchange on the build side — both leave the
    // probe side as narrow as its scan, and both now get the width probe
    // instead of a silent skip.
    if (plan.collectFirst { case e: ShuffleExchangeLike => e }.isDefined) df
    else staticWidth(plan) match {
      case Some(w) if w < want =>
        if (keys.isEmpty) df.repartition(want) else df.repartitionByRange(want, keys: _*)
      case _ => df
    }
  }

  /** [[fanOut]] for COMPUTE-DENSE kernels (per-row JTS / codec / index
    * probes) that sit directly above an exchange. AQE sizes post-shuffle
    * stages by BYTES (`coalescePartitions.minPartitionSize`), so a
    * relation whose total bytes sit below `cores × minPartitionSize`
    * coalesces to a handful of tasks — correct for byte-bound work,
    * a serialization cliff when the stage's cost is per-row kernel CPU
    * (measured r18: the kNN R-tree probe stage over the 62.5k-slot
    * deduped relation ran 1.4 s on ONE task; 0.1 s wide).
    *
    * The decision is STATS-CONDITIONAL, the same optimizer estimate
    * Catalyst's broadcast selection reads: only a plan whose estimated
    * size is below the AQE serialization threshold gets an explicit
    * round-robin widen — so the repartition it adds only ever moves a
    * relation AQE already considers tiny, and a production-scale input
    * (estimate ≫ threshold) passes through untouched. Exchange-free
    * plans defer to [[fanOut]] (exact width probe, no estimate needed).
    * When AQE coalescing is off the exchange already plans at the
    * session's shuffle width, so this is the identity there too. */
  def widenDense(df: DataFrame): DataFrame = {
    val plan = initialPhysical(df)
    if (plan.collectFirst { case e: ShuffleExchangeLike => e }.isEmpty) fanOut(df)
    else if (denselySmall(df)) df.repartition(df.sparkSession.sparkContext.defaultParallelism)
    else df
  }

  /** [[widenDense]] for a compute-dense operator with a KEY requirement
    * (window / shuffle join): the explicit exchange hash-partitions on
    * the operator's own keys, so EnsureRequirements plans NO further
    * exchange — the widen REPLACES the operator's shuffle rather than
    * stacking one under it. Same stats-conditional guard: identity on
    * estimated-large (production-scale) inputs and when AQE coalescing
    * is off. Key cardinality must exceed the session width to help. */
  def widenDenseBy(df: DataFrame, keys: Column*): DataFrame =
    if (denselySmall(df))
      df.repartition(df.sparkSession.sparkContext.defaultParallelism, keys: _*)
    else df

  /** True when AQE would coalesce this relation's post-shuffle stage
    * below the session width: its optimizer-estimated size (the same
    * signal broadcast selection reads) sits under
    * `cores × coalescePartitions.minPartitionSize`. */
  private def denselySmall(df: DataFrame): Boolean = {
    val spark = df.sparkSession
    val conf = spark.sessionState.conf
    val aqeCoalesces =
      conf.getConfString("spark.sql.adaptive.enabled", "true").toBoolean &&
        conf.getConfString("spark.sql.adaptive.coalescePartitions.enabled", "true").toBoolean
    if (!aqeCoalesces) false
    else {
      val want = spark.sparkContext.defaultParallelism
      val minBytes = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        conf.getConfString("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1MB"))
      df.queryExecution.optimizedPlan.stats.sizeInBytes <= BigInt(want) * minBytes
    }
  }

  /** Width of a TeraSort-device range exchange ([[Ranks.withGlobalRank]],
    * weightedMedian, equidepthBins, the z-order/Hilbert layout writers).
    * A hardcoded literal is a parallelism CEILING: the device's whole
    * argument is "every partition is an equal slice of the sort order at
    * ANY data size", but with a fixed 32-way exchange each slice is a
    * multi-TB single-task sort at 100×. Deriving the width from the
    * session's shuffle parallelism makes the device track the cluster —
    * on a 1000-executor deployment `spark.sql.shuffle.partitions` is
    * sized to the cluster (or AQE coalesces from a high initial value),
    * so the exchange widens with it. `floorAt` preserves each call
    * site's historical minimum so tiny test sessions keep enough
    * partitions for the specs that count them. */
  def rangeWidth(spark: SparkSession, floorAt: Int = 32): Int =
    math.max(floorAt, spark.sessionState.conf.numShufflePartitions)
}
