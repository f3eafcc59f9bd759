package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, PartitioningCollection}
import org.apache.spark.sql.classic.{Dataset => ClassicDataset, SparkSession => ClassicSession}
import org.apache.spark.sql.execution.LogicalRDD

/** The one module that cuts lineage, and the lineage/statistics surgery
  * for iterative loops — the one place this repo reaches into Spark's
  * `private[sql]` surface (hence the package).
  *
  * STORAGE TIER: every cut writes `RDD.checkpoint` files under the
  * SparkContext's checkpoint directory when the deployment set one —
  * Spark's own `spark.checkpoint.dir` or `setCheckpointDir` — and
  * executor-local blocks (`localCheckpoint`) otherwise. A local cut's blocks
  * live only on their executor, so losing one kills the job instead of
  * recomputing; a cluster deployment sets the directory (SCALING.md
  * "Lineage cuts and executor loss" lists every cut site).
  *
  * [[cut]] is `Dataset.localCheckpoint`/`checkpoint`: it keeps the
  * origin plan's statistics, for shared intermediates and the
  * determinism pin of entity ranks.
  *
  * [[truncate]] is the per-round cut of fixpoint loops (r19, found by
  * the folded-10× convoy probe melting the driver): the built-in
  * checkpoint's `LogicalRDD` PRESERVES the origin plan's CBO statistics,
  * and the size-only estimator (`SizeInBytesOnlyStatsPlanVisitor`)
  * multiplies join children, so a round that joins a frame with a
  * projection OF ITSELF (the pointer-doubling step of
  * [[graft.operators.Dedup.connectedComponents]]) SQUARES `sizeInBytes`
  * every iteration (measured: 11 bits → 2.4 MILLION bits by iteration
  * 18; jstack: 1 011 s of 1 150 s wall inside
  * `BigInteger.multiplyToomCook3` on the DRIVER). `truncate` marks the
  * frame's `InternalRow` RDD for checkpointing and wraps it in a NEW
  * `LogicalRDD` with NO origin stats, so the compounding resets every
  * round. It also keeps the partitioning and ordering of the
  * pre-checkpoint physical plan, which the built-in checkpoint drops
  * (`UnknownPartitioning` in every eager/lazy × AQE mode on this Spark,
  * so every iteration re-shuffled frames the loop had JUST
  * hash-repartitioned — r19 ADVICE). The trade: joins against a
  * truncated frame won't auto-broadcast (size reads as leaf-default) —
  * right INSIDE a hand-partitioned fixpoint loop, its only caller.
  *
  * [[frameWithRowCount]] is the other half of that trade (r19 VERDICT
  * finding #1: `dedup_semantic` lost its label-frame auto-broadcast and
  * regressed 60%): once the caller knows the exact row count,
  * re-attaching an honest `Statistics(rows × width, rows)` lets
  * Catalyst auto-broadcast a dimension-sized frame at every consumer —
  * and, just as honestly, refuse to broadcast a corpus-sized one. */
object GraftLineage {

  /** The partitioning a `LogicalRDD` can carry — a
    * `PartitioningCollection` (join outputs) narrows to its first
    * member, the rule `Dataset.checkpoint` historically applied. An
    * ADAPTIVE plan degrades to unknown: AQE may still replan its
    * exchanges (coalesce partitions, demote a shuffle) after we read
    * the declared partitioning, and a leaf that over-promises lets
    * EnsureRequirements skip an exchange the data actually needs. The
    * fixpoint loops all run under `withAqeOff`, so they keep the
    * preserved partitioning where it matters. */
  private def declaredPartitioning(
      physical: org.apache.spark.sql.execution.SparkPlan): Partitioning =
    physical match {
      case _: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        org.apache.spark.sql.catalyst.plans.physical.UnknownPartitioning(0)
      case p => firstLeaf(p.outputPartitioning)
    }

  private def firstLeaf(p: Partitioning): Partitioning = p match {
    case pc: PartitioningCollection => firstLeaf(pc.partitionings.head)
    case other => other
  }

  /** The deployment set a checkpoint directory: cuts go to it. */
  private def toDir(s: SparkSession): Boolean =
    s.sparkContext.getCheckpointDir.isDefined

  private def rebuild(
      df: Dataset[Row], stats: Option[Statistics], mark: Boolean): Dataset[Row] = {
    val s = df.sparkSession.asInstanceOf[ClassicSession]
    val qe = df.queryExecution
    val physical = qe.executedPlan
    // copy before the block manager sees the rows: unsafe rows are
    // reused buffers, the same defensive copy Dataset.checkpoint makes
    val rdd = if (!mark) qe.toRdd else {
      val r = qe.toRdd.map(_.copy())
      if (toDir(s)) r.checkpoint() else r.localCheckpoint()
      r
    }
    val ordering = physical match { // same AQE caveat as the partitioning
      case _: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        Nil
      case p => p.outputOrdering
    }
    val plan = LogicalRDD(
      qe.analyzed.output, rdd, declaredPartitioning(physical),
      ordering, isStreaming = false, None)(s, stats, None)
    ClassicDataset.ofRows(s, plan)
  }

  /** `df` with its lineage cut, exactly `Dataset.checkpoint(eager)`
    * (directory set) or `Dataset.localCheckpoint(eager)`: origin
    * statistics kept, a lazy cut materialized by the next job. */
  def cut(df: Dataset[Row], eager: Boolean): Dataset[Row] =
    if (toDir(df.sparkSession)) df.checkpoint(eager) else df.localCheckpoint(eager)

  /** `df` truncated: its RDD marked for checkpointing (materialized
    * lazily by the caller's next job) and wrapped in a new `LogicalRDD`
    * leaf with NO origin stats but the pre-checkpoint plan's output
    * partitioning and ordering intact — the per-round reset for
    * fixpoint loops. */
  def truncate(df: Dataset[Row]): Dataset[Row] = rebuild(df, None, mark = true)

  /** `df` as a new `LogicalRDD` leaf (no checkpoint marking — the
    * plan usually already sits on truncated blocks) carrying HONEST
    * statistics for a known row count (size = rows × flat row width
    * from the schema's default sizes) — the post-convergence re-attach
    * that restores auto-broadcast for dimension-sized results without
    * reviving the in-loop compounding. */
  def frameWithRowCount(df: Dataset[Row], rows: Long): Dataset[Row] = {
    val width = 8L + df.schema.map(_.dataType.defaultSize.toLong).sum
    rebuild(df, Some(Statistics(
      sizeInBytes = BigInt(math.max(1L, rows * width)),
      rowCount = Some(BigInt(math.max(0L, rows))))), mark = false)
  }

  /** Eagerly free the block storage behind a [[cut]] frame.
    * `Dataset.unpersist` is a NO-OP for these: the blocks belong to the
    * underlying RDD's checkpoint data, which is never registered with
    * the CacheManager that `unpersist` consults. The cut Dataset's plan
    * is a `LogicalRDD` wrapping exactly that RDD — unpersisting IT
    * releases the blocks now instead of waiting for the driver GC +
    * ContextCleaner. Files in the checkpoint directory stay on disk unless
    * `spark.cleaner.referenceTracking.cleanCheckpoints` is set. Returns
    * true when a cut frame was found and released (false = not a cut
    * frame — the caller's plan shape changed, worth an assertion in
    * specs). */
  def release(ds: Dataset[_]): Boolean = ds match {
    case d: ClassicDataset[_] =>
      d.queryExecution.analyzed match {
        case l: LogicalRDD =>
          l.rdd.unpersist(blocking = false)
          true
        case _ => false
      }
    case _ => false
  }
}
