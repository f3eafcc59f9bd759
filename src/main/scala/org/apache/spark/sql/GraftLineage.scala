package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.SortOrder
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, PartitioningCollection, UnknownPartitioning}
import org.apache.spark.sql.classic.{Dataset => ClassicDataset, SparkSession => ClassicSession}
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

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
  * [[cut]] is `Dataset.localCheckpoint`/`checkpoint`, for shared
  * intermediates and the determinism pin of entity ranks. An EAGER cut
  * counts its rows in the job that materializes it and carries HONEST
  * statistics (`rowCount`, rows × flat row width), so
  * `autoBroadcastJoinThreshold` decides every join against it on its real
  * size: a cut keeps its origin plan's estimate otherwise, and that can be
  * five orders of magnitude off (a distinct over a cut read 1.6 GB for
  * 12 KB of rows). A lazy cut keeps the origin statistics.
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
  * [[frameWithRowCount]] is the connected-components half of that trade
  * (r19 VERDICT finding #1: `dedup_semantic` lost its label-frame
  * auto-broadcast and regressed 60%): the loop's convergence job already
  * counts the labels, and re-attaching the same honest statistics an
  * eager cut carries lets Catalyst broadcast a dimension-sized label
  * frame — and refuse a corpus-sized one. */
object GraftLineage {

  /** The partitioning and ordering a `LogicalRDD` over `physical` can
    * carry — a `PartitioningCollection` (join outputs) narrows to its
    * first member, the rule `Dataset.checkpoint` historically applied. An
    * ADAPTIVE plan degrades to unknown and unordered: AQE may still replan
    * its exchanges (coalesce partitions, demote a shuffle) after we read
    * the declared layout, and a leaf that over-promises lets
    * EnsureRequirements skip an exchange the data actually needs. The
    * fixpoint loops all run under `withAqeOff`, so they keep the
    * preserved partitioning where it matters. */
  private def layout(physical: SparkPlan): (Partitioning, Seq[SortOrder]) = physical match {
    case _: AdaptiveSparkPlanExec => (UnknownPartitioning(0), Nil)
    case p => (firstLeaf(p.outputPartitioning), p.outputOrdering)
  }

  private def firstLeaf(p: Partitioning): Partitioning = p match {
    case pc: PartitioningCollection => firstLeaf(pc.partitionings.head)
    case other => other
  }

  /** `rdd` marked for a cut in the deployment's tier: files in the
    * checkpoint directory when one is set, executor-local blocks
    * otherwise. */
  private def marked(rdd: RDD[InternalRow], s: SparkSession): RDD[InternalRow] = {
    if (s.sparkContext.getCheckpointDir.isDefined) rdd.checkpoint() else rdd.localCheckpoint()
    rdd
  }

  private def rebuild(
      df: Dataset[Row], stats: Option[Statistics], mark: Boolean): Dataset[Row] = {
    val s = df.sparkSession.asInstanceOf[ClassicSession]
    val qe = df.queryExecution
    // copy before the block manager sees the rows: unsafe rows are
    // reused buffers, the same defensive copy Dataset.checkpoint makes
    val rdd = if (mark) marked(qe.toRdd.map(_.copy()), s) else qe.toRdd
    val (partitioning, ordering) = layout(qe.executedPlan)
    ClassicDataset.ofRows(s, LogicalRDD(qe.analyzed.output, rdd, partitioning, ordering,
      isStreaming = false, None)(s, stats, None))
  }

  /** `df` with its lineage cut: `Dataset.checkpoint(eager)` when a
    * checkpoint directory is set, `Dataset.localCheckpoint(eager)`
    * otherwise. A lazy cut keeps the origin statistics and is
    * materialized by the next job. An eager cut runs the built-in's one
    * job and builds its leaf, and counts the rows in that job for honest
    * statistics. */
  def cut(df: Dataset[Row], eager: Boolean): Dataset[Row] = {
    val d = df.asInstanceOf[ClassicDataset[Row]]
    val s = d.sparkSession
    if (!eager) return if (s.sparkContext.getCheckpointDir.isDefined) d.checkpoint(false)
      else d.localCheckpoint(false)
    val rows = s.sparkContext.longAccumulator
    SQLExecution.withNewExecutionId(d.queryExecution, Some("checkpoint")) {
      // a result-stage accumulator: retried and speculative attempts do
      // not add to it, so the count is exact
      val rdd = marked(d.queryExecution.executedPlan.execute()
        .map { r => rows.add(1L); r.copy() }, s)
      rdd.doCheckpoint() // the eager job
      val leaf = LogicalRDD.fromDataset(rdd, d, isStreaming = false)
      ClassicDataset.ofRows(s,
        leaf.copy()(s, Some(honest(d.schema, rows.value)), Some(leaf.constraints)))
    }
  }

  /** `rows` rows of `schema`: size = rows × flat row width from the
    * schema's default sizes. */
  private def honest(schema: org.apache.spark.sql.types.StructType, rows: Long): Statistics =
    Statistics(rowCount = Some(BigInt(math.max(0L, rows))), sizeInBytes =
      BigInt(math.max(1L, rows * (8L + schema.map(_.dataType.defaultSize).sum))))

  /** `df` truncated: its RDD marked for checkpointing (materialized
    * lazily by the caller's next job) and wrapped in a new `LogicalRDD`
    * leaf with NO origin stats but the pre-checkpoint plan's output
    * partitioning and ordering intact — the per-round reset for
    * fixpoint loops. */
  def truncate(df: Dataset[Row]): Dataset[Row] = rebuild(df, None, mark = true)

  /** `df` as a new `LogicalRDD` leaf (no checkpoint marking — the
    * plan already sits on truncated blocks) carrying the honest
    * statistics of an eager [[cut]] for a known row count — the
    * post-convergence re-attach of connected components, which restores
    * auto-broadcast for dimension-sized labels without reviving the
    * in-loop compounding. */
  def frameWithRowCount(df: Dataset[Row], rows: Long): Dataset[Row] =
    rebuild(df, Some(honest(df.schema, rows)), mark = false)

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
