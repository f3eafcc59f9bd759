package graft

import org.apache.spark.sql.GraftLineage

/** Every lineage cut goes through [[GraftLineage]]: into the
  * SparkContext's checkpoint directory when one is set, executor-local
  * blocks otherwise, with the same rows either way. */
class LineageSpec extends SparkSpec {
  private val sf001 = "/root/testdata/sf0.001"

  /** Registered queries that reach each kind of cut: the exposure pair
    * frame and in-task nodes, the meta-graph and near-dup CC
    * truncations, a shared intermediate, and the entity-rank pin. */
  private val cutQueries = Seq("ltss_geo_exposure", "ltss_geo_convoy_groups_core",
    "dedup_clusters", "ltss_geo_od_zones", "ltss_zorder_layout")

  /** `query`'s rows on a fresh copy of sf0.001, so no frame or layout
    * an earlier run built is read instead of cut. */
  private def rows(query: String): Seq[String] =
    SparkEntry.queries(query)(spark, fixtureCopy(sf001))
      .collect().map(_.toString).toSeq.sorted

  test("cuts go to the checkpoint directory only when one is set") {
    assert(spark.sparkContext.getCheckpointDir.isEmpty,
      "an earlier suite left a checkpoint directory set")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-lineage-ckpt").toString
    for (q <- cutQueries) {
      val local = rows(q)
      val before = filesUnder(ckpt)
      val inDir = withCheckpointDir(ckpt)(rows(q))
      assert(inDir == local, s"$q: rows differ with a checkpoint directory set")
      assert(filesUnder(ckpt) > before, s"$q wrote no checkpoint files into the set directory")
    }
    // the scope restored "no directory": the same queries write nothing
    // more (a reliable checkpoint without a directory would throw)
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
    val after = filesUnder(ckpt)
    cutQueries.foreach(rows)
    assert(filesUnder(ckpt) == after, "checkpoint files written with no directory set")
  }

  /** 100 of 100 000 rows: the origin plan estimates the filter at the
    * size of the whole range. */
  private def sparse = spark.range(100000).toDF("x").filter("x % 1000 = 0")

  test("an eager cut reports its exact row count; a lazy cut keeps the origin estimate") {
    val cut = GraftLineage.cut(sparse, eager = true)
    val stats = cut.queryExecution.optimizedPlan.stats
    assert(stats.rowCount.contains(BigInt(100)))
    assert(stats.sizeInBytes == BigInt(100 * (8 + 8)), "rows × (8 + the long's 8 bytes)")
    assert(cut.count() == 100)
    val lazyCut = GraftLineage.cut(sparse, eager = false)
    assert(lazyCut.queryExecution.optimizedPlan.stats.sizeInBytes ==
      sparse.queryExecution.optimizedPlan.stats.sizeInBytes)
  }

  test("an eager cut runs one job and keeps the built-in checkpoint's leaf") {
    import org.apache.spark.sql.execution.LogicalRDD
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
    val (cut, jobs) = jobsOf(GraftLineage.cut(sparse, eager = true))
    assert(jobs == 1, s"the eager cut ran $jobs jobs")
    val (builtIn, builtInJobs) = jobsOf(sparse.localCheckpoint(eager = true))
    assert(builtInJobs == 1)
    def leaf(df: org.apache.spark.sql.DataFrame) = df.queryExecution.analyzed match {
      case l: LogicalRDD => // attribute ids differ between the two frames
        s"${l.outputPartitioning} ${l.outputOrdering}".replaceAll("#\\d+", "")
      case other => fail(s"not a checkpoint leaf: $other")
    }
    assert(leaf(cut) == leaf(builtIn))
    assert(cut.collect().toSeq.map(_.getLong(0)).sorted ==
      builtIn.collect().toSeq.map(_.getLong(0)).sorted)
  }

  test("release frees the blocks Dataset.unpersist cannot") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val df = GraftLineage.cut(spark.range(1000).toDF("x"), eager = true)
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(added.nonEmpty, "a local cut must register its RDD as persisted")
    // the documented no-op: the blocks belong to the checkpointed RDD,
    // which the CacheManager-backed Dataset.unpersist never sees
    df.unpersist(blocking = true)
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before) == added,
      "Dataset.unpersist must not have released the checkpoint blocks " +
        "(if it did, entityRanks' release can go back to it)")
    assert(GraftLineage.release(df),
      "the cut frame must be recognized via its LogicalRDD plan")
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty,
      "release must deregister the checkpointed RDD")
    // a plain frame is reported unhandled rather than silently 'freed'
    assert(!GraftLineage.release(spark.range(10).toDF("x")))
  }
}
