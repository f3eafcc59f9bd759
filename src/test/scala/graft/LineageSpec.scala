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
