package perfbench

import graft.SparkEntry
import graft.operators._

/** The closed-loop query workloads: one client runs the mix in a seeded
  * order, each result fully materialized by a `noop` write. */
object QueryMix {

  final case class Mix(
      name: String,
      /** Fixture scale directory under the data dir. */
      scale: String,
      tables: Seq[String],
      queries: Seq[String],
      /** Artifact builds a deployment runs ahead of queries (ingest-written
        * layouts, shared signature caches), timed as set-up. */
      artifacts: Seq[(String, (org.apache.spark.sql.SparkSession, String) => Any)])

  /** LTSS reads in the SQL-sensor / Grafana pattern: small results, so the
    * per-query fixed cost (planning, job launch, scan) dominates. */
  val Dashboard = Mix("dashboard", "sf0.01", Seq("events"),
    Seq("ltss_latest", "ltss_history", "ltss_history_layout", "ltss_filter",
      "ltss_json_attr", "ltss_json_attr_layout", "ltss_time_bucket",
      "ltss_geo", "ltss_geo_bbox",
      "ltss_cagg", "ltss_state_timeline", "ltss_transitions",
      "ltss_percentiles", "ltss_downsample_m4", "ltss_gapfill_locf", "ltss_sessionize"),
    Seq(
      "ltss_layout" -> ((s, d) => Queries.ltssLayoutPath(s, d)),
      "ltss_attr_layout" -> ((s, d) => Queries.ltssAttrLayoutPath(s, d)),
      "cagg_layout" -> ((s, d) => TimeSeries.caggLayoutPath(s, d))))

  /** Heavy jobs: the cap-and-route queries at their default caps and the
    * persisted-artifact consumers. `ltss_geo_exposure` is left out: its
    * DuckDB oracle runs for more than five minutes at this scale. */
  val Batch = Mix("batch", "sf0.01", Seq("events", "documents", "embeddings"),
    Seq("dedup_clusters", "dedup_allpairs", "ltss_geo_hausdorff", "ltss_anomaly_mad",
      "text_rank",
      "dedup_minhash_lsh", "sim_ivf_kmeans", "text_bm25", "sample_importance"),
    Seq(
      "dedup_bands" -> ((s, d) => Dedup.warmShared(s, d)),
      "inv_index" -> ((s, d) => TextOps.invIndexPath(s, d))))

  private val moduleOf: Map[String, String] = Seq(
    "Queries" -> Queries.all, "TimeSeries" -> TimeSeries.all, "Relational" -> Relational.all,
    "TextOps" -> TextOps.all, "Dedup" -> Dedup.all, "Similarity" -> Similarity.all,
    "Pq" -> Pq.all, "Multimodal" -> Multimodal.all, "Sampling" -> Sampling.all,
    "Pipeline" -> Pipeline.all, "Retrieval" -> Retrieval.all)
    .flatMap { case (m, qs) => qs.map(_.name -> s"operators.$m") }.toMap

  private def persisted(c: Ctx): Set[Int] = c.sc.getPersistentRDDs.keySet.toSet

  private def cacheMb(c: Ctx): Double =
    c.sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / (1024.0 * 1024.0)

  def run(c: Ctx, mix: Mix): Unit = {
    val spark = c.spark
    val src = s"${c.dataDir}/${mix.scale}"
    var ds = ""
    var layoutDirs = Seq.empty[String]
    var cacheBefore = 0.0
    val artifactS = scala.collection.mutable.LinkedHashMap.empty[String, Seq[Double]]
    for (i <- 0 until Main.Setups) {
      ds = s"${c.work}/ds$i"
      cacheBefore = cacheMb(c)
      val (dirs, s) = Main.timed(c.trace.span("harness", "setup") {
        c.trace.span("harness", "stage")(Main.stageTables(c, src, ds, mix.tables))
        mix.artifacts.map { case (name, build) =>
          val (r, t) = Main.timed(c.trace.span("CachedFrames/ScratchDirs", name)(build(spark, ds)))
          artifactS(name) = artifactS.getOrElse(name, Nil) :+ t
          r
        }.collect { case p: String => p }
      })
      layoutDirs = dirs
      c.setupS += s
    }
    // The first pass warms the JIT and the lazily built artifacts, and its
    // results are what the oracle checks; it is not timed.
    val warmS = Main.timed(mix.queries.foreach { q =>
      try {
        val path = s"${c.work}/results/$q"
        c.trace.span("harness", s"check/$q")(Main.dumpResult(SparkEntry.queries(q)(spark, ds), path))
        c.oracle(q) = Map("sql" -> SparkEntry.oracleSql.getOrElse(q, ""), "path" -> path)
      } catch { case e: Throwable => c.fail(s"check/$q", e) }
    })._2
    c.info("warm_pass_s") = warmS
    c.oracleTables = mix.tables.map(t => t -> s"$ds/$t.parquet/*.parquet").toMap
    // the k-means and PQ oracles replay the fixture geometry; they hold
    // only where the program trains that geometry
    if (mix.tables.contains("embeddings") &&
        !(Similarity.fixtureOracleValid(spark, ds) && Pq.fixtureOracleValid(spark, ds)))
      c.mismatches += "embeddings: the oracle geometry does not hold for this corpus"

    val perQuery = scala.collection.mutable.LinkedHashMap.empty[String, Seq[Map[String, Double]]]
    c.beginMeasure("measure")
    // whole passes, each in a seeded order, so every query has the same
    // number of samples and the figures do not depend on where the run's
    // seconds end; at least three, so each query's median CPU time rests
    // on three samples
    var passes = 0
    def elapsed = (System.nanoTime() - c.measureStartNs) / 1e9
    while (passes < 3 || elapsed < c.seconds) {
      c.rng.shuffle(mix.queries).foreach { q =>
        perQuery(q) = perQuery.getOrElse(q, Nil) ++ runOp(c, q, ds)
      }
      passes += 1
    }
    c.endMeasure()
    c.opsPerS = (c.attempted - c.failed) / ((c.measureEndNs - c.measureStartNs) / 1e9)
    c.info("passes") = passes
    c.footprintMb =
      if (mix.name == "batch") cacheMb(c) - cacheBefore
      else layoutDirs.map(Main.dirBytes).sum / (1024.0 * 1024.0)
    if (c.trace.enabled) {
      perQuery.foreach { case (q, recs) =>
        def med(k: String) = Stats.median(recs.map(_(k)))
        if (mix.name == "dashboard") {
          c.layers(s"dash.$q.plan_s") = med("plan_s")
          c.layers(s"dash.$q.exec_s") = med("exec_s")
          c.layers(s"dash.$q.exchanges") = med("exchanges")
        } else c.layers(s"batch.${q}_s") = med("total_s")
      }
      artifactS.foreach { case (a, ts) => c.layers(s"setup.${a}_s") = Stats.median(ts) }
      c.layers("cache.frames") = c.sc.getPersistentRDDs.size
      c.layers("cache.builds") = c.opsDetail.map(_("cache_builds")).sum
    }
  }

  /** One measured query; returns its detail record when traced. */
  private def runOp(c: Ctx, q: String, ds: String): Seq[Map[String, Double]] = {
    c.attempted += 1
    val fn = SparkEntry.queries(q)
    try c.cpuOf(q) {
      if (!c.trace.enabled) {
        val (_, s) = Main.timed(Main.noop(fn(c.spark, ds)))
        c.latency += ((s, 1.0))
        Nil
      } else {
        val before = persisted(c)
        val module = moduleOf.getOrElse(q, "operators")
        var planS, execS = 0.0
        var nEx = 0
        val (_, total) = Main.timed(c.trace.span("SparkEntry.queries", q) {
          val df = c.trace.span(module, s"$q/build")(fn(c.spark, ds))
          val (plan, p) = Main.timed(c.trace.span("plans", s"$q/executedPlan")(df.queryExecution.executedPlan))
          planS = p
          nEx = Main.exchanges(plan)
          execS = Main.timed(c.trace.span(module, s"$q/noop")(Main.noop(df)))._2
        })
        c.latency += ((total, 1.0))
        val d = Map("plan_s" -> planS, "exec_s" -> execS, "exchanges" -> nEx.toDouble,
          "total_s" -> total, "cache_builds" -> (persisted(c) -- before).size.toDouble)
        c.opsDetail += d
        Seq(d)
      }
    } catch { case e: Throwable => c.fail(q, e); Nil }
  }
}

object Stats {
  /** The mean over operation kinds of each kind's median. */
  def meanOfMedians(kinds: Seq[Seq[Double]]): Double =
    if (kinds.isEmpty) 0.0 else kinds.map(median).sum / kinds.size

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}
