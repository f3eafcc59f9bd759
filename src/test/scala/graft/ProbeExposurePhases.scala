package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** r20 measurement probe (guide §1: measure first): phase breakdown of
  * [[graft.operators.Queries.exposureFrame]] — the suite's two most
  * expensive queries (ltss_geo_exposure 11.5 s, _filtered 15.2 s in
  * BENCH_r20_full) share this engine. Phases timed separately, each on
  * a warm session with the shared contact-pair frame pre-materialized:
  *   pairs  — (filtered) pair-frame materialization (shared-cache read)
  *   cc     — connectedComponents over the edge set
  *   bfs    — the hop BFS (6-layer rounds) from each component seed
  *   final  — comp/span joins + order of the presented frame
  * The numbers decide whether the BFS round loop (driver round-trips ×
  * eccentricity/6) or the CC is the cost center before any rewrite. */
object ProbeExposurePhases {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.plans.GraftExtensions.install(spark)
    spark.range(1000).selectExpr("sum(id)").collect()
    def t[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = body
      println(f"PHASE $name%-28s ${(System.nanoTime() - t0) / 1e9}%8.3f s")
      r
    }
    t("warm contact_pair_hours")(
      graft.operators.Queries.contactPairHourFrame(spark, sfDir).count())
    t("warm contact_pairs")(
      graft.operators.Queries.contactPairFrame(spark, sfDir).count())

    for ((tag, edgeFilter) <- Seq(
        ("unfiltered", None),
        ("filtered", Some(col("n_contacts") >= 2L && col("min_d2") <= 32.0)))) {
      println(s"== exposure [$tag] ==")
      val pairs = t(s"$tag pairs") {
        val p = edgeFilter
          .foldLeft(graft.operators.Queries.contactPairFrame(spark, sfDir))(
            (f, c) => f.filter(c))
          .select(col("id_lo"), col("id_hi"), col("first_contact"),
            col("last_contact"))
        p.count()
        p
      }
      val edges = pairs.select(col("id_lo"), col("id_hi"))
      val nEdges = pairs.count()
      println(s"  nEdges=$nEdges")
      val partsKey = "spark.sql.shuffle.partitions"
      val partsWas = spark.conf.get(partsKey, "32")
      val (labels, dist) = graft.operators.Dedup.withAqeOff(spark) {
        try {
          val maxParts = partsWas.toInt
          val parts = math.max(1L,
            math.min(maxParts.toLong, (2L * nEdges) / 100000L + 1L)).toInt
          spark.conf.set(partsKey, parts.toString)
          val lab = t(s"$tag cc") {
            val (l, it) =
              graft.operators.Dedup.connectedComponents(edges)
            println(s"  cc iterations=$it")
            l.localCheckpoint(eager = true)
          }
          def trunc(df: DataFrame): DataFrame = df.localCheckpoint(eager = false)
          val settledFinal = t(s"$tag bfs") {
            val sym = trunc(
              edges.select(col("id_lo").as("src"), col("id_hi").as("dst"))
                .union(edges.select(col("id_hi"), col("id_lo")))
                .repartition(parts, col("src")))
            var settled = trunc(lab.filter(col("id") === col("label"))
              .select(col("id"), lit(0L).as("hops"))
              .repartition(parts, col("id")))
            var frontier = settled
            var more = settled.count() > 0
            val HopsPerJob = 6
            var rounds = 0
            while (more) {
              rounds += 1
              var block = settled.select(col("id").as("seen"))
              var cur = frontier
              val layers = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
              for (_ <- 1 to HopsPerJob) {
                val nxt = trunc(cur.join(sym, cur("id") === sym("src"))
                  .select(col("dst").as("id"), (col("hops") + 1L).as("hops"))
                  .groupBy(col("id")).agg(min(col("hops")).as("hops"))
                  .join(block, col("id") === col("seen"), "left_anti"))
                layers += nxt
                block = block.union(nxt.select(col("id").as("seen")))
                cur = nxt
              }
              val roundNew = trunc(layers.reduce(_ union _)
                .repartition(parts, col("id")))
              more = roundNew.count() > 0
              if (more) {
                settled = trunc(settled.union(roundNew))
                frontier = layers.last
              }
            }
            println(s"  bfs rounds=$rounds (≤${rounds * HopsPerJob} hops)")
            settled
          }
          (lab, settledFinal)
        } finally spark.conf.set(partsKey, partsWas)
      }
      t(s"$tag final joins") {
        val comp = labels.groupBy(col("label"))
          .agg(count(lit(1)).as("n_members"))
        val span = pairs
          .join(labels.select(col("id").as("id_lo"), col("label")), "id_lo")
          .groupBy(col("label"))
          .agg(min(col("first_contact")).as("first_contact"),
            max(col("last_contact")).as("last_contact"))
        labels.join(dist, "id").join(comp, "label").join(span, "label")
          .select(col("id").as("user_id"), col("label").as("component"),
            col("n_members"), col("hops"), col("first_contact"),
            col("last_contact"))
          .orderBy(col("user_id"))
          .count()
      }
      // component-size profile: decides whether per-component in-task
      // BFS (the convoyHourLabels union-find precedent) is viable and
      // what the cap must be
      val prof = labels.groupBy(col("label")).agg(count(lit(1)).as("n"))
        .agg(count(lit(1)).as("n_components"), max(col("n")).as("max_members"),
          sum(col("n")).as("n_nodes")).head()
      println(s"  components=${prof.getLong(0)} max_members=${prof.getLong(1)} " +
        s"nodes=${prof.getLong(2)}")
    }
    spark.stop()
  }
}
