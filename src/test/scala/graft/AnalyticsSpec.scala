package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._

/** Hand-computed fixtures for the analytics rollups whose oracle rows
  * mirror the same SQL logic — a shared misreading of the semantics
  * would pass the oracle compare, so the ORDER-dependent rules (funnel
  * step ordering, budget boundary, cohort offsets) are pinned here
  * against worked examples. */
class AnalyticsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("funnel: a click BEFORE the first view does not convert") {
    // uid 1: view→click→purchase in order (full conversion)
    // uid 2: click precedes its first view — the click must NOT count
    // uid 3: view only
    val events = Seq(
      (ts("2024-01-01 10:00:00"), "view.1", "1"),
      (ts("2024-01-01 11:00:00"), "click.1", "1"),
      (ts("2024-01-01 12:00:00"), "purchase.1", "1"),
      (ts("2024-01-01 09:00:00"), "click.2", "1"),
      (ts("2024-01-01 10:00:00"), "view.2", "1"),
      (ts("2024-01-01 08:00:00"), "view.3", "1"))
    val (v, c, p) = graft.operators.Queries.funnelSteps(
      events.toDF("time", "entity_id", "state"))
    assert(v.count() == 3 && c.count() == 1 && p.count() == 1)
    assert(c.select("uid").as[Long].collect().toSeq == Seq(1L))
  }

  test("token budget: the doc that crosses the line is in, the next is out") {
    val docs = Seq(
      (0L, (1 to 400).map(_ => "w").mkString(" "), "en"),  // cum 400
      (1L, (1 to 550).map(_ => "w").mkString(" "), "en"),  // cum 950
      (2L, (1 to 50).map(_ => "w").mkString(" "), "en"),   // cum 1000 — exactly at budget: in
      (3L, (1 to 1).map(_ => "w").mkString(" "), "en"),    // cum 1001 — out
      (4L, (1 to 2000).map(_ => "w").mkString(" "), "de")) // first de doc exceeds alone: out
    docs.toDF("doc_id", "text", "lang").createOrReplaceTempView("b_docs")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("doc_id"))
    val kept = spark.table("b_docs")
      .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .filter(col("cum_tokens") <= graft.operators.Sampling.TokenBudget)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(0L, 1L, 2L))
  }

  test("retention: offsets count from each entity's own first-seen week") {
    val wk = 7L * 86400000000L
    val events = Seq(
      // entity a: first seen week 0, active again week 2
      (ts("2024-01-01 10:00:00"), "view.1", "1"),
      (ts("2024-01-15 10:00:00"), "view.1", "1"),
      // entity b: first seen week 2 (its offset-0 is week 2!)
      (ts("2024-01-15 12:00:00"), "view.2", "1"))
    events.toDF("time", "entity_id", "state").createOrReplaceTempView("r_ltss")
    val weekly = spark.table("r_ltss")
      .select(col("entity_id"),
        (unix_micros(col("time")) - pmod(unix_micros(col("time")), lit(wk))).as("wk"))
      .distinct()
    val cohorts = weekly.groupBy(col("entity_id")).agg(min(col("wk")).as("cw"))
    // cohort of a: offsets 0 and 2 with one entity each;
    // cohort of b: offset 0 with one entity — NOT merged into a's week-2 cell
    val rows = weekly.join(cohorts, "entity_id")
      .groupBy(col("cw"), ((col("wk") - col("cw")) / lit(wk)).cast("long").as("off"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val cwA = rows.map(_._1).min
    val cwB = rows.map(_._1).max
    assert(cwA != cwB)
    assert(rows == Set((cwA, 0L, 1L), (cwA, 2L, 1L), (cwB, 0L, 1L)))
  }

  test("polygon containment: concave dent is outside despite being inside the hull") {
    // lat = user_id%180 − 90 + 0.5, lon = event_id%360 − 180 + 0.5:
    //   (lon 10.5, lat 10.5)  — inside (1 crossing, right of the ray)
    //   (lon 20.5, lat 19.5)  — in the CONVEX HULL but outside the
    //                           polygon (the (15,18) dent) — 0 crossings
    //   (lon 50.5, lat 50.5)  — far outside
    val dir = java.nio.file.Files.createTempDirectory("graft-poly").toString
    Seq(
      (190L, ts("2024-01-01 00:00:00"), 100L, "view", 1.0, "{}"),
      (200L, ts("2024-01-01 00:00:01"), 109L, "view", 1.0, "{}"),
      (230L, ts("2024-01-01 00:00:02"), 140L, "view", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val in = graft.operators.Queries.geoPolygon.run(spark, dir)
      .select("event_id").as[Long].collect().toSeq
    assert(in == Seq(190L),
      s"only the (10.5, 10.5) point is inside the non-convex polygon, got $in")
  }

  test("funnel report: stage survival is monotone and consistent with the pipeline") {
    val dir = "/root/testdata/sf0.001"
    val rows = graft.operators.Pipeline.funnelReport.run(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val Seq(in, q, p, s, m) = (1 to 5).map(r.getLong)
      assert(in >= q && q >= p && p >= s && s >= m && m >= 0,
        s"funnel must be monotone per source: ${r.mkString(",")}")
    }
    // totals agree with the pipeline the report claims to audit
    val mixedTotal = rows.map(_.getLong(5)).sum
    val pipelineRows = graft.operators.Pipeline.curateFull.run(spark, dir).count()
    assert(mixedTotal == pipelineRows,
      s"report n_mixed total $mixedTotal != pipeline output rows $pipelineRows")
  }

  test("keyword extraction: corpus rarity outranks within-doc frequency") {
    val dir = java.nio.file.Files.createTempDirectory("graft-kw").toString
    // corpus counts: u=1, v=3, w=4 — u is doc 1's top keyword even at
    // tf 1, because rarity is the primary key; v beats w by rarity too
    Seq((1L, "u v v w"), (2L, "v w w w"))
      .toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.operators.TextOps.docKeywords.run(spark, dir)
      .as[(Long, Int, String, Long, Long)].collect().toSeq
    assert(out == Seq(
      (1L, 1, "u", 1L, 1L),
      (1L, 2, "v", 2L, 3L),
      (1L, 3, "w", 1L, 4L),
      (2L, 1, "v", 1L, 3L),
      (2L, 2, "w", 3L, 4L)), s"got $out")
  }

  test("importance scoring: target-shingle docs outrank disjoint docs exactly") {
    val dir = java.nio.file.Files.createTempDirectory("graft-dsir").toString
    // target corpus (src0) holds the shingle "a b" twice; doc 10 shares
    // it (affinity 2 over 1 shingle), doc 11 is disjoint (affinity 0)
    Seq(
      (1L, "src0", "a b"),
      (2L, "src0", "a b"),
      (10L, "src9", "a b"),
      (11L, "src9", "x y"))
      .toDF("doc_id", "source", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.operators.Sampling.sampleImportance.run(spark, dir)
      .select("doc_id", "affinity", "n_shingles")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // importance 2.0 for every "a b" doc (ties broken by doc_id), then 0
    assert(out == Seq((1L, 2L, 1L), (2L, 2L, 1L), (10L, 2L, 1L), (11L, 0L, 1L)))
  }

  test("KMV distinct sketch: exact below K, within the 1/sqrt(K) error class above it") {
    import org.apache.spark.sql.functions.{col, countDistinct, split}
    val D = "/root/testdata/sf0.001"
    // exact per-domain distincts via the projection query (same LTSS
    // normalization as the sketch input)
    val exact = graft.operators.Queries.project.run(spark, D)
      .withColumn("domain", split(col("entity_id"), "\\.").getItem(0))
      .groupBy(col("domain"))
      .agg(countDistinct(col("entity_id")).as("de"),
        countDistinct(col("state")).as("ds"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val rows = graft.operators.Queries.kmvDistinct.run(spark, D).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val (domain, target) = (r.getAs[String]("domain"), r.getAs[String]("target"))
      val tracked = r.getAs[Long]("n_tracked")
      val est = r.getAs[Double]("est_distinct")
      val truth = if (target == "entities") exact(domain)._1 else exact(domain)._2
      if (tracked < graft.operators.Queries.KmvK)
        assert(est == truth.toDouble, s"$domain/$target below K must be exact: $est vs $truth")
      else
        // ~12% standard error at K=64; 3 sigma with slack for the
        // deterministic fixture draw
        assert(math.abs(est - truth) / truth < 0.5,
          s"$domain/$target est $est too far from exact $truth")
    }
  }

  test("CMS freq sketch: never underestimates, and overcounts stay in the eN class") {
    val D = "/root/testdata/sf0.001"
    val rows = graft.operators.Queries.cmsFreq.run(spark, D).collect()
    assert(rows.nonEmpty)
    val n = graft.operators.Transform.eventsToLtss(
      graft.Tables.events(spark, D),
      graft.config.LtssConfig(enableLocation = false)).count() // the stream's N
    for (r <- rows) {
      assert(r.getAs[Int]("never_under") == 1,
        s"CMS underestimated ${r.getAs[String]("state")}")
      assert(r.getAs[Long]("est_c") >= r.getAs[Long]("true_c"))
      // CMS bound: overcount ≤ e/W · N with prob 1−e^−D; the audit's top-20
      // covers the heavy hitters where a violation would matter most.
      // Deterministic fixture: assert the loose 8·(e/W)·N envelope.
      assert(r.getAs[Long]("overcount") <= (8.0 * math.E / 64.0 * n).toLong + 1,
        s"overcount ${r.getAs[Long]("overcount")} outside the eN class (N≥$n)")
    }
  }

  test("KMV merge: cross-hour duplicate entities collapse once at the day level") {
    val dir = java.nio.file.Files.createTempDirectory("graft-kmv").toString
    // 3 entities active across 2 hours of one day (each hour sees all 3)
    // → hour sketches of 3 hashes each, merged day sketch must hold the
    // SAME 3 distinct hashes as the direct day sketch — not 6
    val rows = for {
      h <- Seq(0, 1); u <- Seq(1L, 2L, 3L)
    } yield (java.sql.Timestamp.valueOf(f"2024-01-01 0$h:15:00"), u, u, 1.0)
    import spark.implicits._
    rows.toDF("ts", "event_id", "user_id", "value")
      .selectExpr("ts", "event_id", "user_id", "value",
        "'click' AS event_type", "'{}' AS props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = graft.operators.Queries.kmvMerge.run(spark, dir).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Long]("n_hours") == 2L)
    assert(r.getAs[Long]("n_direct") == 3L, "3 distinct entities, both sketches")
    assert(r.getAs[Double]("est_direct") == 3.0) // below K → exact
    assert(r.getAs[Double]("est_merged") == 3.0)
    assert(r.getAs[Int]("merge_exact") == 1)
  }

  test("month buckets: the Jan 31 / Feb 1 boundary splits calendar-exactly") {
    val dir = java.nio.file.Files.createTempDirectory("graft-mon").toString
    val rows = Seq(
      ("2024-01-31 23:59:59", 10.0), // last second of January
      ("2024-02-01 00:00:00", 20.0), // first second of February
      ("2024-02-29 12:00:00", 30.0)) // leap-day, still February
      .zipWithIndex.map { case ((t, v), i) =>
        (java.sql.Timestamp.valueOf(t), i.toLong + 1L, 7L, v)
      }
    import spark.implicits._
    rows.toDF("ts", "event_id", "user_id", "value")
      .selectExpr("ts", "event_id", "user_id", "value",
        "'click' AS event_type", "'{}' AS props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = graft.operators.Queries.timeBucketMonth.run(spark, dir)
      .collect().map(r => r.getAs[java.sql.Timestamp]("bucket").toString.take(10) ->
        (r.getAs[Long]("n"), r.getAs[Double]("sum_state"))).toMap
    assert(out("2024-01-01") == ((1L, 10.0)), s"January bucket wrong: $out")
    assert(out("2024-02-01") == ((2L, 50.0)), s"February bucket wrong: $out")
  }

  test("geofence batch: a crossing path emits exactly its enter/exit pairs") {
    val dir = java.nio.file.Files.createTempDirectory("graft-gf").toString
    // user 147 has lat = 147 % 180 - 90 + 0.5 = 57.5 (near the fence
    // center 57.7); lon = event_id % 360 - 180 + 0.5. Walk the lon axis
    // through the 2000 km fence: far → near (enter) → far (exit)
    def lonToEvent(lon: Int): Long = (lon + 180 - 0).toLong // event_id % 360 = lon+180, lon+0.5 actual
    val path = Seq(100, 12, 11, 100, 12) // lon ≈ 100.5 out, 12.5 in, 11.5 in, 100.5 out, 12.5 in
    val rows = path.zipWithIndex.map { case (lon, i) =>
      (java.sql.Timestamp.valueOf(f"2024-01-01 00:0$i:00"), lonToEvent(lon), 147L, 1.0)
    }
    import spark.implicits._
    rows.toDF("ts", "event_id", "user_id", "value")
      .selectExpr("ts", "event_id", "user_id", "value",
        "'click' AS event_type", "'{}' AS props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = graft.operators.Queries.geofence.run(spark, dir)
      .collect().map(r => (r.getAs[java.sql.Timestamp]("time").toString.substring(14, 16),
        r.getAs[String]("event")))
    assert(out.toSeq == Seq(("01", "enter"), ("03", "exit"), ("04", "enter")),
      s"transition log diverged: ${out.toSeq}")
  }

  test("geohash closed form matches the textbook bisection encoder") {
    // independent reference: classic interval-bisection geohash
    def bisect(lat: Double, lon: Double): String = {
      val alphabet = "0123456789bcdefghjkmnpqrstuvwxyz"
      var latLo = -90.0; var latHi = 90.0; var lonLo = -180.0; var lonHi = 180.0
      val sb = new StringBuilder
      var bit = 0; var ch = 0; var even = true
      while (sb.length < 6) {
        val b =
          if (even) { val m = (lonLo + lonHi) / 2
            if (lon >= m) { lonLo = m; 1 } else { lonHi = m; 0 } }
          else { val m = (latLo + latHi) / 2
            if (lat >= m) { latLo = m; 1 } else { latHi = m; 0 } }
        ch = ch * 2 + b; bit += 1; even = !even
        if (bit == 5) { sb.append(alphabet(ch)); bit = 0; ch = 0 }
      }
      sb.toString
    }
    val rnd = new scala.util.Random(7)
    val ids = Seq.fill(300)(
      (math.abs(rnd.nextLong() % 1000000L), math.abs(rnd.nextLong() % 1000000L)))
    val got = ids.toDF("user_id", "event_id")
      .withColumn("latq", expr("((pmod(user_id, 180) * 2 + 1) * 32768) div 360"))
      .withColumn("lonq", expr("((pmod(event_id, 360) * 2 + 1) * 32768) div 720"))
      .withColumn("gh", expr(graft.operators.Queries.geohashBitsSql("div")))
      .withColumn("geohash", expr(graft.operators.Queries.geohashCharsSql("div")))
      .select("user_id", "event_id", "geohash")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getString(2)).toMap
    for ((u, e) <- ids) {
      val lat = (u % 180 - 90).toDouble + 0.5
      val lon = (e % 360 - 180).toDouble + 0.5
      assert(got((u, e)) == bisect(lat, lon),
        s"closed form diverges from bisection at ($lat, $lon)")
    }
  }
}
