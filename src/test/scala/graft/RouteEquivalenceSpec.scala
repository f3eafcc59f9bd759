package graft

import scala.util.Random

import graft.Routes.{Decision, Route}
import org.apache.spark.sql.DataFrame

/** Both routes of every cap-and-route kernel in [[Routes.registry]]
  * return the same result: each case runs the kernel once with the
  * default caps (the in-task route at fixture scale) and once under
  * [[Routes.forcedDistributed]], compares the rows, and checks from the
  * decision record that each route really ran. A registry entry without
  * a case fails the spec. */
class RouteEquivalenceSpec extends SparkSpec {
  import spark.implicits._

  private val sf001 = "/root/testdata/sf0.001"
  private val sf01 = "/root/testdata/sf0.01"

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  /** Asserts that `r` was decided at least once in `ds`, always `route`. */
  private def assertRan(ds: Seq[Decision], r: Route, route: String): Unit = {
    val seen = ds.filter(_.name == r.name).map(_.route)
    assert(seen.nonEmpty && seen.forall(_ == route),
      s"expected ${r.name} to run $route, decisions: $ds")
  }

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq.toList).toSeq

  /** Runs `query` on copies of `d` with the default caps and forced
    * distributed, asserts equal rows and that `r` ran local then
    * distributed, and returns the rows. */
  private def assertRoutesAgree(r: Route, query: String, d: String): Seq[Seq[Any]] = {
    def run(): (Seq[Seq[Any]], Seq[Decision]) =
      Routes.recorded(rows(SparkEntry.queries(query)(spark, fixtureCopy(d))))
    val (local, dl) = run()
    val (dist, dd) = Routes.forcedDistributed(run())
    assertRan(dl, r, "local")
    assertRan(dd, r, "distributed")
    assert(dist == local,
      s"$query on $d: distributed route diverged from the in-task route:\n" +
        s"$dist\nvs\n$local")
    local
  }

  /** One case per registry route, run on a fixture directory. */
  private val cases: Map[String, String => Unit] = Map(
    Routes.Cc.name -> { (d: String) =>
      assert(assertRoutesAgree(Routes.Cc, "dedup_clusters", d).nonEmpty)
    },
    Routes.AllPairs.name -> { (d: String) =>
      assert(assertRoutesAgree(Routes.AllPairs, "dedup_allpairs", d).nonEmpty)
    },
    Routes.Hausdorff.name -> { (d: String) =>
      // bit-identical top 20: the local route's abandon cut only skips
      // pairs that provably cannot enter the top 20, and emitted values
      // come from the same kernel at full precision
      val top = assertRoutesAgree(Routes.Hausdorff, "ltss_geo_hausdorff", d)
      assert(top.size == 20, s"expected a full top 20, got ${top.size}")
    },
    Routes.Mad.name -> { (d: String) =>
      assert(assertRoutesAgree(Routes.Mad, "ltss_anomaly_mad", d).nonEmpty)
    },
    Routes.Exposure.name -> { (d: String) =>
      assert(assertRoutesAgree(Routes.Exposure, "ltss_geo_exposure", d).nonEmpty)
    },
    Routes.TextRank.name -> { (d: String) =>
      assert(assertRoutesAgree(Routes.TextRank, "text_rank", d).size == 20)
    },
    Routes.Convoy.name -> { (d: String) =>
      assert(assertRoutesAgree(Routes.Convoy, "ltss_geo_convoy_groups", d).nonEmpty)
    })

  test("every registry route has an equivalence case, and every case a route") {
    assert(cases.keySet == Routes.registry.map(_.name).toSet)
  }

  // every route's default and forced runs together take under 60 s at
  // sf0.01 on a 4-vCPU host, so every route runs at both scales
  for (r <- Routes.registry; d <- Seq(sf001, sf01))
    test(s"${r.name}: default and forced-distributed routes agree on " +
      d.split('/').last) {
      cases.getOrElse(r.name,
        fail(s"registry route ${r.name} has no equivalence case"))(d)
    }

  test("Routes.local: measured == cap runs local, cap + 1 distributed, both recorded") {
    val r = Routes.Mad
    val ((atCap, above), ds) = Routes.recorded(
      (Routes.local(r, r.cap), Routes.local(r, r.cap + 1)))
    assert(atCap && !above)
    assert(ds == Seq(
      Decision(r.name, r.cap, r.cap, "local"),
      Decision(r.name, r.cap + 1, r.cap, "distributed")))
    Routes.withCaps(r -> 5L) {
      assert(Routes.local(r, 5L) && !Routes.local(r, 6L))
    }
  }

  test("Routes.withCaps: an override is restored after its body throws") {
    intercept[IllegalStateException] {
      Routes.withCaps(Routes.Exposure -> 1L) {
        Routes.forcedDistributed {
          assert(Routes.cap(Routes.Exposure) == -1L && Routes.cap(Routes.Cc) == -1L)
          throw new IllegalStateException("body failed")
        }
      }
    }
    assert(Routes.registry.forall(r => Routes.cap(r) == r.cap))
    val (_, ds) = Routes.recorded(Routes.local(Routes.Cc, 0L))
    assert(ds == Seq(Decision("cc", 0L, Routes.Cc.cap, "local")))
  }

  test("allpairs: both routes and the inverted count join equal brute force on 12 hot corpora") {
    import PrefixFilterSpec.{bruteForce, collectPairs, randomCorpus}
    val rng = new Random(421002)
    for (trial <- 1 to 12) {
      val sets = randomCorpus(rng)
      val df = sets.toSeq
        .flatMap { case (id, fps) => fps.toSeq.map(fp => (id, fp)) }
        .toDF("doc_id", "fp")
      // thresholds beyond 1/2 pin the generalized integer forms
      val (p, q) = Seq((1, 2), (7, 10), (1, 3), (9, 10))(trial % 4)
      val expected = bruteForce(sets, p, q)
      val (viaLocal, dl) = Routes.recorded(
        collectPairs(graft.operators.Dedup.exactJaccardPairs(df, p, q)))
      val (viaPrefix, dd) = Routes.forcedDistributed(Routes.recorded(
        collectPairs(graft.operators.Dedup.exactJaccardPairs(df, p, q))))
      val viaCount = collectPairs(graft.operators.Dedup.invertedCountPairs(df, p, q))
      assertRan(dl, Routes.AllPairs, "local")
      assertRan(dd, Routes.AllPairs, "distributed")
      assert(viaLocal === expected, s"local all-pairs route, trial $trial tau=$p/$q")
      assert(viaPrefix === expected, s"prefix path, trial $trial tau=$p/$q")
      assert(viaCount === expected, s"count path, trial $trial tau=$p/$q")
    }
  }

  test("exposure: default, forced-distributed and mixed cap-1 routes return the identical frame") {
    // labels are min member ids and hops shortest paths — unique however
    // they are built. Forced distributed: the CC fixpoint (nested cc
    // route) + the layered BFS for every component; cap 1: the 1-edge
    // component goes in-task, the 2-edge chain rides the layered loop.
    // Fixture: chain A(10)-B(12)-C(14) (hops 0/1/2), pair D(60)-E(62),
    // and one isolated fix (50, no rows).
    val dir = java.nio.file.Files.createTempDirectory("graft-exposure-route").toString
    Seq(
      (100L, ts("2024-01-01 10:00:00"), 10L),
      (101L, ts("2024-01-01 11:00:00"), 12L),
      (200L, ts("2024-01-01 20:00:00"), 12L),
      (201L, ts("2024-01-01 20:30:00"), 14L),
      (300L, ts("2024-01-05 09:00:00"), 50L),
      (400L, ts("2024-01-06 09:00:00"), 60L),
      (401L, ts("2024-01-06 09:30:00"), 62L))
      .toDF("event_id", "ts", "user_id")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    def run(): Seq[(Long, Long, Long, Long)] =
      graft.operators.Queries.exposureFrame(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val (local, dl) = Routes.recorded(run())
    assertRan(dl, Routes.Exposure, "local")
    assert(local == Seq(
      (10L, 10L, 3L, 0L), (12L, 10L, 3L, 1L), (14L, 10L, 3L, 2L),
      (60L, 60L, 2L, 0L), (62L, 60L, 2L, 1L)),
      s"single-task route rows: $local")
    val (distributed, dd) = Routes.forcedDistributed(Routes.recorded(run()))
    assertRan(dd, Routes.Exposure, "distributed")
    assertRan(dd, Routes.Cc, "distributed")
    assert(distributed == local,
      s"fully distributed route diverged: $distributed vs $local")
    val (mixed, dm) = Routes.withCaps(Routes.Exposure -> 1L)(Routes.recorded(run()))
    assertRan(dm, Routes.Exposure, "distributed")
    assert(mixed == local, s"mixed route diverged: $mixed vs $local")
  }

  /** The churn fixture: A, B, C ride together hours 10-12, D joins C at
    * hour 11 only. Returns its directory. */
  private def churnFixture(): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-convoy-route").toString
    ((0 until 3).flatMap { h =>
      Seq(
        (30L + 20L * h, ts(s"2024-01-01 ${10 + h}:00:00"), 10L),
        (35L + 20L * h, ts(s"2024-01-01 ${10 + h}:10:00"), 12L),
        (40L + 20L * h, ts(s"2024-01-01 ${10 + h}:20:00"), 14L))
    } :+ ((62L, ts("2024-01-01 11:25:00"), 16L)))
      .toDF("event_id", "ts", "user_id")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  /** (hr, member, gid) labels of fixture directory `dir`; pass a new
    * directory per run so the label cache cannot serve another route's
    * frame. */
  private def hourLabels(dir: String): (Set[(Long, Long, Long)], Seq[Decision]) =
    Routes.recorded(
      graft.operators.Queries.convoyHourLabels(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet)

  test("convoy: the per-hour union-find equals the global fixpoint label-for-label") {
    // gid is the component's min member under either construction
    val (uf, du) = hourLabels(churnFixture())
    val (global, dg) = Routes.forcedDistributed(hourLabels(churnFixture()))
    assertRan(du, Routes.Convoy, "local")
    assertRan(dg, Routes.Convoy, "distributed")
    assertRan(dg, Routes.Cc, "distributed")
    assert(uf == global && uf.nonEmpty,
      s"paths diverged: uf-only ${(uf -- global).take(5)}, " +
        s"global-only ${(global -- uf).take(5)}")
    val hr0 = ts("2024-01-01 10:00:00").getTime / 3600000L
    assert(uf((hr0 + 1L, 16L, 10L)),
      s"hour-11 churn member must join the min-10 component: $uf")
  }

  test("convoy: an hour above a lowered cap routes to the global path with no conf set") {
    val (uf, _) = hourLabels(churnFixture())
    val (global, ds) = Routes.withCaps(Routes.Convoy -> 1L)(hourLabels(churnFixture()))
    // the measure is the busiest hour's members: hour 11 holds A, B, C
    // and D on three edges
    assert(ds.exists(d => d.name == "convoy" && d.measured == 4L &&
      d.route == "distributed"), s"decisions: $ds")
    assert(spark.conf.getAll.keys.forall(!_.startsWith("graft.")))
    assert(global == uf)
  }

  /** Three 3-member, 3-hour convoys the raw hr·10⁹+id encoding cannot
    * hold: snowflake-sized ids, negative ids, and pre-1970 hours (fixes
    * past the hour boundary, so each hour stays one truncated bucket).
    * Returns (day, ids) per convoy. */
  private val outOfEncoding = Seq(
    ("2024-01-01", Seq(2000000000L, 2000000002L, 2000000004L)),
    ("2024-01-02", Seq(-5L, -3L, -1L)),
    ("1969-12-30", Seq(10L, 12L, 14L)))

  private def outOfEncodingFixture(): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-convoy-route-ids").toString
    outOfEncoding.zipWithIndex.flatMap { case ((day, ids), g) =>
      for (h <- 0 until 3; (id, i) <- ids.zipWithIndex)
        yield (100L * g + 30L + 20L * h + 5L * i,
          ts(s"$day ${10 + h}:${10 + 10 * i}:00"), id)
    }.toDF("event_id", "ts", "user_id")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("convoy: snowflake, negative and pre-1970 ids label identically on both routes") {
    // the global route ranks members and rebases hours before encoding,
    // so crossing the cap never turns these answers into an exception
    val expected = (for ((day, ids) <- outOfEncoding; h <- 0 until 3; id <- ids)
      yield (ts(s"$day ${10 + h}:10:00").getTime / 3600000L, id, ids.head)).toSet
    val (uf, du) = hourLabels(outOfEncodingFixture())
    val (lowered, dl) =
      Routes.withCaps(Routes.Convoy -> 1L)(hourLabels(outOfEncodingFixture()))
    val (forced, df) = Routes.forcedDistributed(hourLabels(outOfEncodingFixture()))
    assertRan(du, Routes.Convoy, "local")
    assertRan(dl, Routes.Convoy, "distributed")
    assertRan(df, Routes.Convoy, "distributed")
    assertRan(df, Routes.Cc, "distributed")
    assert(uf == expected, s"union-find labels: $uf")
    assert(lowered == expected, s"global labels under a lowered cap: $lowered")
    assert(forced == expected, s"fully distributed labels: $forced")
    // the query itself answers above the cap
    def groups(): Set[Seq[Any]] = rows(
      SparkEntry.queries("ltss_geo_convoy_groups")(spark, outOfEncodingFixture())).toSet
    val viaGlobal = Routes.withCaps(Routes.Convoy -> 1L)(groups())
    assert(viaGlobal.size == 3 && viaGlobal == groups(), s"groups: $viaGlobal")
  }
}
