package graft

import org.apache.spark.sql.functions._

/** Hand-computed fixtures for the trajectory queries (`ltss_geo_travel`,
  * `ltss_geo_speed`, `ltss_geo_knn`) — independent of both the Spark
  * plan and the DuckDB oracle: the expected distances come from the
  * CLOSED FORM of the haversine on a constant-latitude track,
  * d = 2R·asin(cos(lat)·sin(Δlon/2)), a different expression path than
  * the kernel's pow/sqrt composition, analytically equal on these
  * inputs. The fixture is a synthetic events.parquet in the real
  * fixture geometry (lat = user_id%180−90+0.5, lon = event_id%360−180+0.5),
  * so the tests drive the REGISTERED queries end to end. */
class GeoTrajectorySpec extends SparkSpec {
  import spark.implicits._

  private val R = 6371.0088
  /** Closed-form same-latitude haversine leg, floored to meters. */
  private def legM(lat: Double, dLonDeg: Double): Long =
    math.floor(2.0 * R * math.asin(
      math.cos(math.toRadians(lat)) * math.sin(math.toRadians(dLonDeg) / 2))
      * 1000.0).toLong

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  /** user 90 sits at lat 0.5; event_id 180+k puts a fix at lon k+0.5.
    * Track: lon 0.5 → 1.5 → 3.5 (legs of 1° and 2°), one fix per hour,
    * plus a lone-fix user 91 (lat 1.5) with no legs at lon 0.5. */
  private lazy val fixtureDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-geo-fixture").toString
    Seq(
      (180L, ts("2024-01-01 10:00:00"), 90L),
      (181L, ts("2024-01-01 11:00:00"), 90L),
      (183L, ts("2024-01-01 12:00:00"), 90L),
      (540L, ts("2024-01-01 10:00:00"), 91L)) // 540 % 360 = 180 → lon 0.5
      .toDF("event_id", "ts", "user_id")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("ltss_geo_travel sums closed-form legs; a lone fix contributes zero") {
    val rows = SparkEntry.queries("ltss_geo_travel")(spark, fixtureDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val leg1 = legM(0.5, 1.0) // 1° of longitude at lat 0.5 ≈ 111 190 m
    val leg2 = legM(0.5, 2.0)
    assert(leg1 > 111000L && leg1 < 111200L, s"closed form sanity: $leg1")
    assert(rows.toSeq == Seq(
      (90L, 2L, leg1 + leg2, leg2),
      (91L, 0L, 0L, 0L)), s"travel diverged from the closed form: ${rows.toSeq}")
  }

  test("ltss_geo_speed flags the teleport leg and ranks a zero-gap pair first") {
    // same track plus: user 92 (lat 2.5) jumps 30° of longitude in one
    // minute (~3300 km → ~200 000 km/h, flagged) after a slow 1°/hour
    // leg (≈111 km/h, not flagged); user 93 emits two fixes in the SAME
    // microsecond at different coords — infinite speed, NULL, ranked first
    val dir = java.nio.file.Files.createTempDirectory("graft-geo-speed").toString
    Seq(
      (180L, ts("2024-01-01 10:00:00"), 92L),
      (181L, ts("2024-01-01 11:00:00"), 92L),
      (211L, ts("2024-01-01 11:01:00"), 92L), // 30° in 60 s
      (180L, ts("2024-01-01 10:00:00"), 93L),
      (190L, ts("2024-01-01 10:00:00"), 93L)) // duplicate-µs pair
      .toDF("event_id", "ts", "user_id")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val rows = SparkEntry.queries("ltss_geo_speed")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2),
        if (r.isNullAt(5)) None else Some(r.getLong(5))))
    // exactly two flagged rows: the zero-gap teleport first (NULL
    // severity), then the 30°-in-a-minute jump; the ~111 km/h leg absent
    assert(rows.length == 2, s"flag set diverged: ${rows.toSeq}")
    assert(rows(0) == ((93L, 190L, None)), s"zero-gap pair must rank first: ${rows.toSeq}")
    val leg30 = legM(2.5, 30.0)
    val expected = math.floor(leg30.toDouble * 3600000.0 / 60000000.0).toLong
    assert(rows(1) == ((92L, 211L, Some(expected))),
      s"teleport speed diverged from the closed form: ${rows.toSeq} vs $expected")
  }

  test("ltss_geo_knn returns each entity's LATEST fix ordered by distance") {
    // user 90's latest fix is lon 3.5 (not its nearer older lon 0.5 fix
    // — latest-wins is the point), user 91 sits at lon 0.5; both
    // distances to the station follow from the general closed form via
    // the spherical law of cosines on these two-point inputs, so here we
    // pin the ORDER and the latest-fix selection, and cross-check the
    // emitted integer meters against the kernel run on the same scalars
    val rows = SparkEntry.queries("ltss_geo_knn")(spark, fixtureDir)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    assert(rows.map(_._1).toSeq == Seq(91L, 90L), s"knn order diverged: ${rows.toSeq}")
    assert(rows(0)._2 == 540L && rows(1)._2 == 183L,
      s"knn must rank the LATEST fix per entity: ${rows.toSeq}")
    def distM(lat: Double, lon: Double): Long =
      math.floor(graft.functions.GeoMath.haversineKm(lat, lon, 57.7, 11.97) * 1000.0).toLong
    assert(rows(0)._3 == distM(1.5, 0.5) && rows(1)._3 == distM(0.5, 3.5),
      s"knn distances diverged: ${rows.toSeq}")
    assert(rows(0)._3 < rows(1)._3)
  }

  test("ltss_geo_mercator projects the latest fix to the EPSG:3857 closed form") {
    val rows = SparkEntry.queries("ltss_geo_mercator")(spark, fixtureDir)
      .collect().map(r => (r.getLong(0), r.getDouble(2), r.getDouble(3),
        r.getLong(4), r.getLong(5)))
    // the spec computes the projection INDEPENDENTLY with scala.math
    // on the atanh identity — and anchors the magnitudes against the
    // published facts of the projection: 1° of longitude on the
    // 6378137 m sphere is ~111 319.49 m, and near the equator
    // y ≈ R·rad(lat) (the projection is conformal, scale → 1)
    def xm(lon: Double) = math.floor(6378137.0 * math.toRadians(lon)).toLong
    def ym(lat: Double) = {
      val s = math.sin(math.toRadians(lat))
      math.floor(3189068.5 * math.log((1.0 + s) / (1.0 - s))).toLong
    }
    // user 90: latest fix lon 3.5 (event 183), lat 0.5; user 91: lon 0.5, lat 1.5
    assert(rows.toSeq == Seq(
      (90L, 0.5, 3.5, xm(3.5), ym(0.5)),
      (91L, 1.5, 0.5, xm(0.5), ym(1.5))), s"projection diverged: ${rows.toSeq}")
    assert(xm(3.5) > (3.5 * 111319).toLong - 200 && xm(3.5) < (3.5 * 111320).toLong + 200)
    assert(math.abs(ym(0.5) - math.floor(6378137.0 * math.toRadians(0.5)).toLong) < 20,
      "near-equator ordinate must approach R·rad(lat)")
  }

  test("ltss_geo_track reproduces the unsegmented totals across a month boundary") {
    // user 94's track CROSSES a segment boundary: two January fixes
    // (legs inside segment 1) and one February fix — the 1° junction
    // leg exists only as last(seg Jan) → first(seg Feb), so a summary
    // that forgot junction stitching loses exactly legM(4.5, 1.0)
    val dir = java.nio.file.Files.createTempDirectory("graft-geo-track").toString
    Seq(
      (180L, ts("2024-01-30 10:00:00"), 94L),
      (182L, ts("2024-01-31 10:00:00"), 94L), // +2° inside January
      (183L, ts("2024-02-01 10:00:00"), 94L), // +1° across the boundary
      (540L, ts("2024-01-01 10:00:00"), 95L)) // lone fix, one segment
      .toDF("event_id", "ts", "user_id")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val rows = SparkEntry.queries("ltss_geo_track")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        (r.getDouble(4), r.getDouble(5), r.getDouble(6), r.getDouble(7))))
    val lat94 = 94 % 180 - 90 + 0.5 // 4.5
    assert(rows.toSeq == Seq(
      (94L, 3L, 2L, legM(lat94, 2.0) + legM(lat94, 1.0), (4.5, 4.5, 0.5, 3.5)),
      (95L, 1L, 1L, 0L, (5.5, 5.5, 0.5, 0.5))),
      s"track summary diverged from the hand trace: ${rows.toSeq}")
  }

  test("ltss_geo_simplify: radial rule from the LAST KEPT fix, endpoint preserved, month anchors independent") {
    // user 96 (lat 6.5), one January segment, lons 0.5 → 20.5 → 60.5 → 61.5:
    //   20.5 is ~2 200 km from the anchor (< 5 000 km) → DROPPED;
    //   60.5 is ~6 500 km from the anchor 0.5 (NOT from 20.5 — the rule
    //     measures from the last KEPT fix) → kept;
    //   61.5 is ~110 km from 60.5 → rule-dropped but it is the segment
    //     ENDPOINT → kept anyway.
    // One February fix opens a NEW segment → kept as its own anchor.
    val dir = java.nio.file.Files.createTempDirectory("graft-geo-simplify").toString
    Seq(
      (180L, ts("2024-01-01 10:00:00"), 96L), // lon 0.5
      (200L, ts("2024-01-01 11:00:00"), 96L), // lon 20.5
      (240L, ts("2024-01-01 12:00:00"), 96L), // lon 60.5
      (241L, ts("2024-01-01 13:00:00"), 96L), // lon 61.5
      (239L, ts("2024-02-01 10:00:00"), 96L)) // lon 59.5, new month
      .toDF("event_id", "ts", "user_id")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    assert(legM(6.5, 20.0) < 5000000L && legM(6.5, 60.0) >= 5000000L,
      "threshold sanity: the hand trace depends on these sides")
    val got = SparkEntry.queries("ltss_geo_simplify")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(4)))
    assert(got.toSeq == Seq(
      (96L, 180L, 0.5), (96L, 240L, 60.5), (96L, 241L, 61.5),
      (96L, 239L, 59.5)), s"simplification diverged from the hand trace: ${got.toSeq}")
  }

  test("ltss_geo_staypoints: anchor runs, the >= duration boundary, singles filtered") {
    // user 97 (lat 7.5): two fixes a degree apart over 13 h (a stay),
    // a hop to lon 60.5 with a second fix exactly 12 h later (pins the
    // INCLUSIVE duration boundary), then a lone far fix (no stay).
    // The emitted coordinates are the run's ANCHOR (its first fix),
    // never an averaged centroid.
    val dir = java.nio.file.Files.createTempDirectory("graft-geo-stay").toString
    Seq(
      (180L, ts("2024-01-01 00:00:00"), 97L), // lon 0.5, anchor 1
      (181L, ts("2024-01-01 13:00:00"), 97L), // lon 1.5, ~110 km away
      (240L, ts("2024-01-02 00:00:00"), 97L), // lon 60.5, breaks run 1
      (241L, ts("2024-01-02 12:00:00"), 97L), // lon 61.5, dwell = 12 h exactly
      (310L, ts("2024-01-03 00:00:00"), 97L)) // lon 130.5, single
      .toDF("event_id", "ts", "user_id")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = SparkEntry.queries("ltss_geo_staypoints")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(3),
        r.getLong(4), r.getDouble(5), r.getDouble(6)))
    assert(got.toSeq == Seq(
      (97L, ts("2024-01-01 00:00:00"), 2L, 13L * 3600000000L, 7.5, 0.5),
      (97L, ts("2024-01-02 00:00:00"), 2L, 12L * 3600000000L, 7.5, 60.5)),
      s"stay detection diverged from the hand trace: ${got.toSeq}")
    // the OD rollup over the same visits: exactly one trip, from the
    // (0,0) cell to the (0,6) cell, carrying the ORIGIN's 13 h dwell
    val od = SparkEntry.queries("ltss_geo_od")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(od.toSeq == Seq((0L, 0L, 0L, 6L, 1L, 13L * 3600000000L)),
      s"OD matrix diverged from the hand trace: ${od.toSeq}")
    // the ZONE-NAMED rollup over the same visits: the origin visit at
    // (lat 7.5, lon 0.5) hand-walks INSIDE zones 1 and 4 (zone 1:
    // only the (20,-35)→(25,40) edge crosses at xint 22.83; zone 4:
    // only the x=10 vertical edge; zone 3 gets TWO xints 48.2 and 2.5
    // → outside) and anchors to the SMALLEST id, zone 1; the
    // destination at (7.5, 60.5) is east of every ring → the
    // outside bucket. One trip, atlantic → outside, 13 h origin dwell.
    val odz = SparkEntry.queries("ltss_geo_od_zones")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getString(3), r.getLong(4), r.getLong(5)))
    assert(odz.toSeq == Seq((1L, "atlantic", 0L, "outside", 1L, 13L * 3600000000L)),
      s"zone OD diverged from the hand trace: ${odz.toSeq}")
  }

  test("ltss_geo_zones: hand-walked containment — overlap double-hit, bbox-hit-but-outside excluded, rectangle half-open edge") {
    // Five latest fixes, each crossing count walked by hand against the
    // ZoneDefs rings (ray → +lon, xint per straddling edge):
    //  user 100 at (10.5, 10.5): zone1 xints {23.0, -64.4} → 1 crossing
    //    → inside; zone3 xints {47.8, 2.9} → 1 → inside (the OVERLAP);
    //    zone4: lat 10.5 IS the rectangle's top-edge latitude — the
    //    horizontal edge fails the straddle gate, and both VERTICAL
    //    edges end at y = 10.5 with (10.5 > 10.5) = false → no edge
    //    straddles → 0 crossings → OUTSIDE (the half-open rule: top
    //    edge excluded). The bbox (lat ≤ 10.5) admits it; the nested
    //    cast evicts it — the degenerate case the r15 relax must get
    //    right;
    //  user 280 at (10.5, -40.5): zone1 → 1 → inside; zone3 → 2 → out;
    //  user 133 at (43.5, 20.5): INSIDE zone1's bbox (lat ≤ 45,
    //    lon ≤ 25) but both xints (-6.5, -21.9) sit left of the point
    //    → 0 crossings → outside: the bbox prune alone would wrongly
    //    admit it, the ray cast must evict it;
    //  user 9 at (-80.5, 0.5): zone2 bottom/closing edges straddle,
    //    xints {136, -171.5} → 1 → inside;
    //  user 90 at (0.5, 0.5): zone4's vertical edges straddle, xints
    //    {10 (right, crossing), -30 (left, not)} → 1 → INSIDE the
    //    rectangle (horizontal edges contribute 0 by the gate); zone1
    //    xints {22.4, -64.05} → 1 → inside; zone3 xints {49.2, 1.5}
    //    → 2 → out.
    val dir = java.nio.file.Files.createTempDirectory("graft-geo-zones").toString
    Seq(
      (190L, ts("2024-01-01 10:00:00"), 100L), // lon 10.5, lat 10.5
      (139L, ts("2024-01-01 10:00:00"), 280L), // lon -40.5, lat 10.5
      (200L, ts("2024-01-01 10:00:00"), 133L), // lon 20.5, lat 43.5
      (180L, ts("2024-01-01 10:00:00"), 9L),   // lon 0.5, lat -80.5
      (540L, ts("2024-01-01 10:00:00"), 90L))  // lon 0.5, lat 0.5
      .toDF("event_id", "ts", "user_id")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = SparkEntry.queries("ltss_geo_zones")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(got.toSeq == Seq((1L, 90L), (1L, 100L), (1L, 280L), (2L, 9L),
      (3L, 100L), (4L, 90L)),
      s"containment diverged from the hand walk: ${got.toSeq}")
  }

  test("ltss_geo_dp: hand-traced Douglas-Peucker — max-deviation split, collinear drop, vs the radial rule") {
    // user 0 under the 2-D mapping (lat = (uid+eid)%180−90+0.5,
    // lon = eid%360−180+0.5), four fixes:
    //   P0 = e180 → (lon 0.5,    lat −89.5)
    //   P1 = e200 → (lon 20.5,   lat −69.5)
    //   P2 = e220 → (lon 40.5,   lat −49.5)
    //   P3 = e370 → (lon −169.5, lat −79.5)
    // Chord P0→P3: dx=−170, dy=10, len2=29000, thresh=100·len2=2.9e6.
    //   P1: cross = (−170)(−20) − (−20)(10) = 3600 → 3600² = 1.296e7
    //   P2: cross = (−170)(−40) − (−40)(10) = 7200 → 7200² = 5.184e7 ← max
    // 5.184e7 > 2.9e6 → split at P2. Chord P0→P2: dx=dy=40;
    //   P1: cross = 40(−20) − (−20)(40) = 0 → COLLINEAR → dropped.
    // Kept: {P0, P2, P3}. The CONTRAST with ltss_geo_simplify's radial
    // rule: radial keeps P1 whenever it sits ≥ D from the last kept
    // fix regardless of deviation (spacing-driven), and can never make
    // the max-deviation pick that selects P2 over P1 here — D-P's
    // verdicts depend on distance from the CHORD, not from a neighbor.
    val dir = java.nio.file.Files.createTempDirectory("graft-geo-dp").toString
    Seq(
      (180L, ts("2024-01-01 10:00:00"), 0L),
      (200L, ts("2024-01-01 11:00:00"), 0L),
      (220L, ts("2024-01-01 12:00:00"), 0L),
      (370L, ts("2024-01-01 13:00:00"), 0L))
      .toDF("event_id", "ts", "user_id")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = SparkEntry.queries("ltss_geo_dp")(spark, dir)
      .collect().map(r => (r.getLong(2), r.getDouble(3), r.getDouble(4)))
    assert(got.toSeq == Seq(
      (180L, -89.5, 0.5), (220L, -49.5, 40.5), (370L, -79.5, -169.5)),
      s"D-P picks diverged from the hand trace: ${got.toSeq}")
  }

  test("dpKeep: zero-length chord falls back to point distance; first-max tie-break") {
    import graft.operators.Queries.{DpFix, dpKeep}
    def f(seq: Long, lat: Double, lon: Double) =
      DpFix(ts("2024-01-01 10:00:00"), seq, lat, lon)
    // closed loop (endpoints coincide): len2 = 0 — the far middle point
    // (30° away, dist² = 900 > ε² = 100) must survive; a near one
    // (5° → 25) must not
    assert(dpKeep(IndexedSeq(
      f(1, 0.5, 0.5), f(2, 0.5, 30.5), f(3, 0.5, 0.5)), 100.0).toSeq ==
      Seq(true, true, true))
    assert(dpKeep(IndexedSeq(
      f(1, 0.5, 0.5), f(2, 0.5, 5.5), f(3, 0.5, 0.5)), 100.0).toSeq ==
      Seq(true, false, true))
    // a PLATEAU: two interior points with the IDENTICAL deviation off
    // the horizontal chord (cross = 100·15 = 1500 for both). The split
    // must take the FIRST (smallest index); the second then sits 150/√…
    // off the new chord — under ε — and drops. Had the tie broken the
    // other way the kept set would be its mirror, so the assertion
    // pins the tie-break itself, not just the split count.
    val tied = dpKeep(IndexedSeq(
      f(1, 0.5, 0.5), f(2, 15.5, 45.5), f(3, 15.5, 55.5), f(4, 0.5, 100.5)), 100.0)
    assert(tied.toSeq == Seq(true, true, false, true),
      s"tie must break to the smallest index: ${tied.toSeq}")
  }

  test("ltss_geo_zone_stats: rectangle closed forms — exact shoelace area, closed-form perimeter") {
    // rect_box (zone 4) has closed forms independent of both engines:
    // area = width × height = 40 × 30.5 = 1220 deg² EXACTLY (shoelace
    // over quarter-integers), perimeter = two same-latitude legs (the
    // legM closed form) + two meridian legs (2R·asin(sin(Δφ/2)) =
    // R·Δφ — asin∘sin is the identity on the range), each floored.
    val rows = SparkEntry.queries("ltss_geo_zone_stats")(spark, fixtureDir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getDouble(3), r.getLong(4)))
    assert(rows.map(_._1).toSeq == Seq(1L, 2L, 3L, 4L))
    val rect = rows.find(_._1 == 4L).get
    assert(rect._2 == "rect_box" && rect._3 == 4L)
    assert(rect._4 == 1220.0, s"shoelace area must be exact: ${rect._4}")
    val meridLeg = math.floor(R * math.toRadians(30.5) * 1000.0).toLong
    val expected = legM(10.5, 40.0) + legM(-20.0, 40.0) + 2 * meridLeg
    // the kernel's sqrt(pow(sin x, 2)) vs the closed form's sin x can
    // land on opposite sides of a floor boundary — allow 1 m per edge
    assert(math.abs(rect._5 - expected) <= 4,
      s"perimeter ${rect._5} diverged from closed form $expected")
    // the quadrilateral zone 3 pins the irregular shoelace: vertices
    // (0,-10),(50,-5),(45,30),(5,25) → cross terms 500, 1725, 975, −50
    // → |3150|/2 = 1575
    assert(rows.find(_._1 == 3L).get._4 == 1575.0)
  }

  test("ltss_zones_dwell: hand-traced held intervals, visit gaps, and the overlap accounting") {
    // user 90 (lat 0.5) sits inside zones 1 AND 4 at lon 0.5 (the
    // ltss_geo_zones hand walk), leaves to lon 100.5 (outside every
    // zone), and returns: two visits to each containing zone, with
    // only the FIRST fix holding time inside (1 h to the next fix;
    // the return fix is the entity's last → holds 0; the away fix's
    // 2 h charge to no zone). user 9 (lat −80.5, zone 2) emits once:
    // one visit, zero held dwell — the no-clairvoyance convention.
    val dir = java.nio.file.Files.createTempDirectory("graft-zones-dwell").toString
    Seq(
      (180L, ts("2024-01-01 10:00:00"), 90L), // lon 0.5: in zones 1, 4
      (280L, ts("2024-01-01 11:00:00"), 90L), // lon 100.5: outside all
      (540L, ts("2024-01-01 13:00:00"), 90L), // lon 0.5 again: re-enter
      (180L, ts("2024-01-01 10:00:00"), 9L))  // lat -80.5: zone 2
      .toDF("event_id", "ts", "user_id")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = SparkEntry.queries("ltss_zones_dwell")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    val hourUs = 3600000000L
    assert(got.toSeq == Seq(
      (1L, 90L, 2L, hourUs, 2L),
      (2L, 9L, 1L, 0L, 1L),
      (4L, 90L, 2L, hourUs, 2L)),
      s"dwell accounting diverged from the hand trace: ${got.toSeq}")
  }

  test("ltss_geo_zone_centroid: rectangle closed form, centroid-inside consistency") {
    // rect_box: centroid = edge midpoints = (−10, −4.75), exactly — the
    // shoelace centroid of a rectangle is its center, and the two
    // closing divisions land on representable values; the ray cast of
    // the centroid against its own ring must agree (inside = 1), a
    // consistency check between two independent kernels
    val rows = SparkEntry.queries("ltss_geo_zone_centroid")(spark, fixtureDir)
      .collect().map(r => (r.getLong(0), r.getDouble(2), r.getDouble(3), r.getInt(4)))
    assert(rows.map(_._1).toSeq == Seq(1L, 2L, 3L, 4L))
    assert(rows.find(_._1 == 4L).get == ((4L, -10.0, -4.75, 1)),
      s"rectangle centroid diverged: ${rows.toSeq}")
    // every fixture zone is convex enough to contain its centroid
    assert(rows.forall(_._4 == 1), s"centroid-inside consistency: ${rows.toSeq}")
  }

  test("ltss_geo_zones_overlap: the hand-walked containment implies exactly the (1,3) and (1,4) pairs") {
    // the ltss_geo_zones hand-walk fixture: user 100 sits in zones 1+3
    // (the deliberate overlap), user 90 in zones 1+4, user 280 in 1
    // only, user 9 in 2 only, user 133 in none — so the pair panel is
    // (1,3) → 1 shared entity and (1,4) → 1, nothing else
    val dir = java.nio.file.Files.createTempDirectory("graft-zones-ovl").toString
    Seq(
      (190L, ts("2024-01-01 10:00:00"), 100L),
      (139L, ts("2024-01-01 10:00:00"), 280L),
      (200L, ts("2024-01-01 10:00:00"), 133L),
      (180L, ts("2024-01-01 10:00:00"), 9L),
      (540L, ts("2024-01-01 10:00:00"), 90L))
      .toDF("event_id", "ts", "user_id")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = SparkEntry.queries("ltss_geo_zones_overlap")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((1L, 3L, 1L), (1L, 4L, 1L)),
      s"overlap pairs diverged from the hand walk: ${got.toSeq}")
  }

  test("ltss_geo_zone_nearest: inside ties break to the smallest zone; the outside distance matches the projection closed form") {
    // user 90 at (0.5, 0.5) is inside zones 1 AND 4 (the ltss_geo_zones
    // hand walk) — both distances 0, the argmin tie takes zone 1;
    // user 100 with e240 sits at (10.5, 60.5), outside everything, and
    // its nearest boundary is zone 3's (50,−5)→(45,30) edge:
    //   len² = 25+1225 = 1250, t = 10.5·(−5)+15.5·35 = 490 ∈ (0, len²)
    //   d² = (10.5²+15.5²) − 490²/1250 = 350.5 − 192.08 = 158.42
    val dir = java.nio.file.Files.createTempDirectory("graft-zone-near").toString
    Seq(
      (540L, ts("2024-01-01 10:00:00"), 90L),  // lon 0.5, lat 0.5
      (240L, ts("2024-01-01 10:00:00"), 100L)) // lon 60.5, lat 10.5
      .toDF("event_id", "ts", "user_id")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = SparkEntry.queries("ltss_geo_zone_nearest")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3), r.getDouble(4)))
    assert(got.length == 2)
    assert(got(0) == ((90L, 1L, 1, 0.0)), s"inside tie diverged: ${got.toSeq}")
    assert(got(1)._1 == 100L && got(1)._2 == 3L && got(1)._3 == 0)
    assert(math.abs(got(1)._4 - math.sqrt(158.42)) < 1e-12,
      s"projection closed form diverged: ${got(1)._4}")
  }

  test("ltss_geo_hull: hand-walked boundary — interior fixes drop, duplicate boundary positions both emit") {
    // user 0 under the skew mapping (lat = 7e%180−89.5, lon = e%360−179.5):
    //   e0   → P1(−179.5, −89.5)   lower-left vertex
    //   e100 → P2(−79.5, 70.5)     upper vertex
    //   e150 → (−29.5, 60.5)       INTERIOR (below chord P2→P5, above P1→P4)
    //   e200 → (20.5, 50.5)        INTERIOR (same chords)
    //   e300 → P4(120.5, 30.5)     lower vertex (below chord P1→P5)
    //   e359 → P5(179.5, 83.5)     right vertex
    //   e360 → P1's EXACT position again (e and e+360 map identically) —
    //          a duplicate boundary position, both fixes must emit
    val dir = java.nio.file.Files.createTempDirectory("graft-geo-hull").toString
    Seq(0L, 100L, 150L, 200L, 300L, 359L, 360L).zipWithIndex.map {
      case (e, i) => (e, ts(f"2024-01-01 1$i%01d:00:00"), 0L)
    }.toDF("event_id", "ts", "user_id")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = SparkEntry.queries("ltss_geo_hull")(spark, dir)
      .collect().map(_.getLong(2)).toSeq
    assert(got == Seq(0L, 100L, 300L, 359L, 360L),
      s"hull boundary diverged from the hand walk: $got")
  }

  test("ltss_geo_contacts: hand-traced contact log — window edges inclusive, self-pairs out, exactly-once") {
    // users 10 (lat −79.5) and 12 (lat −77.5) move within 8° of each
    // other; user 120 (lat 30.5) is 110° away. lon = eid%360−180+.5.
    val dir = java.nio.file.Files.createTempDirectory("graft-contacts").toString
    Seq(
      (180L, ts("2024-01-01 10:00:00"), 10L),  // lon 0.5
      (182L, ts("2024-01-01 11:30:00"), 12L),  // lon 2.5: d²=8, Δt=1.5h → contact
      (184L, ts("2024-01-01 13:00:00"), 12L),  // lon 4.5
      (186L, ts("2024-01-01 14:00:00"), 10L),  // lon 6.5: vs e184 d²=8, Δt=1h → contact
      (188L, ts("2024-01-01 16:00:00"), 12L),  // lon 8.5: vs e186 d²=8, Δt=EXACTLY 2h → inclusive edge
      (180L, ts("2024-01-01 10:30:00"), 120L)) // far: no contact
      .toDF("event_id", "ts", "user_id")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val rows = SparkEntry.queries("ltss_geo_contacts")(spark, dir)
      .selectExpr("user_a", "event_a", "user_b", "event_b", "d2", "dt_us")
      .as[(Long, Long, Long, Long, Double, Long)].collect().toSeq
    assert(rows == rows.distinct, "every pair must emit exactly once")
    // orientation is by TIME (earlier fix is the a-side), not by id:
    // the 13:00→14:00 contact reads (12, 10)
    assert(rows == Seq(
      (10L, 180L, 12L, 182L, 8.0, 5400000000L),
      (12L, 184L, 10L, 186L, 8.0, 3600000000L),
      (10L, 186L, 12L, 188L, 8.0, 7200000000L)),
      s"contact log diverged from the hand trace: $rows")
    // absent by rule, not by accident: u12's own 11:30→13:00 fixes are
    // inside both windows but share the entity (self-contact excluded),
    // and u10 10:00 vs u12 14:00... exceeds T (Δt 2.5h > 2h)
    // the graph rollup folds the 3 time-oriented events into ONE
    // unordered edge spanning first to last contact
    val edges = SparkEntry.queries("ltss_geo_contact_pairs")(spark, dir)
      .selectExpr("id_lo", "id_hi", "n_contacts", "min_d2",
        "CAST(first_contact AS STRING)", "CAST(last_contact AS STRING)")
      .as[(Long, Long, Long, Double, String, String)].collect().toSeq
    assert(edges == Seq((10L, 12L, 3L, 8.0,
      "2024-01-01 10:00:00", "2024-01-01 16:00:00")),
      s"contact graph diverged from the hand trace: $edges")
  }

  test("clipIntersectionArea: rectangle closed form exact, sampling adversary, containment pin") {
    import graft.operators.Queries.clipIntersectionArea
    def rect(x0: Double, y0: Double, x1: Double, y1: Double) =
      IndexedSeq((x0, y0), (x1, y0), (x1, y1), (x0, y1))
    // hand-pinned rectangle overlap: (0,0)-(10,8) ∩ (4,3)-(20,9) =
    // 6 × 5 = 30, in either subject/clip role and either orientation
    val a = rect(0, 0, 10, 8)
    val b = rect(4, 3, 20, 9)
    assert(clipIntersectionArea(a, b) == 30.0)
    assert(clipIntersectionArea(b, a) == 30.0)
    assert(clipIntersectionArea(a.reverse, b) == 30.0)
    // disjoint boxes clip to nothing; containment reports the inner area
    assert(clipIntersectionArea(rect(0, 0, 2, 2), rect(5, 5, 8, 8)) == 0.0)
    assert(clipIntersectionArea(rect(2, 2, 4, 4), rect(0, 0, 10, 10)) == 4.0)
    // PROPERTY (exact): random lattice rectangle pairs vs the
    // min/max closed form — a different construction than the clip
    val rnd = new scala.util.Random(163)
    for (t <- 1 to 300) {
      def rrect() = {
        val x0 = rnd.nextInt(40) - 20; val y0 = rnd.nextInt(40) - 20
        (x0.toDouble, y0.toDouble, (x0 + 1 + rnd.nextInt(15)).toDouble,
          (y0 + 1 + rnd.nextInt(15)).toDouble)
      }
      val (ax0, ay0, ax1, ay1) = rrect(); val (bx0, by0, bx1, by1) = rrect()
      val expected = math.max(0.0, math.min(ax1, bx1) - math.max(ax0, bx0)) *
        math.max(0.0, math.min(ay1, by1) - math.max(ay0, by0))
      val got = clipIntersectionArea(
        rect(ax0, ay0, ax1, ay1), rect(bx0, by0, bx1, by1))
      assert(got == expected, s"trial $t: rect closed form diverged: $got vs $expected")
    }
    // PROPERTY (tolerance): random triangle ∩ rectangle vs brute-force
    // point sampling on a fine grid — independent of the clip entirely
    def insideRing(p: (Double, Double), ring: IndexedSeq[(Double, Double)]): Boolean = {
      var c = false
      val n = ring.length
      var i = 0
      while (i < n) {
        val (x1, y1) = ring(i); val (x2, y2) = ring((i + 1) % n)
        if ((y1 > p._2) != (y2 > p._2) &&
          p._1 < (x2 - x1) * (p._2 - y1) / (y2 - y1) + x1) c = !c
        i += 1
      }
      c
    }
    var tried = 0
    while (tried < 25) {
      val tri = IndexedSeq.fill(3)(
        (rnd.nextInt(30) - 15.0, rnd.nextInt(30) - 15.0))
      val cross = (tri(1)._1 - tri(0)._1) * (tri(2)._2 - tri(0)._2) -
        (tri(1)._2 - tri(0)._2) * (tri(2)._1 - tri(0)._1)
      if (cross != 0.0) { // non-degenerate triangles only
        tried += 1
        val box = rect(-8, -8, 8, 8)
        val got = clipIntersectionArea(box, tri) // clip = triangle (convex)
        val step = 0.125
        var cnt = 0L
        var y = -15.0 + step / 2
        while (y < 15.0) {
          var x = -15.0 + step / 2
          while (x < 15.0) {
            if (insideRing((x, y), tri) && insideRing((x, y), box)) cnt += 1
            x += step
          }
          y += step
        }
        val est = cnt * step * step
        assert(math.abs(got - est) <= 3.0,
          s"sampling adversary diverged on $tri: clip=$got sampled=$est")
      }
    }
    // a REFLEX clip ring takes the signed-fan path (r17 — the r16
    // refusal closed): the dart (0,0)(10,0)(5,2)(10,10)(0,10) clipped
    // against a big box is its own area — box 10×10 minus the notch
    // triangle (10,0)(5,2)(10,10): area = 100 − |shoelace|/2 = 100 − 25
    val reflex = IndexedSeq((0.0, 0.0), (10.0, 0.0), (5.0, 2.0), (10.0, 10.0), (0.0, 10.0))
    val big = rect(-5, -5, 15, 15)
    assert(math.abs(clipIntersectionArea(big, reflex) - 75.0) < 1e-9,
      s"reflex containment: ${clipIntersectionArea(big, reflex)}")
    // concave×concave: two interlocking darts — pinned by the sampling
    // adversary below instead of a closed form
    val reflex2 = IndexedSeq((2.0, -3.0), (12.0, -3.0), (7.0, 1.0), (12.0, 7.0), (2.0, 7.0))
    val ccGot = clipIntersectionArea(reflex2, reflex)
    // PROPERTY (tolerance): random star-shaped (usually reflex) rings ∩
    // random rectangle vs brute-force point sampling
    def sampleArea(r1: IndexedSeq[(Double, Double)],
        r2: IndexedSeq[(Double, Double)]): Double = {
      val step = 0.125
      var cnt = 0L
      var y = -15.0 + step / 2
      while (y < 15.0) {
        var x = -15.0 + step / 2
        while (x < 15.0) {
          if (insideRing((x, y), r1) && insideRing((x, y), r2)) cnt += 1
          x += step
        }
        y += step
      }
      cnt * step * step
    }
    assert(math.abs(ccGot - sampleArea(reflex2, reflex)) <= 3.0,
      s"concave x concave diverged from sampling: $ccGot vs ${sampleArea(reflex2, reflex)}")
    for (t <- 1 to 20) {
      // a star polygon: random radii at sorted random angles around a
      // center — simple by construction, reflex with high probability
      val k = 5 + rnd.nextInt(4)
      val angles = IndexedSeq.fill(k)(rnd.nextDouble() * 2 * math.Pi).sorted
      val star = angles.map(a => (2.0 + 10.0 * rnd.nextDouble()) match {
        case r => (r * math.cos(a), r * math.sin(a))
      })
      if (angles.distinct.length == k && math.abs(
          graft.operators.Queries.shoelaceSum(star)) > 1.0) {
        val box = rect(-6, -4, 7, 9)
        val got = clipIntersectionArea(box, star)
        val est = sampleArea(box, star)
        assert(math.abs(got - est) <= 3.0,
          s"trial $t: star-clip diverged from sampling: $got vs $est ($star)")
      }
    }
  }

  test("ltss_geo_zones_intersect_concave: the reflex fixture matches its hand-computed areas") {
    val dir = java.nio.file.Files.createTempDirectory("graft-zclip-cc").toString
    Seq((1L, ts("2024-01-01 10:00:00"), 1L))
      .toDF("event_id", "ts", "user_id")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val rows = SparkEntry.queries("ltss_geo_zones_intersect_concave")(spark, dir)
      .collect().map(r => ((r.getLong(0), r.getLong(2)), r.getDouble(4))).toMap
    // hand areas (see ZoneDefsConcave scaladoc): L∩U concave×concave,
    // L∩mid reflex-clip×convex, L∩inner containment via fan triangles,
    // U∩mid the notch-subtracted band, mid∩inner a box-surviving
    // edge-touch with true area 0
    val expected = Map((1L, 2L) -> 150.0, (1L, 3L) -> 116.0, (1L, 4L) -> 36.0,
      (2L, 3L) -> 250.0, (2L, 4L) -> 9.0, (3L, 4L) -> 0.0)
    assert(rows.keySet == expected.keySet, s"pair set diverged: $rows")
    for ((k, v) <- expected)
      assert(math.abs(rows(k) - v) < 1e-9, s"pair $k: ${rows(k)} vs $v")
  }

  test("ltss_geo_zones_intersect: zone 4 inside zone 1 reports exactly its own 1220 area") {
    val dir = java.nio.file.Files.createTempDirectory("graft-zclip").toString
    Seq((1L, ts("2024-01-01 10:00:00"), 1L))
      .toDF("event_id", "ts", "user_id")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val rows = SparkEntry.queries("ltss_geo_zones_intersect")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(4))).toSeq
    assert(rows.map(p => (p._1, p._2)) == Seq((1L, 3L), (1L, 4L), (3L, 4L)),
      s"bbox-flagged pair set diverged: $rows")
    // zone 4 (the axis-aligned 40×30.5 rectangle) lies entirely inside
    // zone 1 → the intersection is zone 4 itself: 40 × 30.5 = 1220
    assert(rows.find(p => p._1 == 1L && p._2 == 4L).get._3 == 1220.0)
  }

  test("discreteFrechet2: hand-traced DP table and the coupling DEFINITION agree") {
    import graft.operators.Queries.{DpFix, discreteFrechet2}
    def fix(lon: Double, lat: Double) =
      DpFix(java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 0L, lat, lon)
    // hand trace: P = (0,0)→(4,0), Q = (0,3)→(2,3)→(4,3)
    //   d² table:  9 13 25        ca: 9 13 25
    //             25 13  9           25 13 13   → Fréchet² = 13
    val p = IndexedSeq(fix(0, 0), fix(4, 0))
    val q = IndexedSeq(fix(0, 3), fix(2, 3), fix(4, 3))
    assert(discreteFrechet2(p, q) == 13.0, "hand-traced table diverged")
    assert(discreteFrechet2(q, p) == 13.0, "Fréchet is symmetric")
    // degenerate 1×m: the single point pairs with every q — max d²
    assert(discreteFrechet2(IndexedSeq(fix(0, 0)),
      IndexedSeq(fix(0, 3), fix(0, 5))) == 25.0)
    // ADVERSARY: the DEFINITION — min over all monotone couplings of
    // the max pair distance — enumerated exhaustively on random small
    // lattice tracks (a different construction than the DP)
    def couplingFrechet2(p: IndexedSeq[DpFix], q: IndexedSeq[DpFix]): Double = {
      val memo = scala.collection.mutable.Map.empty[(Int, Int), Double]
      def d2(i: Int, j: Int) = {
        val dx = p(i).lon - q(j).lon; val dy = p(i).lat - q(j).lat
        dx * dx + dy * dy
      }
      def go(i: Int, j: Int): Double = memo.getOrElseUpdate((i, j), {
        val here = d2(i, j)
        if (i == 0 && j == 0) here
        else {
          val opts = Seq(
            if (i > 0) Some(go(i - 1, j)) else None,
            if (j > 0) Some(go(i, j - 1)) else None,
            if (i > 0 && j > 0) Some(go(i - 1, j - 1)) else None).flatten
          math.max(here, opts.min)
        }
      })
      go(p.length - 1, q.length - 1)
    }
    val rnd = new scala.util.Random(16)
    for (t <- 1 to 200) {
      def track(n: Int) = IndexedSeq.fill(n)(
        fix(rnd.nextInt(21) - 10 + 0.5, rnd.nextInt(21) - 10 + 0.5))
      val a = track(1 + rnd.nextInt(7))
      val b = track(1 + rnd.nextInt(7))
      assert(discreteFrechet2(a, b) == couplingFrechet2(a, b),
        s"trial $t: DP diverged from the coupling definition on $a vs $b")
    }
  }

  test("ltss_geo_frechet: an entity pair moving together ranks first at distance 0") {
    // users 10 and 190 collide in the lattice's latitude map
    // ((u+e)%180) and share every event id → IDENTICAL tracks, Fréchet
    // 0; user 30 shares the events but walks a different latitude band
    val dir = java.nio.file.Files.createTempDirectory("graft-frechet").toString
    val events = (0 until 6).flatMap { k =>
      Seq(10L, 190L, 30L).map { u =>
        (180L + 3 * k, ts(s"2024-01-0${k + 1} 10:00:00"), u)
      }
    }
    events.toDF("event_id", "ts", "user_id")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val rows = SparkEntry.queries("ltss_geo_frechet")(spark, dir)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(5), r.getDouble(6)))
    assert(rows.nonEmpty && rows.head == ((10L, 190L, 0.0, 0.0)),
      s"the twin tracks must rank first at 0: ${rows.toSeq}")
    // the (10, 30) and (30, 190) pairs: same lon walk, latitude bands
    // 20° apart (lat = (u+e)%180−90+.5 → users 10/30 differ by 20°) —
    // every coupling pairs some fix at full band separation, and the
    // aligned coupling achieves exactly that → Fréchet² = 400
    assert(rows.toSet.contains((10L, 30L, 400.0, 20.0)) &&
      rows.toSet.contains((30L, 190L, 400.0, 20.0)),
      s"band-separated pairs diverged: ${rows.toSeq}")
  }

  test("ltss_geo_zone_centroid_concave: the U-notch centroid lands outside its own ring") {
    val dir = java.nio.file.Files.createTempDirectory("graft-zcent-cc").toString
    Seq((1L, ts("2024-01-01 10:00:00"), 1L))
      .toDF("event_id", "ts", "user_id")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val rows = SparkEntry.queries("ltss_geo_zone_centroid_concave")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getDouble(2), r.getDouble(3), r.getInt(4)))
      .toSeq
    // l_shape decomposes into two 200-area arms with centroids (10,5)
    // and (5,20) → ((7.5, 12.5)), inside the vertical arm
    assert(rows.find(_._1 == 1L).contains((1L, 7.5, 12.5, 1)),
      s"l_shape centroid diverged: $rows")
    // u_notch: cx = 20 by symmetry; cy = (600·15 − 130·18.5)/470 =
    // 6595/470 ≈ 14.03 — INSIDE the notch [15,25]×[12,25], so OUTSIDE
    // the ring: the consistency flag's 0 branch, unreachable on any
    // convex fixture
    val u = rows.find(_._1 == 2L).get
    assert(u._2 == 20.0 && math.abs(u._3 - 6595.0 / 470.0) < 1e-12 && u._4 == 0,
      s"u_notch centroid must land outside its own ring: $u")
    // the convex boxes stay inside
    assert(rows.find(_._1 == 3L).exists(_._4 == 1) &&
      rows.find(_._1 == 4L).exists(_._4 == 1), s"boxes must be inside: $rows")
  }

  test("ltss_geo_convoys: three consecutive contact hours form one episode; an isolated hour filters") {
    // u10 and u12 exchange close fixes at 10:15, 11:20, 12:05 — hours
    // 10..12 consecutive → ONE episode (8 contact rows: the same-stamp
    // pairs plus the within-2h cross pairs). u10 and u11 meet only at
    // 15:00 — a 1-hour run, below the 3-hour rule.
    val dir = java.nio.file.Files.createTempDirectory("graft-convoy").toString
    val events = Seq(
      (180L, ts("2024-01-01 10:15:00"), 10L), (182L, ts("2024-01-01 10:15:00"), 12L),
      (184L, ts("2024-01-01 11:20:00"), 10L), (186L, ts("2024-01-01 11:20:00"), 12L),
      (188L, ts("2024-01-01 12:05:00"), 10L), (190L, ts("2024-01-01 12:05:00"), 12L),
      (194L, ts("2024-01-01 15:00:00"), 11L), (196L, ts("2024-01-01 15:00:00"), 10L))
    events.toDF("event_id", "ts", "user_id")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val rows = SparkEntry.queries("ltss_geo_convoys")(spark, dir)
      .selectExpr("id_lo", "id_hi", "hr_start", "n_hours", "n_contacts",
        "CAST(first_contact AS STRING)", "CAST(last_contact AS STRING)")
      .as[(Long, Long, Long, Long, Long, String, String)].collect().toSeq
    val hr10 = ts("2024-01-01 10:15:00").getTime / 3600000L
    assert(rows == Seq((10L, 12L, hr10, 3L, 8L,
      "2024-01-01 10:15:00", "2024-01-01 12:05:00")),
      s"convoy episode diverged from the hand trace: $rows")
  }

  test("discreteDtw2: hand-traced table; exhaustive path enumeration agrees; warping forgives speed") {
    import graft.operators.Queries.{DpFix, discreteDtw2}
    def fix(lon: Double, lat: Double) =
      DpFix(java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 0L, lat, lon)
    // hand trace on the Fréchet fixture: P = (0,0)→(4,0),
    // Q = (0,3)→(2,3)→(4,3); d² table 9 13 25 / 25 13 9
    //   c: 9 22 47
    //     34 22 31   → DTW² sum = 31 (diagonal 9+13, then the 9)
    val p = IndexedSeq(fix(0, 0), fix(4, 0))
    val q = IndexedSeq(fix(0, 3), fix(2, 3), fix(4, 3))
    assert(discreteDtw2(p, q) == 31.0, "hand-traced table diverged")
    assert(discreteDtw2(q, p) == 31.0, "DTW is symmetric (path reversal)")
    // degenerate 1×m: the single point pairs with every q — the SUM
    assert(discreteDtw2(IndexedSeq(fix(0, 0)),
      IndexedSeq(fix(0, 3), fix(0, 5))) == 34.0)
    // the DTW point: a slower traversal of the SAME route warps on at
    // zero cost (repeats align with their source point)
    val a = IndexedSeq(fix(0, 0), fix(2, 0), fix(4, 0))
    val aSlow = IndexedSeq(fix(0, 0), fix(0, 0), fix(2, 0),
      fix(2, 0), fix(4, 0), fix(4, 0))
    assert(discreteDtw2(a, aSlow) == 0.0, "speed warping must be free")
    // ADVERSARY: the DEFINITION — min total d² over ALL monotone
    // warping paths, enumerated explicitly (no memo, no DP — a
    // different construction; exact equality holds because every sum
    // is integer-valued)
    def pathMin(p: IndexedSeq[DpFix], q: IndexedSeq[DpFix]): Double = {
      def d2(i: Int, j: Int) = {
        val dx = p(i).lon - q(j).lon; val dy = p(i).lat - q(j).lat
        dx * dx + dy * dy
      }
      var best = Double.MaxValue
      def walk(i: Int, j: Int, acc: Double): Unit = {
        val s = acc + d2(i, j)
        if (i == p.length - 1 && j == q.length - 1) best = math.min(best, s)
        else {
          if (i + 1 < p.length) walk(i + 1, j, s)
          if (j + 1 < q.length) walk(i, j + 1, s)
          if (i + 1 < p.length && j + 1 < q.length) walk(i + 1, j + 1, s)
        }
      }
      walk(0, 0, 0.0)
      best
    }
    val rnd = new scala.util.Random(18)
    for (t <- 1 to 200) {
      def track(n: Int) = IndexedSeq.fill(n)(
        fix(rnd.nextInt(21) - 10 + 0.5, rnd.nextInt(21) - 10 + 0.5))
      val x = track(1 + rnd.nextInt(5))
      val y = track(1 + rnd.nextInt(5))
      assert(discreteDtw2(x, y) == pathMin(x, y),
        s"trial $t: DP diverged from exhaustive path enumeration on $x vs $y")
    }
  }

  test("ltss_geo_dtw: twin tracks rank first at 0; the warped band cost matches exhaustive enumeration") {
    import graft.operators.Queries.DpFix
    // the Fréchet fixture: users 10/190 collide in the latitude map
    // ((u+e)%180) and share every event → identical tracks, DTW 0;
    // user 30 walks the same lon ladder 20° above
    val dir = java.nio.file.Files.createTempDirectory("graft-dtw").toString
    val events = (0 until 6).flatMap { k =>
      Seq(10L, 190L, 30L).map { u =>
        (180L + 3 * k, ts(s"2024-01-0${k + 1} 10:00:00"), u)
      }
    }
    events.toDF("event_id", "ts", "user_id")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val rows = SparkEntry.queries("ltss_geo_dtw")(spark, dir)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(5), r.getDouble(6)))
    assert(rows.nonEmpty && rows.head == ((10L, 190L, 0.0, 0.0)),
      s"the twin tracks must rank first at 0: ${rows.toSeq}")
    // the band pair's minimal warp, computed by explicit enumeration
    // over the same 6+6 tracks (the unit adversary's construction)
    def fix(u: Long, k: Int) = DpFix(
      java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 0L,
      ((u + 180 + 3 * k) % 180 - 90).toDouble + 0.5,
      ((180 + 3 * k) % 360 - 180).toDouble + 0.5)
    val t10 = (0 until 6).map(fix(10L, _)).toIndexedSeq
    val t30 = (0 until 6).map(fix(30L, _)).toIndexedSeq
    var best = Double.MaxValue
    def d2(i: Int, j: Int) = {
      val dx = t10(i).lon - t30(j).lon; val dy = t10(i).lat - t30(j).lat
      dx * dx + dy * dy
    }
    def walk(i: Int, j: Int, acc: Double): Unit = {
      val s = acc + d2(i, j)
      if (i == 5 && j == 5) best = math.min(best, s)
      else {
        if (i < 5) walk(i + 1, j, s)
        if (j < 5) walk(i, j + 1, s)
        if (i < 5 && j < 5) walk(i + 1, j + 1, s)
      }
    }
    walk(0, 0, 0.0)
    val got = rows.find(r => r._1 == 10L && r._2 == 30L)
    assert(got.exists(_._3 == best),
      s"band-pair warp cost diverged from enumeration: $got vs $best")
    assert(got.exists(_._4 == best / 12L),
      s"per-step normalization diverged: $got vs ${best / 12L}")
  }

  test("directedHausdorff2: hand-traced asymmetric subset pair; metric properties hold on random lattice tracks") {
    import graft.operators.Queries.{DpFix, directedHausdorff2}
    def fix(lon: Double, lat: Double) =
      DpFix(java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 0L, lat, lon)
    // hand trace: P = (0,0)→(4,0) is a SUBSET of
    // Q = (0,0)→(2,0)→(4,0)→(4,3): every P point sits IN Q, so the
    // directed distance P→Q is 0 — but Q's (2,0) is 4 away² from P's
    // nearest and (4,3) is 9 away², so Q→P = 9. The asymmetry IS the
    // point (Fréchet, which couples order, can never return 0 here
    // without also being 0 the other way).
    val p = IndexedSeq(fix(0, 0), fix(4, 0))
    val q = IndexedSeq(fix(0, 0), fix(2, 0), fix(4, 0), fix(4, 3))
    assert(directedHausdorff2(p, q) == 0.0, "subset direction must be 0")
    assert(directedHausdorff2(q, p) == 9.0, "hand-traced reverse diverged")
    // ADVERSARY: metric axioms on random lattice tracks — a different
    // discipline than re-running max-min: symmetry of the symmetric
    // form, identity (H=0 iff same point SET), and the triangle
    // inequality on the square roots
    val rnd = new scala.util.Random(17)
    def track(n: Int) = IndexedSeq.fill(n)(
      fix(rnd.nextInt(21) - 10 + 0.5, rnd.nextInt(21) - 10 + 0.5))
    def sym(a: IndexedSeq[DpFix], b: IndexedSeq[DpFix]): Double =
      math.sqrt(math.max(directedHausdorff2(a, b), directedHausdorff2(b, a)))
    for (t <- 1 to 200) {
      val a = track(1 + rnd.nextInt(7))
      val b = track(1 + rnd.nextInt(7))
      val c = track(1 + rnd.nextInt(7))
      assert(sym(a, b) == sym(b, a), s"trial $t: symmetry broke")
      val setsEqual = a.map(f => (f.lon, f.lat)).toSet == b.map(f => (f.lon, f.lat)).toSet
      assert((sym(a, b) == 0.0) == setsEqual,
        s"trial $t: identity of indiscernible point sets broke")
      assert(sym(a, c) <= sym(a, b) + sym(b, c) + 1e-9,
        s"trial $t: triangle inequality broke: ${sym(a, c)} > ${sym(a, b)} + ${sym(b, c)}")
      // directed 0 iff subset (on exact lattice sets)
      val aInB = a.map(f => (f.lon, f.lat)).toSet
        .subsetOf(b.map(f => (f.lon, f.lat)).toSet)
      assert((directedHausdorff2(a, b) == 0.0) == aInB,
        s"trial $t: directed-zero iff subset broke")
      // r20: the early-abandon primitive-array kernel (the production
      // path since the DP-cost fix) must return the BIT-IDENTICAL
      // directed value as the naive full scan, both directions
      def arrs(x: IndexedSeq[DpFix]) =
        (x.map(_.lat).toArray, x.map(_.lon).toArray)
      val (alat, alon) = arrs(a)
      val (blat, blon) = arrs(b)
      assert(graft.operators.Queries.directedHausdorff2Arrays(
          alat, alon, blat, blon) == directedHausdorff2(a, b),
        s"trial $t: early-abandon kernel diverged a->b")
      assert(graft.operators.Queries.directedHausdorff2Arrays(
          blat, blon, alat, alon) == directedHausdorff2(b, a),
        s"trial $t: early-abandon kernel diverged b->a")
    }
  }

  test("ltss_geo_hausdorff: twin tracks rank first; a truncated twin shows the directed asymmetry") {
    // users 10 and 190 collide in the latitude map ((u+e)%180); user
    // 190 gets only the FIRST THREE of user 10's six events, so track
    // 190 is a strict spatial SUBSET of track 10: directed 190→10 = 0,
    // 10→190 = the tail's escape = (9² + 9²) = 162 (fix k sits at
    // (3k+0.5, 3k−79.5); k=5 vs the subset's last k=2). User 30 walks
    // the same lon ladder 20° of latitude above user 10: each track's
    // START is the other's farthest point at exactly 20² = 400 (the
    // interior points reach within 202 via the δ=3 diagonal, verified
    // by the closed form 18δ²−120δ+400, but the endpoints pin the max).
    val dir = java.nio.file.Files.createTempDirectory("graft-hausdorff").toString
    val events =
      (0 until 6).flatMap { k =>
        Seq(10L, 30L).map(u => (180L + 3 * k, ts(s"2024-01-0${k + 1} 10:00:00"), u))
      } ++ (0 until 3).map { k =>
        (180L + 3 * k, ts(s"2024-01-0${k + 1} 10:00:00"), 190L)
      }
    events.toDF("event_id", "ts", "user_id")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val rows = SparkEntry.queries("ltss_geo_hausdorff")(spark, dir)
      .collect().map(r => (r.getLong(1), r.getLong(2),
        r.getDouble(5), r.getDouble(6), r.getDouble(7)))
    assert(rows.head == ((10L, 190L, 162.0, 0.0, 162.0)),
      s"the subset pair must rank first with the asymmetric pair: ${rows.toSeq}")
    assert(rows.toSet.contains((10L, 30L, 400.0, 400.0, 400.0)),
      s"the band-separated pair diverged: ${rows.toSeq}")
    // (30,190): 30's tail escapes the 3-fix subset to 922 (δ=3 from
    // k=5: 9·9 + 29²), while every 190 fix stays within 400 of track
    // 30 — and the pair pins the r18 TWO-SIDED screen's boundary:
    // d(190.start, track30)² = 400 passes at EXACTLY ≤ D² while
    // d(30.start, track190)² = 232, so both directed bounds admit
    assert(rows.toSet.contains((30L, 190L, 922.0, 400.0, 922.0)),
      s"the truncated cross pair diverged: ${rows.toSeq}")
  }

  test("ltss_geo_exposure: A-B-C chains transitively without an A-C contact; hops count the intermediaries") {
    // contact lattice: lat = user%180−90+.5, lon = event%360−180+.5,
    // R = 8°, T = 2 h. A(10) meets B(12) at 10:00/11:00 (d² = 2²+1² = 5,
    // Δt = 1 h); B meets C(14) across town at 20:00/20:30 (d² = 5,
    // Δt = 30 min); A and C are NEVER within R and T of each other —
    // yet C is in A's exposure chain at hop 2. D(50) has one isolated
    // fix: no contact, no exposure row.
    val dir = java.nio.file.Files.createTempDirectory("graft-exposure").toString
    val events = Seq(
      (100L, ts("2024-01-01 10:00:00"), 10L), // A at lon -79.5
      (101L, ts("2024-01-01 11:00:00"), 12L), // B at lon -78.5 → A-B
      (200L, ts("2024-01-01 20:00:00"), 12L), // B at lon 20.5
      (201L, ts("2024-01-01 20:30:00"), 14L), // C at lon 21.5 → B-C
      (300L, ts("2024-01-05 09:00:00"), 50L)) // D, isolated
    events.toDF("event_id", "ts", "user_id")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    // no A-C edge exists in the pair graph...
    val pairs = SparkEntry.queries("ltss_geo_contact_pairs")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((10L, 12L), (12L, 14L)),
      s"fixture must have exactly the A-B and B-C edges: $pairs")
    // ...but exposure closes the chain
    val rows = SparkEntry.queries("ltss_geo_exposure")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getTimestamp(4), r.getTimestamp(5)))
    val span = (ts("2024-01-01 10:00:00"), ts("2024-01-01 20:30:00"))
    assert(rows.toSeq == Seq(
      (10L, 10L, 3L, 0L, span._1, span._2),
      (12L, 10L, 3L, 1L, span._1, span._2),
      (14L, 10L, 3L, 2L, span._1, span._2)),
      s"hand-pinned chain diverged: ${rows.toSeq}")
  }

  test("ltss_geo_contact_cells: hand-pinned density panel; candidates bound emissions without running the join") {
    // the exposure-chain fixture: A+B co-locate in one (bucket, cell)
    // key, B+C in another, D alone in a third — each meeting key reads
    // k=2, within-pairs 1, and candidates ek·k = 2·2 = 4 (the join
    // would enumerate both fixes' early explosions against both late
    // homes; no neighboring key holds fixes in an adjacent bucket)
    val dir = java.nio.file.Files.createTempDirectory("graft-cellpanel").toString
    val events = Seq(
      (100L, ts("2024-01-01 10:00:00"), 10L),
      (101L, ts("2024-01-01 11:00:00"), 12L),
      (200L, ts("2024-01-01 20:00:00"), 12L),
      (201L, ts("2024-01-01 20:30:00"), 14L),
      (300L, ts("2024-01-05 09:00:00"), 50L))
    events.toDF("event_id", "ts", "user_id")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    def tb(t: java.sql.Timestamp) = t.getTime * 1000L / 7200000000L
    def cellOf(u: Long, e: Long) = {
      val lat = (u % 180 - 90).toDouble + 0.5
      val lon = (e % 360 - 180).toDouble + 0.5
      (math.floor((lat + 90.0) / 8.0).toLong, math.floor((lon + 180.0) / 8.0).toLong)
    }
    val (abx, aby) = cellOf(10L, 100L)
    assert(cellOf(12L, 101L) == ((abx, aby)), "fixture: A and B share the cell")
    val (bcx, bcy) = cellOf(12L, 200L)
    val (dx0, dy0) = cellOf(50L, 300L)
    val rows = SparkEntry.queries("ltss_geo_contact_cells")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toSet
    assert(rows == Set(
      (tb(ts("2024-01-01 10:00:00")), abx, aby, 2L, 2L, 1L, 4L),
      (tb(ts("2024-01-01 20:00:00")), bcx, bcy, 2L, 2L, 1L, 4L),
      (tb(ts("2024-01-05 09:00:00")), dx0, dy0, 1L, 1L, 0L, 1L)),
      s"hand-pinned panel diverged: $rows")
    // the panel's candidate total bounds what the join can emit
    val emitted = SparkEntry.queries("ltss_geo_contacts")(spark, dir).count()
    assert(emitted == 2L && emitted <= rows.toSeq.map(_._7).sum,
      s"candidates must bound emissions: $emitted vs ${rows.toSeq.map(_._7).sum}")
  }

  test("upsertZones: replace/add/drop with the write gate re-applied; a bad ring refuses the whole upsert") {
    import org.apache.spark.sql.functions.expr
    def zdf(rows: Seq[(Long, String, Seq[(Double, Double)])]) =
      rows.toDF("zone_id", "name", "verts")
        .withColumn("verts", expr("transform(verts, v -> struct(v._1 AS x, v._2 AS y))"))
    val dir = java.nio.file.Files.createTempDirectory("graft-zone-upsert").toString + "/z"
    graft.sources.LtssSink.writeZoneLayout(
      zdf(graft.operators.Queries.ZoneDefs), dir)
    // replace zone 3 with a triangle, add zone 5, drop zone 2
    val delta = zdf(Seq(
      (3L, "equatorial_v2", Seq((0.0, 0.0), (30.0, 0.0), (15.0, 20.0))),
      (5L, "new_box", Seq((100.0, -10.0), (120.0, -10.0), (120.0, 10.0), (100.0, 10.0)))))
    graft.sources.LtssSink.upsertZones(delta, dir, dropIds = Seq(2L))
    def dump() = spark.read.parquet(dir)
      .selectExpr("zone_id", "name", "lat_min", "lat_max", "lon_min", "lon_max")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5))).sortBy(_._1).toSeq
    val got = dump()
    assert(got.map(_._1) == Seq(1L, 3L, 4L, 5L), s"id set diverged: $got")
    // the replacement's bbox re-materialized from the NEW ring
    assert(got.find(_._1 == 3L).get == ((3L, "equatorial_v2", 0.0, 20.0, 0.0, 30.0)))
    assert(got.find(_._1 == 5L).get == ((5L, "new_box", -10.0, 10.0, 100.0, 120.0)))
    // replay: a no-op by content
    graft.sources.LtssSink.upsertZones(delta, dir, dropIds = Seq(2L))
    assert(dump() == got, "replayed upsert must be a no-op")
    // a degenerate incoming ring refuses the WHOLE upsert, stored
    // layout untouched (gate runs before any file moves)
    val e = intercept[IllegalArgumentException] {
      graft.sources.LtssSink.upsertZones(
        zdf(Seq((6L, "bad", Seq((0.0, 0.0), (5.0, 5.0), (10.0, 10.0))))), dir)
    }
    assert(e.getMessage.contains("shoelace"))
    assert(dump() == got, "a refused upsert must leave the layout untouched")
  }

  test("upsertZones lifecycle: version bumps, duplicate ids refuse, live owner refuses, crashed swap rolls forward") {
    import org.apache.spark.sql.functions.expr
    import graft.sources.LtssSink
    def zdf(rows: Seq[(Long, String, Seq[(Double, Double)])]) =
      rows.toDF("zone_id", "name", "verts")
        .withColumn("verts", expr("transform(verts, v -> struct(v._1 AS x, v._2 AS y))"))
    val dir = java.nio.file.Files.createTempDirectory("graft-zone-vers").toString + "/z"
    LtssSink.writeZoneLayout(zdf(graft.operators.Queries.ZoneDefs), dir)
    assert(LtssSink.zoneLayoutVersion(spark, dir) == 1L, "a fresh draw is version 1")
    val tri = Seq((7L, "tri", Seq((0.0, 0.0), (5.0, 0.0), (3.0, 4.0))))
    LtssSink.upsertZones(zdf(tri), dir)
    assert(LtssSink.zoneLayoutVersion(spark, dir) == 2L, "every upsert bumps the version")
    // duplicate incoming ids refuse BEFORE anything moves, version unchanged
    val dup = intercept[IllegalArgumentException] {
      LtssSink.upsertZones(zdf(tri ++ tri), dir)
    }
    assert(dup.getMessage.contains("distinct incoming zone_ids"))
    assert(LtssSink.zoneLayoutVersion(spark, dir) == 2L)
    // a refused RING gate refuses before the lock is stamped
    intercept[IllegalArgumentException] {
      LtssSink.upsertZones(
        zdf(Seq((8L, "flat", Seq((0.0, 0.0), (5.0, 5.0), (10.0, 10.0))))), dir)
    }
    assert(LtssSink.zoneLayoutVersion(spark, dir) == 2L)
    assert(LtssSink.readLayoutMarker(spark, dir).get.migrating.isEmpty)
    val host = java.net.InetAddress.getLocalHost.getHostName
    def stampMarker(migrating: String, generation: Long): Unit = {
      java.nio.file.Files.write(java.nio.file.Paths.get(dir, "_ltss_layout.json"),
        (s"""{"chunkTimeIntervalUs":0,"attrKeys":[],"generation":$generation""" +
          s""","migratingEncoding":"$migrating","attributesEncoding":"json"}""")
          .getBytes("UTF-8"))
      // raw write invalidates the local-FS checksum sidecar: drop it
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(dir, "._ltss_layout.json.crc"))
    }
    // a LIVE owner on this host (pid 1, init, is always alive) refuses
    // the upsert and the redraw alike; force overrides the upsert's when
    // the operator knows better
    stampMarker(s"zone-upsert:$host:1:livetok", 2L)
    val live = intercept[IllegalStateException] { LtssSink.upsertZones(zdf(tri), dir) }
    assert(live.getMessage.contains("live zone-upsert owner"))
    val liveRedraw = intercept[IllegalStateException] {
      LtssSink.writeZoneLayout(zdf(graft.operators.Queries.ZoneDefs), dir)
    }
    assert(liveRedraw.getMessage.contains("live zone-upsert owner"))
    LtssSink.upsertZones(zdf(tri), dir, force = true)
    assert(LtssSink.zoneLayoutVersion(spark, dir) == 3L)
    // a dead owner's residue is passed over by the redraw
    stampMarker(s"zone-upsert:$host:999999999:deadtok", 3L)
    LtssSink.writeZoneLayout(zdf(graft.operators.Queries.ZoneDefs ++ tri), dir)
    assert(LtssSink.zoneLayoutVersion(spark, dir) == 4L)
    assert(LtssSink.readLayoutMarker(spark, dir).get.migrating.isEmpty)
    // crash roll-forward: a predecessor that died between the swap's two
    // renames (the live dir retired with a DEAD pid's stamp, its complete
    // staged copy at version 9 beside it) is settled at entry — its swap
    // finishes, THEN the new delta lands
    stampMarker(s"zone-upsert:$host:999999999:deadtok", 4L)
    val parent = new java.io.File(dir).getParent
    assert(new java.io.File(dir).renameTo(new java.io.File(parent, ".z_zone_retired")))
    LtssSink.writeZoneLayout(
      zdf(Seq((50L, "ghost", Seq((0.0, 0.0), (2.0, 0.0), (1.0, 2.0))))), s"$parent/ghost",
      version = 9L)
    assert(new java.io.File(parent, "ghost").renameTo(new java.io.File(parent, ".z_zone_staged")))
    LtssSink.upsertZones(zdf(tri), dir)
    // the ghost swap (version 9, zone 50 only) finished first, then the
    // delta merged on top of IT: final = {50, 7} at version 10
    val ids = spark.read.parquet(dir).select("zone_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(7L, 50L), s"roll-forward then merge diverged: $ids")
    assert(LtssSink.zoneLayoutVersion(spark, dir) == 10L)
    assert(new java.io.File(parent).list().toSeq == Seq("z"))
  }

  test("zone redraw: bumps zone_version and refuses a stale explicit one") {
    import org.apache.spark.sql.functions.expr
    import graft.sources.LtssSink
    def zdf(rows: Seq[(Long, String, Seq[(Double, Double)])]) =
      rows.toDF("zone_id", "name", "verts")
        .withColumn("verts", expr("transform(verts, v -> struct(v._1 AS x, v._2 AS y))"))
    val dir = java.nio.file.Files.createTempDirectory("graft-zone-redraw").toString + "/z"
    LtssSink.writeZoneLayout(zdf(graft.operators.Queries.ZoneDefs), dir)
    assert(LtssSink.zoneLayoutVersion(spark, dir) == 1L)
    // a FULL REDRAW must advance the version like an upsert: a
    // restarted stream holding state stamped against the old rings
    // must fail the zone-version gate, not silently diff
    val tri = zdf(Seq((7L, "tri", Seq((0.0, 0.0), (5.0, 0.0), (3.0, 4.0)))))
    LtssSink.writeZoneLayout(tri, dir)
    assert(LtssSink.zoneLayoutVersion(spark, dir) == 2L, "a redraw defaults to prior+1")
    // an explicit stale version refuses (it would re-arm the silent
    // wrong-transition the contract exists to prevent)
    val e = intercept[IllegalArgumentException] {
      LtssSink.writeZoneLayout(tri, dir, version = 2L)
    }
    assert(e.getMessage.contains("must exceed"))
    assert(LtssSink.readLayoutMarker(spark, dir).get.migrating.isEmpty)
    // an explicit HIGHER version is honored
    LtssSink.writeZoneLayout(tri, dir, version = 12L)
    assert(LtssSink.zoneLayoutVersion(spark, dir) == 12L)
    assert(new java.io.File(dir).getParentFile.list().toSeq == Seq("z"))
  }

  test("zone version: a reader polling through 200 redraws never sees 0 or an older one") {
    import org.apache.spark.sql.functions.expr
    import graft.sources.LtssSink
    val dir = java.nio.file.Files.createTempDirectory("graft-zone-poll").toString + "/z"
    val tri = Seq((7L, "tri", Seq((0.0, 0.0), (5.0, 0.0), (3.0, 4.0)))).toDF("zone_id", "name", "verts")
      .withColumn("verts", expr("transform(verts, v -> struct(v._1 AS x, v._2 AS y))"))
    LtssSink.writeZoneLayout(tri, dir, version = 12L)
    // the version moves with the rows: a reader polling through 200
    // redraws reads each live version in turn, or fails loudly in the
    // instant between a swap's two renames, and never reads 0 or goes back
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val started = new java.util.concurrent.CountDownLatch(1)
    var reads, zeros, backwards, misses = 0L // read after the join
    val reader = new Thread(() => {
      var last = 0L
      while (!done.get) {
        try {
          val v = LtssSink.zoneLayoutVersion(spark, dir)
          reads += 1
          if (v == 0L) zeros += 1
          if (v < last) backwards += 1
          last = v
        } catch { case _: java.io.IOException => misses += 1 }
        started.countDown()
      }
    })
    reader.start()
    try {
      started.await()
      (1 to 200).foreach(_ => LtssSink.writeZoneLayout(tri, dir))
    } finally { done.set(true); reader.join() }
    assert(reads > 0 && zeros == 0L && backwards == 0L,
      s"$reads reads: $zeros read 0, $backwards went back ($misses failed mid-swap)")
    assert(LtssSink.zoneLayoutVersion(spark, dir) == 212L)
    assert(new java.io.File(dir).getParentFile.list().toSeq == Seq("z"))
  }

  test("appendTrackMonth owner token: a live concurrent appender refuses, dead residue passes") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-track-tok").toString + "/t"
    val fixes = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-03 00:00:00"), 1L, 10.0, 20.0),
      (1L, java.sql.Timestamp.valueOf("2024-01-04 00:00:00"), 2L, 10.5, 20.5))
      .toDF("id", "ts", "seq", "lat", "lon")
    graft.sources.LtssSink.writeTrackLayout(fixes, dir, parts = 2)
    // materialize driver-side: the appends below REWRITE the files a
    // lazy read plan would re-open
    val segLazy = spark.read.parquet(dir)
      .select(col("id"), col("chunk"), col("n_fixes"), col("seg"))
    val seg = spark.createDataFrame(
      new java.util.ArrayList(java.util.Arrays.asList(segLazy.collect(): _*)),
      segLazy.schema)
    val host = java.net.InetAddress.getLocalHost.getHostName
    def stamp(tok: String): Unit = {
      java.nio.file.Files.write(java.nio.file.Paths.get(dir, "_ltss_layout.json"),
        (s"""{"chunkTimeIntervalUs":0,"attrKeys":[],"generation":1""" +
          s""","migratingEncoding":"appending:$tok","attributesEncoding":"json"}""")
          .getBytes("UTF-8"))
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(dir, "._ltss_layout.json.crc"))
    }
    stamp(s"$host:1:livetok") // pid 1 is alive: a live concurrent appender
    val e = intercept[IllegalStateException] {
      graft.sources.LtssSink.appendTrackMonth(seg, dir)
    }
    assert(e.getMessage.contains("live appending owner"))
    stamp(s"$host:999999999:deadtok") // dead pid: crash residue, takeover OK
    graft.sources.LtssSink.appendTrackMonth(seg, dir)
    assert(spark.read.parquet(dir).count() == 1L)
    // another host's token is indistinguishable from live: refuse sans force
    stamp(s"elsewhere-${host}:42:othertok")
    val e2 = intercept[IllegalStateException] {
      graft.sources.LtssSink.appendTrackMonth(seg, dir)
    }
    assert(e2.getMessage.contains("live appending owner"))
    graft.sources.LtssSink.appendTrackMonth(seg, dir, force = true)
    assert(spark.read.parquet(dir).count() == 1L)
  }

  test("writeZoneLayout rejects degenerate rings, stores axis-aligned ones") {
    import org.apache.spark.sql.functions.expr
    val dir = java.nio.file.Files.createTempDirectory("graft-zone-reject").toString
    def zdf(vs: Seq[(Double, Double)]) =
      Seq((9L, "bad", vs)).toDF("zone_id", "name", "verts")
        .withColumn("verts", expr("transform(verts, v -> struct(v._1 AS x, v._2 AS y))"))
    // zero shoelace area (collinear): no interior exists
    val e1 = intercept[IllegalArgumentException] {
      graft.sources.LtssSink.writeZoneLayout(
        zdf(Seq((0.0, 0.0), (10.0, 10.0), (5.0, 5.0))), s"$dir/z")
    }
    assert(e1.getMessage.contains("shoelace"))
    // degenerate ring
    val e2 = intercept[IllegalArgumentException] {
      graft.sources.LtssSink.writeZoneLayout(
        zdf(Seq((0.0, 0.0), (10.0, 5.0))), s"$dir/d")
    }
    assert(e2.getMessage.contains(">= 3"))
    // an AXIS-ALIGNED rectangle stores (the r15 relax — horizontal
    // edges are handled by the consumers' straddle short-circuit, not
    // banned at write), with its bbox materialized
    graft.sources.LtssSink.writeZoneLayout(
      zdf(Seq((0.0, 0.0), (10.0, 0.0), (10.0, 8.0), (0.0, 8.0))), s"$dir/rect")
    val rect = spark.read.parquet(s"$dir/rect")
      .selectExpr("lat_min", "lat_max", "lon_min", "lon_max")
      .collect().head
    assert((rect.getDouble(0), rect.getDouble(1), rect.getDouble(2), rect.getDouble(3)) ==
      ((0.0, 8.0, 0.0, 10.0)))
    // a valid irregular ring still writes
    graft.sources.LtssSink.writeZoneLayout(
      zdf(Seq((0.0, 0.0), (10.0, 5.0), (5.0, 8.0))), s"$dir/ok")
    val row = spark.read.parquet(s"$dir/ok")
      .selectExpr("lat_min", "lat_max", "lon_min", "lon_max")
      .collect().head
    assert((row.getDouble(0), row.getDouble(1), row.getDouble(2), row.getDouble(3)) ==
      ((0.0, 8.0, 0.0, 10.0)))
  }

  test("discreteDtwBand2: band-constrained enumeration agrees; band cost upper-bounds free; wide band equals free") {
    import graft.operators.Queries.{DpFix, discreteDtw2, discreteDtwBand2}
    def fix(lon: Double, lat: Double) =
      DpFix(java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 0L, lat, lon)
    // ADVERSARY: the band DEFINITION — min total d2 over all monotone
    // paths RESTRICTED to |i - j| <= w, enumerated explicitly (no DP)
    def pathMinBand(p: IndexedSeq[DpFix], q: IndexedSeq[DpFix], w0: Int): Double = {
      val w = math.max(w0, math.abs(p.length - q.length))
      def d2(i: Int, j: Int) = {
        val dx = p(i).lon - q(j).lon; val dy = p(i).lat - q(j).lat
        dx * dx + dy * dy
      }
      var best = Double.PositiveInfinity
      def walk(i: Int, j: Int, acc: Double): Unit =
        if (math.abs(i - j) <= w) {
          val s = acc + d2(i, j)
          if (i == p.length - 1 && j == q.length - 1) best = math.min(best, s)
          else {
            if (i + 1 < p.length) walk(i + 1, j, s)
            if (j + 1 < q.length) walk(i, j + 1, s)
            if (i + 1 < p.length && j + 1 < q.length) walk(i + 1, j + 1, s)
          }
        }
      walk(0, 0, 0.0)
      best
    }
    val rnd = new scala.util.Random(19)
    def track(n: Int) = IndexedSeq.fill(n)(
      fix(rnd.nextInt(21) - 10 + 0.5, rnd.nextInt(21) - 10 + 0.5))
    for (t <- 1 to 200) {
      val x = track(1 + rnd.nextInt(5))
      val y = track(1 + rnd.nextInt(5))
      val w = rnd.nextInt(4) // 0..3, widened internally to |n - m|
      val banded = discreteDtwBand2(x, y, w)
      assert(banded == pathMinBand(x, y, w),
        s"trial $t: band DP diverged from banded enumeration on $x vs $y w=$w")
      // the band only REMOVES paths: constrained cost >= free cost
      assert(banded >= discreteDtw2(x, y),
        s"trial $t: band cost fell below the free DP")
      // a band covering the whole table IS the free DP
      assert(discreteDtwBand2(x, y, math.max(x.length, y.length)) ==
        discreteDtw2(x, y),
        s"trial $t: full-width band diverged from the free DP")
    }
  }

  test("ltss_geo_dtw_band: twin tracks still rank at 0; a forced detour pays where the free warp dodges") {
    // the DTW fixture: identical twins 10/190 must still cost 0 under
    // any band (the diagonal path is always in band)
    val dir = java.nio.file.Files.createTempDirectory("graft-dtw-band").toString
    val events = (0 until 6).flatMap { k =>
      Seq(10L, 190L, 30L).map { u =>
        (180L + 3 * k, ts(s"2024-01-0${k + 1} 10:00:00"), u)
      }
    }
    events.toDF("event_id", "ts", "user_id")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val rows = SparkEntry.queries("ltss_geo_dtw_band")(spark, dir)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(5)))
    assert(rows.nonEmpty && rows.head == ((10L, 190L, 0.0)),
      s"the twin tracks must rank first at 0 under the band: ${rows.toSeq}")
    // equal-length 6-fix tracks with w = 8 >= 6: band covers the whole
    // table, so every reported cost equals the free query's
    val free = SparkEntry.queries("ltss_geo_dtw")(spark, dir)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(5))).toSet
    assert(rows.toSet == free,
      s"w=8 over 6-fix tracks must reproduce the free DTW: ${rows.toSeq} vs $free")
  }

  test("ltss_geo_convoy_groups: a 3-member group from overlapping pair episodes; the 2-member decoy filters out") {
    // A(10)-B(12) and B(12)-C(14) are in contact every hour
    // 10:00-12:00; A and C are 10 degrees of lon and 4 of lat apart
    // (d2 = 116 > 64) so no A-C edge exists — the group is the
    // COMPONENT {A, B, C}, found without the missing clique edge, and
    // its same-set run (3 h) clears the m >= 2 persistence bar.
    // D(50)-E(52) run the same 3-hour episode alone: a 2-member
    // component, filtered by k >= 3.
    val dir = java.nio.file.Files.createTempDirectory("graft-convoy-groups").toString
    val events = (0 until 3).flatMap { h =>
      Seq(
        (100L + 360L * h, ts(s"2024-01-01 ${10 + h}:00:00"), 10L), // A lon -79.5
        (105L + 360L * h, ts(s"2024-01-01 ${10 + h}:10:00"), 12L), // B lon -74.5
        (110L + 360L * h, ts(s"2024-01-01 ${10 + h}:20:00"), 14L), // C lon -69.5
        (180L + 360L * h, ts(s"2024-01-01 ${10 + h}:00:00"), 50L), // D lon 0.5
        (181L + 360L * h, ts(s"2024-01-01 ${10 + h}:15:00"), 52L)) // E lon 1.5
    }
    events.toDF("event_id", "ts", "user_id")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    // precondition: exactly the A-B, B-C, D-E pair episodes exist
    val eps = SparkEntry.queries("ltss_geo_convoys")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    assert(eps == Set((10L, 12L, 3L), (12L, 14L, 3L), (50L, 52L, 3L)),
      s"fixture must yield exactly three 3-hour pair episodes: $eps")
    val hr0 = ts("2024-01-01 10:00:00").getTime / 3600000L
    val got = SparkEntry.queries("ltss_geo_convoy_groups")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(got.toSeq == Seq((10L, 3L, "10,12,14", hr0, 3L, hr0 + 2L)),
      s"exactly the 3-member group must surface (decoy filtered): ${got.toSeq}")
  }

  test("exposureFrame: the reliable-checkpoint tier returns the identical frame") {
    // the exposure fixture: A-B and B-C contacts chain A-C at hop 2,
    // written twice so each tier builds its own session-cached frames
    val events = Seq(
      (100L, ts("2024-01-01 10:00:00"), 10L),
      (101L, ts("2024-01-01 11:00:00"), 12L),
      (200L, ts("2024-01-01 20:00:00"), 12L),
      (201L, ts("2024-01-01 20:30:00"), 14L),
      (300L, ts("2024-01-05 09:00:00"), 50L))
    val Seq(dir, relDir) = Seq("graft-exposure", "graft-exposure-rel").map { t =>
      val d = java.nio.file.Files.createTempDirectory(t).toString
      events.toDF("event_id", "ts", "user_id")
        .write.mode("overwrite").parquet(s"$d/events.parquet")
      d
    }
    val ckpt = java.nio.file.Files.createTempDirectory("graft-exposure-ckpt").toString
    val local = graft.operators.Queries.exposureFrame(spark, dir).collect().toSeq
    val rel = withCheckpointDir(ckpt)(
      graft.operators.Queries.exposureFrame(spark, relDir).collect().toSeq)
    assert(rel == local,
      s"reliable-checkpoint exposure diverged from the local tier: $rel vs $local")
    // the reliable tier actually wrote checkpoints (the availability
    // contract: files in the checkpoint directory, not executor-local
    // blocks)
    assert(filesUnder(ckpt) > 0, "no reliable checkpoint was written")
  }

  test("ltss_geo_exposure_filtered: a weak bridge splits the component; hops re-root in the fragments") {
    // A(10)-B(12) contact TWICE at close approach (qualifies);
    // B(12)-C(14) meet ONCE (n_contacts = 1 — filtered out): the
    // unfiltered trace chains A-B-C into one component, the filtered
    // trace keeps only {A, B} and drops C entirely (no qualifying edge)
    val dir = java.nio.file.Files.createTempDirectory("graft-exposure-filt").toString
    val events = Seq(
      (100L, ts("2024-01-01 10:00:00"), 10L), // A
      (101L, ts("2024-01-01 10:30:00"), 12L), // B -> A-B #1 (d2 = 2^2+1^2 = 5)
      (460L, ts("2024-01-02 10:00:00"), 10L), // A again (same lon: 460%360=100)
      (461L, ts("2024-01-02 10:30:00"), 12L), // B -> A-B #2
      (200L, ts("2024-01-03 20:00:00"), 12L), // B across town
      (201L, ts("2024-01-03 20:30:00"), 14L)) // C -> B-C once
    events.toDF("event_id", "ts", "user_id")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val full = SparkEntry.queries("ltss_geo_exposure")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(full.toSeq == Seq((10L, 10L, 3L, 0L), (12L, 10L, 3L, 1L), (14L, 10L, 3L, 2L)),
      s"unfiltered trace must chain A-B-C: ${full.toSeq}")
    val filt = SparkEntry.queries("ltss_geo_exposure_filtered")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(filt.toSeq == Seq((10L, 10L, 2L, 0L), (12L, 10L, 2L, 1L)),
      s"filtered trace must keep only the repeated-contact pair: ${filt.toSeq}")
  }

  test("ltss_geo_convoy_groups_core: a churning 4th member does not close the 3-core episode the strict rule fragments") {
    // The convoy travels 20 degrees of lon per hour (so no cross-hour
    // contacts exist and each hour's component is spatially isolated):
    // A(10), B(12), C(14) ride together hours 10-12 (A-B and B-C in
    // range, A-C not — the component, not the clique); D(16) appears
    // ONLY at hour 11, in range of C alone (d2 = 8; D-B reads 65 > 64).
    // Components: hr10 {A,B,C}, hr11 {A,B,C,D}, hr12 {A,B,C}.
    val dir = java.nio.file.Files.createTempDirectory("graft-convoy-core").toString
    val events = (0 until 3).flatMap { h =>
      Seq(
        (30L + 20L * h, ts(s"2024-01-01 ${10 + h}:00:00"), 10L), // A
        (35L + 20L * h, ts(s"2024-01-01 ${10 + h}:10:00"), 12L), // B
        (40L + 20L * h, ts(s"2024-01-01 ${10 + h}:20:00"), 14L)) // C
    } :+ ((62L, ts("2024-01-01 11:25:00"), 16L)) // D, hour 11 only
    events.toDF("event_id", "ts", "user_id")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val hr0 = ts("2024-01-01 10:00:00").getTime / 3600000L
    // the STRICT same-set rule fragments: {A,B,C} holds at hr10 and
    // hr12 but not hr11 (the set there is {A,B,C,D}) — three 1-hour
    // runs, all under the m >= 2 bar
    val strict = SparkEntry.queries("ltss_geo_convoy_groups")(spark, dir)
      .collect()
    assert(strict.isEmpty,
      s"fixture must fragment under the strict rule: ${strict.toSeq}")
    // the Jeung cluster-intersection core rides through the churn:
    // one 3-hour {A,B,C} episode; the 1-hour {A,B,C,D} candidate
    // closes below m >= 2 and its {A,B,C} piece merges into the
    // older class (min-start dedup)
    val core = SparkEntry.queries("ltss_geo_convoy_groups_core")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(core.toSeq == Seq((10L, 3L, "10,12,14", hr0, 3L, hr0 + 2L)),
      s"the 3-core must persist through the hour-11 churn: ${core.toSeq}")
  }

  test("convoy encoding bounds: union-find labels out-of-encoding ids correctly; the core meta nodes keep the loud guard") {
    // r20: the hour-partitioned union-find needs no composite encoding,
    // so ids the r19 global fixpoint REJECTED (snowflake-sized, negative)
    // and pre-1970 hours now label CORRECTLY on the strict variant (the
    // above-cap global path encodes member ranks and agrees —
    // RouteEquivalenceSpec). The guard survives where raw ids are
    // hr·10⁹+id encoded: the core variant's meta nodes.
    // (a) member ids >= 1e9 — a real 3-member, 3-hour convoy
    val dirBig = java.nio.file.Files.createTempDirectory("graft-convoy-bigid").toString
    val bigIds = Seq(2000000000L, 2000000002L, 2000000004L)
    (0 until 3).flatMap { h =>
      Seq(
        (30L + 20L * h, ts(s"2024-01-01 ${10 + h}:00:00"), bigIds(0)),
        (35L + 20L * h, ts(s"2024-01-01 ${10 + h}:10:00"), bigIds(1)),
        (40L + 20L * h, ts(s"2024-01-01 ${10 + h}:20:00"), bigIds(2)))
    }.toDF("event_id", "ts", "user_id")
      .write.mode("overwrite").parquet(s"$dirBig/events.parquet")
    val hrBig = ts("2024-01-01 10:00:00").getTime / 3600000L
    val big = SparkEntry.queries("ltss_geo_convoy_groups")(spark, dirBig)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(big.toSeq == Seq((bigIds(0), 3L, bigIds.mkString(","),
        hrBig, 3L, hrBig + 2L)),
      s"snowflake-sized ids must label correctly on the UF path: ${big.toSeq}")
    // ... but the CORE variant composite-encodes (hr, gid) for its meta
    // nodes, so it must still throw with the dense-rank remap pointer
    val eBig = intercept[IllegalArgumentException] {
      SparkEntry.queries("ltss_geo_convoy_groups_core")(spark, dirBig).collect()
    }
    assert(eBig.getMessage.contains("dense_rank"),
      s"core guard must point at the remap: ${eBig.getMessage}")
    // (b) pre-1970 event times: buckets come from TRUNCATING div (the
    // oracle's integer // truncates identically), so keep each hour's
    // fixes inside one truncated bucket — offsets past the exact hour
    // boundary. (The epoch itself gets a documented double-width
    // bucket 0 spanning (-1h, +1h) on BOTH engines — see the
    // convoyHourLabels scaladoc.) The strict variant labels these
    // correctly; the core variant throws naming the cause
    val dirNeg = java.nio.file.Files.createTempDirectory("graft-convoy-neghr").toString
    (0 until 3).flatMap { h =>
      Seq(
        (30L + 20L * h, ts(s"1969-12-30 ${10 + h}:10:00"), 10L),
        (35L + 20L * h, ts(s"1969-12-30 ${10 + h}:20:00"), 12L),
        (40L + 20L * h, ts(s"1969-12-30 ${10 + h}:30:00"), 14L))
    }.toDF("event_id", "ts", "user_id")
      .write.mode("overwrite").parquet(s"$dirNeg/events.parquet")
    val neg = SparkEntry.queries("ltss_geo_convoy_groups")(spark, dirNeg)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(4)))
    assert(neg.toSeq == Seq((10L, 3L, "10,12,14", 3L)),
      s"pre-1970 hours must label correctly on the UF path: ${neg.toSeq}")
    val eNeg = intercept[IllegalArgumentException] {
      SparkEntry.queries("ltss_geo_convoy_groups_core")(spark, dirNeg).collect()
    }
    assert(eNeg.getMessage.contains("pre-1970"),
      s"core guard must name the negative-hour cause: ${eNeg.getMessage}")
    // (c) NEGATIVE member ids — correct on the UF path, loud on the core
    val dirNegId = java.nio.file.Files.createTempDirectory("graft-convoy-negid").toString
    val negIds = Seq(-5L, -3L, -1L)
    (0 until 3).flatMap { h =>
      Seq(
        (30L + 20L * h, ts(s"2024-01-01 ${10 + h}:00:00"), negIds(0)),
        (35L + 20L * h, ts(s"2024-01-01 ${10 + h}:10:00"), negIds(1)),
        (40L + 20L * h, ts(s"2024-01-01 ${10 + h}:20:00"), negIds(2)))
    }.toDF("event_id", "ts", "user_id")
      .write.mode("overwrite").parquet(s"$dirNegId/events.parquet")
    val negId = SparkEntry.queries("ltss_geo_convoy_groups")(spark, dirNegId)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(4)))
    assert(negId.toSeq == Seq((-5L, 3L, "-5,-3,-1", 3L)),
      s"negative ids must label correctly on the UF path: ${negId.toSeq}")
    val eNegId = intercept[IllegalArgumentException] {
      SparkEntry.queries("ltss_geo_convoy_groups_core")(spark, dirNegId).collect()
    }
    assert(eNegId.getMessage.contains("member id range"),
      s"core guard must catch a negative member id: ${eNegId.getMessage}")
  }

  test("convoyGroupsCoreFrame: the reliable-checkpoint tier returns the identical episodes") {
    // the churn fixture again (A,B,C hours 10-12 with D only at 11),
    // written twice so each tier builds its own cached hour labels: with
    // a checkpoint directory set the meta-graph CC truncates into it and
    // must reproduce the local tier bit-for-bit, with checkpoint files
    // actually written to the DFS stand-in
    val events = (0 until 3).flatMap { h =>
      Seq(
        (30L + 20L * h, ts(s"2024-01-01 ${10 + h}:00:00"), 10L),
        (35L + 20L * h, ts(s"2024-01-01 ${10 + h}:10:00"), 12L),
        (40L + 20L * h, ts(s"2024-01-01 ${10 + h}:20:00"), 14L))
    } :+ ((62L, ts("2024-01-01 11:25:00"), 16L))
    val Seq(dir, relDir) = Seq("graft-convoy", "graft-convoy-rel").map { t =>
      val d = java.nio.file.Files.createTempDirectory(t).toString
      events.toDF("event_id", "ts", "user_id")
        .write.mode("overwrite").parquet(s"$d/events.parquet")
      d
    }
    val ckpt = java.nio.file.Files.createTempDirectory("graft-convoy-ckpt").toString
    val order = Seq("group_id", "hr_start", "members").map(col)
    val local = graft.operators.Queries.convoyGroupsCoreFrame(spark, dir)
      .orderBy(order: _*).collect().toSeq
    val rel = withCheckpointDir(ckpt)(
      graft.operators.Queries.convoyGroupsCoreFrame(spark, relDir)
        .orderBy(order: _*).collect().toSeq)
    assert(rel == local && local.nonEmpty,
      s"reliable tier diverged from local: $rel vs $local")
    assert(filesUnder(ckpt) > 0, "no reliable checkpoint was written")
  }

  test("convoyCoreEpisodes kernel: hour gaps close episodes; min-start dedup survives a merge") {
    import graft.operators.Queries.{ConvoyHourRow, convoyCoreEpisodes}
    // hours 1-2: {1,2,3} together; hour 4 (GAP at 3): together again —
    // two separate 2-hour and 1-hour episodes, the 1-hour one dropped
    val rows = Seq(
      ConvoyHourRow(0L, 1L, 1L, 1L), ConvoyHourRow(0L, 1L, 1L, 2L),
      ConvoyHourRow(0L, 1L, 1L, 3L),
      ConvoyHourRow(0L, 2L, 1L, 1L), ConvoyHourRow(0L, 2L, 1L, 2L),
      ConvoyHourRow(0L, 2L, 1L, 3L),
      ConvoyHourRow(0L, 4L, 1L, 1L), ConvoyHourRow(0L, 4L, 1L, 2L),
      ConvoyHourRow(0L, 4L, 1L, 3L))
    val eps = convoyCoreEpisodes(rows.iterator, 3, 2).toSeq
    assert(eps.map(e => (e.members, e.hr_start, e.n_hours)) ==
      Seq(("1,2,3", 1L, 2L)),
      s"the gap must close the run and the 1-hour tail must drop: $eps")
  }
}
