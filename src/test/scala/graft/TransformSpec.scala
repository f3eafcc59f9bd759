package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.config.{FilterSpec, LtssConfig}
import graft.operators.Transform
import graft.schema.StateEvent

/** FIXTURES.md §A.2 edge cases — the reference semantics every unit
  * suite must include. */
class TransformSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  private def mkEvents(rows: (String, String, String)*) =
    // (event_type, value-as-state source, props)
    rows.zipWithIndex.map { case ((et, v, props), i) =>
      StateEvent(i.toLong, ts("2024-01-01 00:00:00"), i.toLong, et,
        Option(v).map(_.toDouble), props)
    }.toDS.toDF

  test("validity filter drops null entity_id / null state / 'unknown' (S2)") {
    val df = Seq(
      ("a", Some("on")), ("b", None), (null, Some("on")), ("c", Some("unknown")))
      .toDF("entity_id", "state")
    val kept = df.filter(Transform.validity(col("entity_id"), col("state")))
      .select("entity_id").as[String].collect()
    assert(kept.toSet == Set("a"))
  }

  test("NUL sanitization replaces \\u0000 with U+FFFD (P2, models.py:67)") {
    val out = Seq("a\u0000b", "clean").toDF("s")
      .select(Transform.sanitize(col("s")).as("s")).as[String].collect()
    assert(out.toSet == Set("a�b", "clean"))
  }

  test("geo extraction: both lat+lon truthy → point; 0/missing → NULL (P3, models.py:56-62)") {
    val cases = Seq(
      ("""{"latitude": 57.7, "longitude": 11.97}""", Some((11.97, 57.7))),
      ("""{"latitude": 0, "longitude": 11.97}""", None), // Null Island truthiness
      ("""{"latitude": 57.7, "longitude": 0}""", None),
      ("""{"latitude": 57.7}""", None), // one present → still NULL
      ("""{"k": 1}""", None))
    val df = cases.map(_._1).toDF("attrs")
      .select(col("attrs"), Transform.locationStruct(col("attrs")).as("loc"))
    val got = df.collect().map(r => Option(r.getStruct(1)).map(s => (s.getDouble(0), s.getDouble(1))))
    assert(got.toSeq == cases.map(_._2))
  }

  test("WKT rendering matches the reference format (models.py:61)") {
    val wkt = Seq("""{"latitude": 57.7, "longitude": 11.97}""").toDF("attrs")
      .select(Transform.locationWkt(col("attrs"))).as[String].head()
    assert(wkt == "SRID=4326;POINT(11.97 57.7)")
  }

  test("popLatLon removes lat/lon keys and keeps others (models.py:59-60)") {
    val out = Seq(
      """{"latitude": 57.7, "longitude": 11.97, "unit": "C"}""",
      """{"unit": "C", "latitude": 57.7}""",
      """{"latitude": 0, "longitude": 0}""",
      """{"k": 87}""").toDF("attrs")
      .select(Transform.popLatLon(col("attrs")).as("a")).as[String].collect()
    assert(get_json(out(0), "latitude").isEmpty && get_json(out(0), "longitude").isEmpty)
    assert(get_json(out(0), "unit").contains("C"))
    assert(get_json(out(1), "latitude").isEmpty && get_json(out(1), "unit").contains("C"))
    assert(out(2).replaceAll("\\s", "") == "{}")
    assert(out(3) == """{"k": 87}""")
  }

  test("popLatLon is anchored to the top level (models.py:59-60 pops only top-level keys)") {
    import graft.functions.JsonOps
    // nested latitude survives; top-level one goes
    assert(JsonOps.popLatLon("""{"zone": {"latitude": 1.5}, "latitude": 2.5}""")
      == """{"zone": {"latitude": 1.5}}""")
    // object/array-valued members are removed whole
    assert(JsonOps.popLatLon("""{"latitude": [1, 2], "k": 1}""") == """{"k": 1}""")
    assert(JsonOps.popLatLon("""{"latitude": {"deg": 57, "min": 42}, "k": 1}""") == """{"k": 1}""")
    // string values containing braces/escapes don't confuse the scan
    assert(JsonOps.popLatLon("""{"s": "a{b}\"c", "longitude": "x,y"}""") == """{"s": "a{b}\"c"}""")
    // non-object / malformed input passes through unchanged
    assert(JsonOps.popLatLon("""[1, 2]""") == """[1, 2]""")
    assert(JsonOps.popLatLon("""{"latitude": """) == """{"latitude": """)
    assert(JsonOps.popLatLon("null") == "null")
  }

  test("encodeAttrs renders timestamps ISO-8601 and arrays as lists (P4, JSONEncoder parity)") {
    val out = Seq(1)
      .toDF("x")
      .select(Transform.encodeAttrs(struct(
        lit(ts("2024-01-01 10:00:00.123456")).as("t"),
        array(lit("a"), lit("b")).as("tags"),
        lit("C").as("u"))).as("j"))
      .as[String].head()
    assert(out == """{"t":"2024-01-01T10:00:00.123456+00:00","tags":["a","b"],"u":"C"}""")
  }

  test("drop-on-unserializable attributes (P4, __init__.py:212-216)") {
    val df = Seq(
      ("a", """{"k": 1}"""), ("b", """not json"""), ("c", """{"k": """),
      ("d", null.asInstanceOf[String]), ("e", """{"k": 1} trailing"""))
      .toDF("entity_id", "attributes")
    val kept = df.filter(Transform.validJsonAttrs(col("attributes")))
      .select("entity_id").as[String].collect().toSet
    assert(kept == Set("a", "d")) // invalid JSON dropped, absent attrs kept
  }

  private def get_json(json: String, key: String): Option[String] = {
    import spark.implicits._
    Seq(json).toDF("j")
      .select(get_json_object(col("j"), s"$$.$key")).as[String].collect().headOption.flatMap(Option(_))
  }

  test("eventsToLtss projects schema ±location (capability matrix, FIXTURES.md §A.4)") {
    val ev = mkEvents(("sensor", "21.5", """{"latitude": 1.5, "longitude": 2.5, "u": "C"}"""))
    val withLoc = Transform.eventsToLtss(ev, LtssConfig(enableLocation = true))
    val noLoc = Transform.eventsToLtss(ev, LtssConfig(enableLocation = false))
    assert(withLoc.schema.fieldNames.toSeq == Seq("time", "entity_id", "state", "attributes", "location"))
    assert(noLoc.schema.fieldNames.toSeq == Seq("time", "entity_id", "state", "attributes"))
    val row = withLoc.head()
    assert(row.getAs[String]("entity_id") == "sensor.0")
    assert(row.getAs[String]("state") == "21.50")
    val loc = row.getAs[Row]("location")
    assert(loc.getDouble(0) == 2.5 && loc.getDouble(1) == 1.5)
    // popped keys are gone from attributes, other keys stay
    assert(get_json(row.getAs[String]("attributes"), "latitude").isEmpty)
    assert(get_json(row.getAs[String]("attributes"), "u").contains("C"))
  }

  test("extreme |value| >= 1e16 is an explicit drop, not an ANSI cast error (overflow policy)") {
    val ev = mkEvents(
      ("a", "1.5", "{}"),
      ("a", "1.0E16", "{}"),
      ("a", "-2.0E17", "{}"))
    val out = Transform.eventsToLtss(ev, LtssConfig(enableLocation = false))
    assert(out.collect().map(_.getAs[String]("state")).toSeq == Seq("1.50"))
  }

  test("chunkCol and chunkDateOf agree for pre-1970 times under sub-day chunk intervals") {
    import graft.sources.LtssSink
    val cfg = LtssConfig(chunkTimeIntervalUs = 6L * 3600L * 1000000L) // 6h chunks
    val times = Seq(
      "1969-12-31 22:30:00", "1969-12-30 01:15:00", "1970-01-01 03:59:59",
      "2024-06-15 13:00:00", "2200-01-01 00:00:01",
      // past 2^53 µs (~year 2255): exact only under true integer division
      "2300-07-04 18:00:00", "3000-01-01 00:00:01")
    val df = times.map(t => Tuple1(java.sql.Timestamp.valueOf(t))).toDF("time")
      .select(col("time"), LtssSink.chunkCol(cfg).as("chunk"))
    df.collect().foreach { r =>
      val expected = LtssSink.chunkDateOf(r.getTimestamp(0), cfg).toString
      assert(r.getDate(1).toString == expected,
        s"writer chunk ${r.getDate(1)} != pruner chunk $expected for ${r.getTimestamp(0)}")
    }
  }

  test("dedupByPk keeps exactly one deterministic row per (time, entity_id)") {
    val t = ts("2024-01-01 00:00:00")
    val df = Seq(
      (t, "a", "1"), (t, "a", "2"), (t, "b", "9"))
      .toDF("time", "entity_id", "state")
    val out = Transform.dedupByPk(df, Seq(col("state")))
      .orderBy("entity_id").collect()
    assert(out.length == 2)
    assert(out(0).getAs[String]("state") == "1") // lowest tie-break survives
  }
}

/** HA include/exclude entity-filter semantics (FIXTURES.md §A.3). */
class EntityFilterSpec extends SparkSpec {
  import graft.config.EntityFilter

  private val cfg = LtssConfig(
    include = FilterSpec(
      domains = Seq("sensor"),
      entities = Seq("person.john_doe"),
      entityGlobs = Seq("sensor.weather_*")),
    exclude = FilterSpec(entities = Seq("sensor.noisy")))
  private val f = EntityFilter(cfg)

  test("domain include") { assert(f.accepts("sensor.x")) }
  test("exact entity include") { assert(f.accepts("person.john_doe")) }
  test("glob include") { assert(f.accepts("sensor.weather_oslo")) }
  test("exclude overrides include") { assert(!f.accepts("sensor.noisy")) }
  test("non-included domain out") { assert(!f.accepts("light.kitchen")) }
  test("empty filter accepts all") {
    assert(EntityFilter(LtssConfig()).accepts("anything.at_all"))
  }
  test("exclude-only keeps the rest") {
    val g = EntityFilter(LtssConfig(exclude = FilterSpec(domains = Seq("light"))))
    assert(g.accepts("sensor.x") && !g.accepts("light.x"))
  }

  // HA generate_filter case-4 sub-cases (reference delegates to HA's
  // convert_include_exclude_filter, __init__.py:76)
  test("case 4a: entity in both include and exclude entities is included") {
    val g = EntityFilter(LtssConfig(
      include = FilterSpec(domains = Seq("sensor"), entities = Seq("light.x")),
      exclude = FilterSpec(entities = Seq("light.x"))))
    assert(g.accepts("light.x"))
  }
  test("case 4a: include-glob match is rejected by exclude domain and exclude glob") {
    val g = EntityFilter(LtssConfig(
      include = FilterSpec(entityGlobs = Seq("*.weather")),
      exclude = FilterSpec(domains = Seq("bad"), entityGlobs = Seq("worse.*"))))
    assert(g.accepts("good.weather"))
    assert(!g.accepts("bad.weather"))
    assert(!g.accepts("worse.weather"))
  }
  test("case 4a: include-domain match survives exclude domain but not exclude glob") {
    val g = EntityFilter(LtssConfig(
      include = FilterSpec(domains = Seq("sensor")),
      exclude = FilterSpec(domains = Seq("sensor"), entityGlobs = Seq("sensor.temp_*"))))
    assert(g.accepts("sensor.humidity"))
    assert(!g.accepts("sensor.temp_1"))
  }
  test("case 4b: excluded-by-domain/glob passes only when exactly include-listed") {
    val g = EntityFilter(LtssConfig(
      include = FilterSpec(entities = Seq("light.keep")),
      exclude = FilterSpec(domains = Seq("light"))))
    assert(g.accepts("light.keep"))
    assert(!g.accepts("light.other"))
    assert(g.accepts("sensor.x")) // unlisted, not excluded → passes
  }
  test("case 4b: not excluded by domain/glob → passes unless exclude-listed") {
    val g = EntityFilter(LtssConfig(
      include = FilterSpec(entities = Seq("light.keep")),
      exclude = FilterSpec(domains = Seq("fan"), entities = Seq("sensor.noisy"))))
    assert(g.accepts("sensor.quiet"))
    assert(!g.accepts("sensor.noisy"))
  }
  test("case 4c: only entity lists on both sides → include list only") {
    val g = EntityFilter(LtssConfig(
      include = FilterSpec(entities = Seq("a.b")),
      exclude = FilterSpec(entities = Seq("c.d"))))
    assert(g.accepts("a.b") && !g.accepts("c.d") && !g.accepts("e.f"))
  }

  test("Column predicate agrees with the Scala predicate across all filter cases") {
    import spark.implicits._
    val ids = Seq("sensor.x", "person.john_doe", "sensor.weather_oslo", "sensor.noisy",
      "light.kitchen", "light.keep", "light.other", "light.x", "sensor.weather_noisy",
      "person.jane", "good.weather", "bad.weather", "worse.weather", "sensor.humidity",
      "sensor.temp_1", "sensor.quiet", "fan.f1", "a.b", "c.d", "e.f")
    val configs = Seq(
      LtssConfig(), // case 1
      LtssConfig(include = FilterSpec(domains = Seq("sensor"), entityGlobs = Seq("*.weather"))), // 2
      LtssConfig(exclude = FilterSpec(domains = Seq("light"), entities = Seq("a.b"))), // 3
      cfg, // 4a (fixture)
      LtssConfig(
        include = FilterSpec(domains = Seq("sensor"), entities = Seq("light.x")),
        exclude = FilterSpec(entities = Seq("light.x", "sensor.noisy"), entityGlobs = Seq("sensor.temp_*"))), // 4a
      LtssConfig(
        include = FilterSpec(entityGlobs = Seq("*.weather")),
        exclude = FilterSpec(domains = Seq("bad"), entityGlobs = Seq("worse.*"))), // 4a glob-only include
      LtssConfig(
        include = FilterSpec(entities = Seq("light.keep")),
        exclude = FilterSpec(domains = Seq("light"), entities = Seq("sensor.noisy"))), // 4b
      LtssConfig(
        include = FilterSpec(entities = Seq("a.b")),
        exclude = FilterSpec(entities = Seq("c.d")))) // 4c
    for (c <- configs) {
      val g = EntityFilter(c)
      val viaCol = ids.toDF("entity_id")
        .filter(g.column(org.apache.spark.sql.functions.col("entity_id")))
        .as[String].collect().toSet
      assert(viaCol == ids.filter(g.accepts).toSet, s"config $c")
    }
  }

  test("fromMap parses the reference CONFIG_SCHEMA shape (__init__.py:55-67)") {
    val cfg = LtssConfig.fromMap(Map(
      "db_url" -> "jdbc:postgresql://h/db",
      "chunk_time_interval" -> 86400000000L,
      "include" -> Map("domains" -> Seq("sensor"), "entity_globs" -> Seq("sensor.weather_*")),
      "exclude" -> Map("entities" -> Seq("sensor.noisy"))))
    assert(cfg.dbUrl == "jdbc:postgresql://h/db")
    assert(cfg.chunkTimeIntervalUs == 86400000000L)
    assert(cfg.include.domains == Seq("sensor") && cfg.include.entityGlobs == Seq("sensor.weather_*"))
    assert(cfg.exclude.entities == Seq("sensor.noisy"))
    assert(cfg.enableLocation) // defaults on, like PostGIS auto-detection
    // defaults
    assert(LtssConfig.fromMap(Map("db_url" -> "x")).chunkTimeIntervalUs == LtssConfig.DefaultChunkUs)
    // schema violations fail like voluptuous does
    assertThrows[IllegalArgumentException](LtssConfig.fromMap(Map()))
    assertThrows[IllegalArgumentException](
      LtssConfig.fromMap(Map("db_url" -> "x", "chunk_time_interval" -> -1)))
    // unknown keys, including the retired COPY switch
    for (unknown <- Seq[(String, Any)]("bogus" -> 1, "bulk_copy" -> true))
      assertThrows[IllegalArgumentException](
        LtssConfig.fromMap(Map("db_url" -> "x", unknown)))
    assertThrows[IllegalArgumentException](
      LtssConfig.fromMap(Map("db_url" -> "x", "include" -> Map("bogus" -> Seq("a")))))
  }

  test("globToRegex compiles fnmatch wildcards") {
    assert("sensor\\.weather_.*" == EntityFilter.globToRegex("sensor.weather_*"))
    assert(EntityFilter.globToRegex("a?c") == "a.c")
    assert(EntityFilter.globToRegex("x[ab]y") == "x[ab]y")
  }
}
