package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.config.{EntityFilter, LtssConfig}

/** The ingest-pipeline operators of the reference, as Column-based
  * DataFrame transforms (SURVEY.md §2.1 rows S2/F2/P1–P4). All of them are
  * pure `Column` expressions — no UDFs — so Catalyst keeps them inside
  * whole-stage codegen and can push the filters into the parquet scan.
  */
object Transform {

  /** U+FFFD replacement char used for NUL sanitization
    * (reference models.py:67: `state.replace("\x00", "�")`). */
  val ReplacementChar = "�"

  // ---------------------------------------------------------------- S2
  /** Validity filter: drop events with null entity_id, null state, or
    * state == "unknown" (reference __init__.py:253). */
  def validity(entityId: Column, state: Column): Column =
    entityId.isNotNull && state.isNotNull && state =!= "unknown"

  // ---------------------------------------------------------------- F2
  /** Include/exclude entity filter compiled from config (reference
    * __init__.py:76,254); see [[graft.config.EntityFilter]]. */
  def entityFilter(cfg: LtssConfig, entityId: Column): Column =
    EntityFilter(cfg).column(entityId)

  // ---------------------------------------------------------------- P2
  /** NUL sanitization (reference models.py:67) — PostgreSQL text can't
    * store NUL; the reference substitutes U+FFFD. */
  def sanitize(c: Column): Column = regexp_replace(c, "\u0000", ReplacementChar)

  // ---------------------------------------------------------------- P3
  /** Geo point extraction (reference models.py:56-62): lat/lon are read
    * from the JSON attributes; the point is emitted only when BOTH are
    * truthy — Python truthiness means lat=0 or lon=0 yields NULL
    * ("Null Island" trap, SURVEY.md §7.4). */
  def latCol(attrs: Column): Column = get_json_object(attrs, "$.latitude").cast("double")
  def lonCol(attrs: Column): Column = get_json_object(attrs, "$.longitude").cast("double")

  /** Truthiness-gated point from ALREADY-EXTRACTED lat/lon columns — the
    * hot-path form: parse the JSON once (e.g. one `json_tuple`) and
    * derive point + WKT from the parsed columns, instead of re-parsing
    * attrs per expression. */
  def locationStructFrom(lat: Column, lon: Column): Column =
    when(lat.isNotNull && lon.isNotNull && lat =!= 0d && lon =!= 0d,
      struct(lon.as("lon"), lat.as("lat")))

  /** WKT rendering `SRID=4326;POINT(lon lat)` (reference models.py:61). */
  def locationWktFrom(lat: Column, lon: Column): Column =
    when(lat.isNotNull && lon.isNotNull && lat =!= 0d && lon =!= 0d,
      concat(lit("SRID=4326;POINT("), lon.cast("string"), lit(" "), lat.cast("string"), lit(")")))

  def locationStruct(attrs: Column): Column = locationStructFrom(latCol(attrs), lonCol(attrs))

  def locationWkt(attrs: Column): Column = locationWktFrom(latCol(attrs), lonCol(attrs))

  /** Pop `latitude`/`longitude` out of the JSON attributes (reference
    * models.py:59-60 — the keys are *removed* whether or not a point is
    * produced, and only at the *top level*: `attrs.pop` can't see nested
    * dicts). Structure-aware scan via the `pop_latlon` row of
    * [[graft.functions.Kernels]], one static call of `JsonOps.popLatLon`
    * per row — nested `latitude` keys survive, object/array
    * values are removed whole, remaining member text is kept verbatim. */
  def popLatLon(attrs: Column): Column = {
    graft.functions.Kernels.popLatLon(attrs)
  }

  /** P4 error branch (reference __init__.py:212-216): events whose
    * attributes fail JSON encoding are dropped with a warning, not
    * failed. In the Spark shape attributes arrive as text, so the analog
    * is "drop rows whose attributes are not valid JSON"; NULL attributes
    * (no attrs dict) are kept. The ingest stream applies it through
    * [[eventsToLtss]]'s `observe`, whose counts carry the drops to the
    * query's progress. */
  def validJsonAttrs(attrs: Column): Column = {
    attrs.isNull || graft.functions.Kernels.isValidJson(attrs)
  }

  // ---------------------------------------------------------------- P4
  /** Attribute JSON encoding for STRUCTURED attribute columns — the
    * analog of the reference's HA `JSONEncoder` passed as the engine
    * json_serializer (__init__.py:263-267), which renders datetimes as
    * ISO-8601 (`datetime.isoformat()`: `2024-01-01T10:00:00.123456+00:00`)
    * and sets as lists. Spark's type system has only arrays, so set→list
    * is inherent at ingest; timestamps get the same ISO text via the
    * formatter option. String attribute payloads (the usual LTSS path)
    * pass through untouched — this is for typed event sources. */
  def encodeAttrs(attrs: Column): Column =
    to_json(attrs, Map("timestampFormat" -> "yyyy-MM-dd'T'HH:mm:ss.SSSSSSxxx"))

  // ---------------------------------------------------------------- drops
  /** The name of the ingest's observed metrics: each trigger's
    * `lastProgress.observedMetrics` carries, under this name, `rows_in`,
    * `dropped_validity` (S2), `dropped_entity_filter` (F2),
    * `dropped_invalid_json` (P4) and `rows_out`. */
  val ObservedName = "ltss_ingest"

  private val DropReason = "__drop_reason"

  // ---------------------------------------------------------------- P1 (+P4)
  /** Event → LTSS row projection (reference models.py:47-72). Maps the
    * driver's `events` table onto the LTSS shape (FIXTURES.md §B):
    * entity_id := event_type '.' user_id, time := ts,
    * state := stringified value (NUL-sanitized), attributes := props.
    *
    * S2 and F2 filter the events before the projection. With `observe`
    * (the ingest stream) P4 drops the rows whose projected attributes are
    * not valid JSON ([[validJsonAttrs]]), and one `Dataset.observe` under
    * [[ObservedName]] counts each reason's drops. */
  def eventsToLtss(
      events: DataFrame,
      cfg: LtssConfig = LtssConfig(),
      observe: Boolean = false): DataFrame = {
    val entityId = concat(col("event_type"), lit("."), col("user_id").cast("string"))
    // Stringify via exact DECIMAL so both engines apply one rounding rule:
    // Spark's double→decimal cast (BigDecimal.valueOf + HALF_UP) and
    // DuckDB's agree on the shortest-repr of the double, unlike
    // format_string("%.2f") (half-up) vs printf('%.2f') (half-even),
    // which disagree on ties like 0.125. NULL value stays NULL so the
    // validity filter (S2) drops it. DECIMAL(18,2) so magnitudes up to
    // 10^16 stringify instead of overflowing to NULL (a non-ANSI cast
    // would silently drop the event; DuckDB would error).
    // explicit magnitude policy: |value| >= 10^16 overflows DECIMAL(18,2) —
    // ANSI Spark would error, non-ANSI would silently NULL, and DuckDB
    // errors. The when-guard evaluates the cast ONLY in range (CaseWhen
    // branches are lazy, so no ANSI error even when a local relation is
    // folded at optimization time); out-of-range → NULL state → the
    // validity filter drops the row, and the oracle CTE's matching
    // `abs(value) < 1e16` predicate drops it on the DuckDB side.
    val safeValue = when(abs(col("value")) < 1e16, col("value"))
    val state = sanitize(safeValue.cast("decimal(18,2)").cast("string"))
    val keyed = events
      .withColumn("entity_id", entityId)
      .withColumn("state", state)
    val valid = validity(col("entity_id"), col("state"))
    val wanted = entityFilter(cfg, col("entity_id"))
    def project(df: DataFrame, extra: Column*): DataFrame = {
      val ltss =
        if (cfg.enableLocation)
          Seq(col("ts").as("time"), col("entity_id"), col("state"),
            popLatLon(col("props")).as("attributes"),
            locationStruct(col("props")).as("location"))
        else
          Seq(col("ts").as("time"), col("entity_id"), col("state"), col("props").as("attributes"))
      df.select(ltss ++ extra: _*)
    }
    if (!observe) project(keyed.filter(valid).filter(wanted))
    else {
      // the reason each row is dropped for, 0 for none, counted against
      // the first check it fails. S2 and F2 run before the projection and
      // NULL the props of the rows they drop, so its JSON work skips them;
      // P4 checks the projected attributes, as the reference encodes the
      // attributes after popping lat/lon (models.py:59-60)
      val early = keyed
        .withColumn(DropReason, when(valid, when(wanted, 0).otherwise(2)).otherwise(1))
        .withColumn("props", when(col(DropReason) === 0, col("props")))
      val flagged = project(early, col(DropReason)).withColumn(DropReason,
        when(col(DropReason) === 0 && !validJsonAttrs(col("attributes")), 3)
          .otherwise(col(DropReason)))
      def dropped(reason: Int) = count_if(col(DropReason) === reason)
      flagged
        .observe(ObservedName, count(lit(1)).as("rows_in"), dropped(1).as("dropped_validity"),
          dropped(2).as("dropped_entity_filter"), dropped(3).as("dropped_invalid_json"),
          dropped(0).as("rows_out"))
        .filter(col(DropReason) === 0)
        .drop(DropReason)
    }
  }

  /** PK `(time, entity_id)` uniqueness invariant (reference
    * migrations.py:88-95): deterministic dedup — survivor is the first
    * row by the given tie-break ordering (remaining columns break full
    * ties, so the survivor is total-order deterministic, unlike
    * `dropDuplicates`, which keeps an arbitrary row).
    *
    * Implemented as ONE hash aggregate taking the lexicographic struct
    * MIN over (tieBreak ++ value columns): aggregates combine partially
    * map-side and never sort within groups — at 100 TB this shuffles
    * one combined row per duplicated PK instead of sorting every
    * reducer partition the way the row_number-window form does. */
  def dedupByPk(df: DataFrame, tieBreak: Seq[Column]): DataFrame = {
    val valueCols = df.columns.filterNot(c => c == "time" || c == "entity_id").toSeq
    val packed = struct(
      (tieBreak ++ valueCols.map(col)).zipWithIndex.map { case (c, i) => c.as(s"f$i") }: _*)
    df.groupBy(col("time"), col("entity_id"))
      .agg(min(packed).as("__p"))
      .select(col("time") +: col("entity_id") +:
        valueCols.zipWithIndex.map { case (name, j) =>
          col("__p").getField(s"f${tieBreak.size + j}").as(name)
        }: _*)
      .select(df.columns.map(col).toIndexedSeq: _*) // original column order
  }
}
