package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftLineage, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{Routes, Tables}
import graft.config.{FilterSpec, LtssConfig}
import graft.functions.DetMath

/** One oracle-checked query: the Spark implementation plus (optionally)
  * the equivalent DuckDB SQL the driver runs over the same parquet. */
final case class OracleQuery(
    name: String,
    run: (SparkSession, String) => DataFrame,
    sql: Option[String])

/** The LTSS query surface (SURVEY.md §2.2) — the queries the reference's
  * schema/index design exists to serve, answered natively by Spark over the
  * `events` table mapped to the LTSS shape (FIXTURES.md §B).
  *
  * Every query ends in a total deterministic ORDER BY and uses the
  * [[graft.functions.DetMath]] rules so the DuckDB oracle hash-matches.
  */
object Queries {

  /** Shared CTE: the events→LTSS mapping in DuckDB SQL (mirror of
    * [[Transform.eventsToLtss]] with location disabled). */
  private[operators] val ltssCte =
    """WITH ltss AS (
      |  SELECT time, entity_id, state, attributes FROM (
      |    SELECT ts AS time,
      |           event_type || '.' || CAST(user_id AS VARCHAR) AS entity_id,
      |           CASE WHEN abs(value) < 1e16
      |                THEN CAST(CAST(value AS DECIMAL(18,2)) AS VARCHAR) END AS state,
      |           props AS attributes
      |    FROM events
      |    WHERE event_type IS NOT NULL AND user_id IS NOT NULL)
      |  WHERE state IS NOT NULL AND state <> 'unknown'
      |)""".stripMargin

  private[graft] def ltss(s: SparkSession, dir: String): DataFrame =
    Transform.eventsToLtss(Tables.events(s, dir), LtssConfig(enableLocation = false))

  // ---------------------------------------------------------------- queries

  /** P1–P4: the full ingest projection (reference models.py:47-72). */
  val project = OracleQuery(
    "ltss_project",
    (s, d) => ltss(s, d).orderBy(col("entity_id"), col("time"), col("state")),
    Some(s"""$ltssCte
      |SELECT time, entity_id, state, attributes FROM ltss
      |ORDER BY entity_id, time, state""".stripMargin))

  /** S2+F2: validity + include/exclude entity filter (reference
    * __init__.py:253-254; HA include/exclude semantics README.md:71-101). */
  val entityFilterQ = {
    val cfg = LtssConfig(
      include = FilterSpec(domains = Seq("click", "purchase"), entityGlobs = Seq("error.1*")),
      exclude = FilterSpec(entities = Seq("click.13")),
      enableLocation = false)
    OracleQuery(
      "ltss_filter",
      (s, d) =>
        Transform.eventsToLtss(Tables.events(s, d), cfg)
          .select(col("entity_id"), col("time"), col("state"))
          .orderBy(col("entity_id"), col("time"), col("state")),
      Some(s"""$ltssCte
        |SELECT entity_id, time, state FROM ltss
        |WHERE entity_id <> 'click.13'
        |  AND (regexp_matches(entity_id, '^(?:error\\.1.*)$$')
        |       OR split_part(entity_id, '.', 1) IN ('click', 'purchase'))
        |ORDER BY entity_id, time, state""".stripMargin))
  }

  /** The composite-index query (reference models.py:78-80): per-entity
    * time-range history, newest first. Filter + time predicate push down
    * to the parquet scan. */
  val history = OracleQuery(
    "ltss_history",
    (s, d) =>
      ltss(s, d)
        .filter(col("entity_id") === "click.7" &&
          col("time").between(lit("2024-01-05 00:00:00"), lit("2024-01-20 00:00:00")))
        .orderBy(col("time").desc, col("state")),
    Some(s"""$ltssCte
      |SELECT time, entity_id, state, attributes FROM ltss
      |WHERE entity_id = 'click.7'
      |  AND time BETWEEN TIMESTAMP '2024-01-05 00:00:00' AND TIMESTAMP '2024-01-20 00:00:00'
      |ORDER BY time DESC, state""".stripMargin))

  /** The composite-index query over the REAL storage layout: events are
    * projected and written through the chunked sink once (the ingest
    * path), then the history query runs against the layout — where the
    * time predicate partition-prunes chunks (hypertable chunk exclusion)
    * and the entity/time predicates push into the parquet scan, which
    * the derived events-view above cannot offer. This is the
    * ingest→layout→indexed-query loop the reference's whole physical
    * design exists for (models.py:78-80, __init__.py:337-344). */
  /** The chunked LTSS layout for a dataset, materialized once per JVM
    * (the ingest artifact the layout queries read; Bench warm-up
    * pre-builds it so the queries measure the pruned scan). */
  def ltssLayoutPath(s: SparkSession, d: String): String =
    graft.ScratchDirs.materializedPath("ltss_layout", d) { p =>
      graft.sources.LtssSink.writeParquet(ltss(s, d), p, LtssConfig(),
        org.apache.spark.sql.SaveMode.Overwrite)
    }

  val historyLayout = OracleQuery(
    "ltss_history_layout",
    (s, d) => {
      import graft.sources.LtssSink
      val layoutPath = ltssLayoutPath(s, d)
      // instants constructed in UTC explicitly — Timestamp.valueOf parses
      // in the JVM default timezone, which need not match the session tz
      def utc(t: String) = java.sql.Timestamp.from(
        java.time.LocalDateTime.parse(t).toInstant(java.time.ZoneOffset.UTC))
      val from = utc("2024-01-05T00:00:00")
      val to = utc("2024-01-20T00:00:00")
      LtssSink.chunkScan(s, layoutPath, from, to)
        .filter(col("entity_id") === "click.7")
        .select(col("time"), col("entity_id"), col("state"), col("attributes"))
        .orderBy(col("time").desc, col("state"))
    },
    Some(s"""$ltssCte
      |SELECT time, entity_id, state, attributes FROM ltss
      |WHERE entity_id = 'click.7'
      |  AND time BETWEEN TIMESTAMP '2024-01-05 00:00:00' AND TIMESTAMP '2024-01-20 00:00:00'
      |ORDER BY time DESC, state""".stripMargin))

  /** CHUNK-LEVEL layout audit — the `chunks_detailed_size` /
    * `show_chunks` operational panel, run as a PHYSICAL-vs-LOGICAL
    * invariant check: read the chunked layout artifact itself
    * (partition column and all) and report per chunk its row count,
    * entity count, time bounds, and the count of MISPLACED rows (rows
    * whose logical chunk — epoch-µs floored to the 30-day interval,
    * rendered as the UTC date, exactly [[graft.sources.LtssSink.chunkDateOf]]
    * — disagrees with the partition directory they physically live
    * in). The oracle computes the same report from the RAW table and
    * pins `misplaced` to literal 0, so ANY physical row landing in the
    * wrong chunk directory — a writer bug, a bad compaction — fails
    * the hash gate, not just an eyeball. The lifecycle panel a
    * retention/compaction job reads before acting. One combinable
    * aggregate over the layout scan. */
  val chunkStats = OracleQuery(
    "ltss_chunk_stats",
    (s, d) => {
      // expected chunk via the SAME TZ-independent epoch arithmetic the
      // layout writer uses ([[graft.sources.LtssSink.chunkCol]]) — a
      // to_date(timestamp_micros(...)) form renders in the session
      // timezone and would report spurious `misplaced` rows (and shifted
      // chunk_start keys) on any non-UTC session, turning the
      // physical-vs-logical invariant into a TZ artifact
      val expected = graft.sources.LtssSink.chunkCol(LtssConfig())
      s.read.parquet(ltssLayoutPath(s, d))
        .withColumn("mis", (col("chunk") =!= expected).cast("long"))
        // render the partition date as its UTC-midnight timestamp — the
        // engines' common exact form for calendar values (no DATE
        // fetch-normalization ambiguity in the compare); datediff on
        // DATEs is calendar arithmetic, TZ-free, unlike a cast
        .groupBy(timestamp_micros(
          datediff(col("chunk"), lit(java.sql.Date.valueOf("1970-01-01")))
            .cast("long") * lit(86400000000L)).as("chunk_start"))
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("entity_id")).as("n_entities"),
          min(col("time")).as("t_min"), max(col("time")).as("t_max"),
          sum(col("mis")).as("misplaced"))
        .orderBy(col("chunk_start"))
    },
    Some(s"""$ltssCte
      |SELECT CAST(CAST(make_timestamp((epoch_us(time) // ${LtssConfig.DefaultChunkUs})
      |              * ${LtssConfig.DefaultChunkUs}) AS DATE) AS TIMESTAMP) AS chunk_start,
      |       CAST(count(*) AS BIGINT) AS n_rows,
      |       CAST(count(DISTINCT entity_id) AS BIGINT) AS n_entities,
      |       min(time) AS t_min, max(time) AS t_max,
      |       CAST(0 AS BIGINT) AS misplaced
      |FROM ltss GROUP BY 1 ORDER BY chunk_start""".stripMargin))

  /** The Z-ORDERED layout: one physical sort order that serves
    * predicates on entity AND time symmetrically — what replaces "an
    * index per access path" at 100 TB, where the time-chunked layout
    * above still leaves every chunk containing every entity (reference
    * index models.py:78-80 serves only the entity-major path; this is
    * the lakehouse OPTIMIZE ZORDER device). The entity dimension must
    * be ORDER-PRESERVING for pruning to work — parquet row groups are
    * skipped on the FILTERED column's min/max stats, so a hash bucket
    * would hand every row group the full string range; instead entities
    * get a dense rank by string order (a fleet-size eager cut, whose
    * honest size lets the broadcast threshold decide its join), days
    * their index on a fixed epoch grid, and rows are range-partitioned
    * + sorted by the 32-bit Morton key — each file then covers a
    * rectangle-ish region of (entity, day) space, so BOTH an entity
    * equality and a time range exclude most row groups by stats alone
    * ([[graft.ZOrderSpec]] measures exactly that on the scan's own
    * metrics). Build cost is one range-partitioned fleet rank
    * ([[entityRanks]]) + one range shuffle, once at ingest. */
  private[graft] def zorderWrite(l: DataFrame, p: String, parts: Int): Unit = {
    import graft.functions.ZOrder
    val (ranks, releaseRanks) = entityRanks(l, parts)
    val dayIdx = pmod(
      floor(unix_micros(col("time")).cast("double") / 86400e6).cast("long") -
        lit(java.time.LocalDate.parse("2024-01-01").toEpochDay),
      lit(65536L))
    try l.join(ranks, Seq("entity_id"))
      .withColumn("zv",
        ZOrder.interleave16(pmod(col("ent_rank"), lit(65536L)), dayIdx))
      .repartitionByRange(parts, col("zv"))
      .sortWithinPartitions(col("zv"))
      // Both helper columns go: the range partitioning and the
      // within-partition order are already established, and the Morton
      // key is an internal device — leaving it in the parquet would
      // leak a derived 8-byte column into the public layout artifact.
      .drop("ent_rank", "zv")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(p)
    finally releaseRanks()
  }

  /** Order-preserving dense entity rank WITHOUT a global window: the
    * distinct fleet frame is range-partitioned by entity (partition i's
    * key range sits wholly below partition i+1's), ranked LOCALLY per
    * partition, and each local rank is offset by the preceding
    * partitions' entity counts — a ≤`parts`-row driver-side ledger, the
    * same k-row planning-artifact class as the sketch collects. The old
    * partitionless `row_number().over(Window.orderBy(...))` funneled the
    * whole fleet through ONE task at write time (the bench log's "No
    * Partition Defined for Window operation" warning); this shape ranks
    * a 10⁸-entity fleet at full parallelism. The EAGER lineage cut
    * pins the range-partitioned frame — persist alone is a hint, and a
    * recompute after cache loss would re-sample
    * repartitionByRange's boundaries and shift pids relative to the
    * collected offset ledger, silently corrupting the dense ranks; with
    * the lineage gone a lost local block fails the job loudly instead
    * (a deployment's checkpoint directory makes it survive). A
    * belt-and-braces invariant check (exactly the fleet's count of
    * ranks, spanning [0, n)) runs before the ranks are handed to any
    * write path. */
  private def entityRanks(l: DataFrame, parts: Int): (DataFrame, () => Unit) = {
    val fleet = GraftLineage.cut(l.select(col("entity_id")).distinct()
      .repartitionByRange(parts, col("entity_id"))
      .withColumn("pid", spark_partition_id()), eager = true)
    val counts = fleet.groupBy(col("pid")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val offsets = counts.scanLeft(0L)(_ + _._2)
    val offEntries = counts.map(_._1).zip(offsets)
      .flatMap { case (pid, off) => Seq(lit(pid), lit(off)) }
    val offMap =
      if (offEntries.isEmpty) map(lit(-1), lit(0L)) else map(offEntries: _*)
    // the ranks frame is ALSO checkpointed eagerly: the invariant check
    // below and the caller's join then read one pinned materialization
    // instead of re-executing the ranking window per consumer (the
    // check would otherwise double the fleet-ranking work)
    val ranks = GraftLineage.cut(fleet
      .withColumn("ent_rank",
        element_at(offMap, col("pid")) +
          row_number().over(
            Window.partitionBy(col("pid")).orderBy(col("entity_id")))
            .cast("long") - 1L)
      .drop("pid"), eager = true)
    val chk = ranks
      .agg(count(lit(1)).as("n"), countDistinct(col("ent_rank")).as("d"),
        coalesce(max(col("ent_rank")), lit(-1L)).as("mx"))
      .head()
    require(chk.getLong(1) == chk.getLong(0) && chk.getLong(2) == chk.getLong(0) - 1L,
      s"entity rank corrupted: ${chk.getLong(0)} entities but " +
        s"${chk.getLong(1)} distinct ranks, max ${chk.getLong(2)} " +
        "(partition ids shifted against the offset ledger?)")
    // release drops both cut frames' storage eagerly (the caller
    // invokes it after the layout write, when nothing can recompute
    // them) — relying on a driver GC to let ContextCleaner reclaim them
    // would let a repeated caller accumulate two fleet-sized frames per
    // build invisibly
    (ranks, () => {
      GraftLineage.release(ranks)
      GraftLineage.release(fleet)
      ()
    })
  }

  def zorderLayoutPath(s: SparkSession, d: String): String =
    graft.ScratchDirs.materializedPath("zorder_layout", d) { p =>
      zorderWrite(ltss(s, d), p, 32)
    }

  /** The 2-D slice — entity equality AND time range together, the
    * predicate shape the Morton layout exists for. */
  val zorderLayout = OracleQuery(
    "ltss_zorder_layout",
    (s, d) => {
      val p = zorderLayoutPath(s, d)
      def utc(t: String) = java.sql.Timestamp.from(
        java.time.LocalDateTime.parse(t).toInstant(java.time.ZoneOffset.UTC))
      s.read.parquet(p)
        .filter(col("entity_id") === "purchase.3" &&
          col("time").between(
            lit(utc("2024-01-10T00:00:00")), lit(utc("2024-01-24T00:00:00"))))
        .select(col("time"), col("entity_id"), col("state"), col("attributes"))
        .orderBy(col("time").desc, col("state"))
    },
    Some(s"""$ltssCte
      |SELECT time, entity_id, state, attributes FROM ltss
      |WHERE entity_id = 'purchase.3'
      |  AND time BETWEEN TIMESTAMP '2024-01-10 00:00:00' AND TIMESTAMP '2024-01-24 00:00:00'
      |ORDER BY time DESC, state""".stripMargin))

  /** Latest state per entity (reference index `(entity_id, time DESC)`,
    * models.py:78-80) as ONE hash aggregate: the (time desc,
    * state desc) survivor is the lexicographic MAX of the (time, state)
    * struct, so partials combine map-side and no per-entity sort runs —
    * a row_number window would shuffle AND sort every history row just
    * to keep one per entity (same shape argument as
    * [[TimeSeries.bucketLast]]; both engines compare the struct's
    * string field bytewise). */
  val latest = OracleQuery(
    "ltss_latest",
    (s, d) => {
      ltss(s, d)
        .groupBy(col("entity_id"))
        .agg(max(struct(col("time"), col("state"))).as("ts"))
        .select(col("entity_id"), col("ts.time").as("last_time"),
          col("ts.state").as("last_state"))
        .orderBy(col("entity_id"))
    },
    Some(s"""$ltssCte
      |SELECT entity_id, ts.time AS last_time, ts.state AS last_state FROM (
      |  SELECT entity_id, max({'time': time, 'state': state}) AS ts
      |  FROM ltss GROUP BY entity_id)
      |ORDER BY entity_id""".stripMargin))

  /** State transitions: previous-state per entity via lag. */
  val transitions = OracleQuery(
    "ltss_transitions",
    (s, d) => {
      val w = Window.partitionBy(col("entity_id")).orderBy(col("time"), col("state"))
      ltss(s, d)
        .withColumn("prev_state", lag(col("state"), 1).over(w))
        .filter(col("prev_state").isNotNull && col("prev_state") =!= col("state"))
        .select(col("entity_id"), col("time"), col("prev_state"), col("state"))
        .orderBy(col("entity_id"), col("time"), col("state"))
    },
    Some(s"""$ltssCte
      |SELECT entity_id, time, prev_state, state FROM (
      |  SELECT entity_id, time, state,
      |         lag(state) OVER (PARTITION BY entity_id ORDER BY time, state) AS prev_state
      |  FROM ltss)
      |WHERE prev_state IS NOT NULL AND prev_state <> state
      |ORDER BY entity_id, time, state""".stripMargin))

  /** Time bucketing / downsampling (TimescaleDB `time_bucket` analog;
    * reference chunks the hypertable on `time`, __init__.py:337-344).
    * 1-hour buckets × entity domain, numeric aggs over the (string) state. */
  val timeBucketAgg = {
    val hourUs = 3600000000L
    OracleQuery(
      "ltss_time_bucket",
      (s, d) => {
        val l = ltss(s, d)
          .withColumn("bucket", DetMath.timeBucket(col("time"), hourUs))
          .withColumn("domain", split(col("entity_id"), "\\.").getItem(0))
          .withColumn("sv", expr("try_cast(state as decimal(12,2))"))
        l.groupBy(col("bucket"), col("domain"))
          .agg(
            count(lit(1)).as("n"),
            sum(col("sv")).as("sum_dec"),
            min(col("sv")).as("min_state"),
            max(col("sv")).as("max_state"))
          .withColumn("avg_state", DetMath.avgFromSum(col("sum_dec"), col("n")))
          .select(col("bucket"), col("domain"), col("n"),
            col("sum_dec").cast("double").as("sum_state"),
            col("min_state").cast("double").as("min_state"),
            col("max_state").cast("double").as("max_state"),
            col("avg_state"))
          .orderBy(col("bucket"), col("domain"))
      },
      Some(s"""$ltssCte
        |SELECT bucket, domain, n,
        |       CAST(sum_state AS DOUBLE) AS sum_state,
        |       CAST(min_state AS DOUBLE) AS min_state,
        |       CAST(max_state AS DOUBLE) AS max_state,
        |       CAST(sum_state AS DOUBLE) / CAST(n AS DOUBLE) AS avg_state
        |FROM (
        |  SELECT ${DetMath.timeBucketSql("time", hourUs)} AS bucket,
        |         split_part(entity_id, '.', 1) AS domain,
        |         CAST(count(*) AS BIGINT) AS n,
        |         SUM(CAST(state AS DECIMAL(12,2))) AS sum_state,
        |         MIN(CAST(state AS DECIMAL(12,2))) AS min_state,
        |         MAX(CAST(state AS DECIMAL(12,2))) AS max_state
        |  FROM ltss GROUP BY 1, 2)
        |ORDER BY bucket, domain""".stripMargin))
  }

  /** ONE oracle for both JSON-attribute queries — the raw-parse and
    * materialized-layout paths must stay answer-equivalent by
    * construction. */
  private val jsonAttrOracleSql =
    s"""$ltssCte
      |SELECT entity_id, time, state, CAST(json_extract_string(attributes, '$$.k') AS BIGINT) AS k
      |FROM ltss
      |WHERE CAST(json_extract_string(attributes, '$$.k') AS BIGINT) >= 90
      |ORDER BY entity_id, time, state""".stripMargin

  /** JSON attribute predicate + extraction (reference GIN index on JSONB,
    * models.py:75-77): `attributes->>'k' >= 90`. */
  val jsonAttr = OracleQuery(
    "ltss_json_attr",
    (s, d) =>
      ltss(s, d)
        .withColumn("k", get_json_object(col("attributes"), "$.k").cast("long"))
        .filter(col("k") >= 90)
        .select(col("entity_id"), col("time"), col("state"), col("k"))
        .orderBy(col("entity_id"), col("time"), col("state")),
    Some(jsonAttrOracleSql))

  /** The attr-key-materialized layout: `k` extracted to a typed column
    * at ingest (LtssSink attrKeys), once per JVM. */
  def ltssAttrLayoutPath(s: SparkSession, d: String): String =
    graft.ScratchDirs.materializedPath("ltss_layout_attrk", d) { p =>
      graft.sources.LtssSink.writeParquet(ltss(s, d), p, LtssConfig(),
        org.apache.spark.sql.SaveMode.Overwrite, attrKeys = Seq("k" -> "long"))
    }

  /** The JSON-attribute predicate over the MATERIALIZED-KEY layout — the
    * GIN-expression-index analog (reference models.py:75-77): the ingest
    * path extracted `attributes->>'k'` to the typed column `attr_k`, so
    * the predicate pushes into the parquet scan (row-group min/max
    * pruning; asserted by PlanSpec) instead of re-parsing JSON per row
    * per query, which is what [[jsonAttr]] must do on the raw stream. */
  val jsonAttrLayout = OracleQuery(
    "ltss_json_attr_layout",
    (s, d) =>
      Tables.parquet(s, ltssAttrLayoutPath(s, d))
        .filter(col("attr_k") >= 90)
        .select(col("entity_id"), col("time"), col("state"), col("attr_k").as("k"))
        .orderBy(col("entity_id"), col("time"), col("state")),
    Some(jsonAttrOracleSql))

  /** The VARIANT-encoded layout: attributes parsed once at ingest to
    * Spark 4 VariantType (the modern JSONB physical mapping, SURVEY
    * §1.2) instead of stored as a JSON string. */
  def ltssVariantLayoutPath(s: SparkSession, d: String): String =
    graft.ScratchDirs.materializedPath("ltss_layout_variant", d) { p =>
      graft.sources.LtssSink.writeParquet(ltss(s, d), p, LtssConfig(),
        org.apache.spark.sql.SaveMode.Overwrite, attributesEncoding = "variant")
    }

  /** The same attribute predicate over the VARIANT layout:
    * `variant_get` reads the binary variant encoding — no per-query
    * JSON string re-parse (the [[jsonAttr]] cost) and no write-time
    * key commitment (the [[jsonAttrLayout]] cost) — and Catalyst's
    * PushVariantIntoScan rewrites the extraction INTO the scan: the
    * read schema materializes only the requested path and the
    * predicate reaches PushedFilters (PlanSpec pins the three-way
    * contrast). This is the modern form of the schema-on-read /
    * schema-on-write tradeoff the reference's JSONB +
    * GIN-expression-index design navigates (models.py:44,75-77);
    * attrKeys remain the device for row-group min/max PRUNING on hot
    * keys, variant carries the open-schema rest. */
  val jsonAttrVariant = OracleQuery(
    "ltss_json_attr_variant",
    (s, d) =>
      s.read.parquet(ltssVariantLayoutPath(s, d))
        .withColumn("k", variant_get(col("attributes"), "$.k", "long"))
        .filter(col("k") >= 90)
        .select(col("entity_id"), col("time"), col("state"), col("k"))
        .orderBy(col("entity_id"), col("time"), col("state")),
    Some(jsonAttrOracleSql))

  /** Geo surface (reference PostGIS point column, models.py:44,56-62):
    * deterministic lat/lon enrichment → JSON attributes → extraction via
    * the real P3 path → WKT rendering + squared-degree distance filter.
    * The JSON is parsed ONCE per row (`json_tuple`) and point/WKT derive
    * from the parsed columns — the hot-path form of P3. */
  val geoWkt = OracleQuery(
    "ltss_geo",
    (s, d) => {
      val e = Tables.fanOut(Tables.events(s, d))
        .withColumn("lat", (col("user_id") % 180 - 90).cast("double") + 0.5)
        .withColumn("lon", (col("event_id") % 360 - 180).cast("double") + 0.5)
      e.withColumn("attrs", to_json(struct(col("lat").as("latitude"), col("lon").as("longitude"))))
        .select(col("event_id"),
          json_tuple(col("attrs"), "latitude", "longitude").as(Seq("jlat", "jlon")))
        .select(col("event_id"),
          col("jlat").cast("double").as("glat"), col("jlon").cast("double").as("glon"))
        .withColumn("wkt", Transform.locationWktFrom(col("glat"), col("glon")))
        .withColumn("dist2",
          (col("glat") - 0.5) * (col("glat") - 0.5) + (col("glon") - 0.5) * (col("glon") - 0.5))
        .filter(col("dist2") <= 10000.0)
        .select(col("event_id"), col("wkt"), col("dist2"))
        .orderBy(col("event_id"))
    },
    Some("""SELECT event_id,
      |       'SRID=4326;POINT(' || CAST(lon AS VARCHAR) || ' ' || CAST(lat AS VARCHAR) || ')' AS wkt,
      |       (lat-0.5)*(lat-0.5) + (lon-0.5)*(lon-0.5) AS dist2
      |FROM (SELECT event_id,
      |             CAST(user_id % 180 - 90 AS DOUBLE) + 0.5 AS lat,
      |             CAST(event_id % 360 - 180 AS DOUBLE) + 0.5 AS lon
      |      FROM events)
      |WHERE (lat-0.5)*(lat-0.5) + (lon-0.5)*(lon-0.5) <= 10000.0
      |ORDER BY event_id""".stripMargin))

  /** The location-enabled ingest path end-to-end (the reference's
    * signature feature, models.py:47-72): deterministic lat/lon/nested
    * attribute enrichment → the REAL `eventsToLtss(enableLocation=true)`
    * projection (locationStruct + popLatLon together) → WKT render.
    * Edge cases by event_id % 4: 0 = both present (point + both popped);
    * 1 = lat 0 (Null-Island truthiness → no point, keys still popped);
    * 2 = only lat (no point, the one key popped); 3 = neither key.
    * The nested `zone.latitude` must SURVIVE the pop (attrs.pop is
    * top-level only) — the oracle constructs the expected post-pop JSON
    * independently, so a depth-unanchored pop turns this row red. */
  val projectLocation = OracleQuery(
    "ltss_project_location",
    (s, d) => {
      val ev = Tables.events(s, d)
      val m = col("event_id") % 4
      val latE = (col("user_id") % 180 - 90).cast("double") + 0.5
      val lonE = (col("event_id") % 360 - 180).cast("double") + 0.5
      val latV = when(m === 1, lit(0.0)).when(m === 0 || m === 2, latE)
      val lonV = when(m === 0 || m === 1, lonE)
      val attrs = to_json(struct(
        latV.as("latitude"),
        lonV.as("longitude"),
        get_json_object(col("props"), "$.k").cast("long").as("k"),
        struct(lit(1.5).as("latitude")).as("zone")))
      val projected = Transform.eventsToLtss(
        ev.withColumn("props", attrs), LtssConfig(enableLocation = true))
      projected
        .withColumn("wkt",
          when(col("location").isNotNull,
            concat(lit("SRID=4326;POINT("), col("location.lon").cast("string"),
              lit(" "), col("location.lat").cast("string"), lit(")"))))
        .select(col("time"), col("entity_id"), col("state"), col("attributes"), col("wkt"))
        .orderBy(col("entity_id"), col("time"), col("state"))
    },
    Some("""WITH base AS (
      |  SELECT ts, event_id, user_id, event_type,
      |         CASE WHEN abs(value) < 1e16
      |              THEN CAST(CAST(value AS DECIMAL(18,2)) AS VARCHAR) END AS state,
      |         event_id % 4 AS m,
      |         CAST(user_id % 180 - 90 AS DOUBLE) + 0.5 AS latv,
      |         CAST(event_id % 360 - 180 AS DOUBLE) + 0.5 AS lonv,
      |         CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      |  FROM events
      |  WHERE event_type IS NOT NULL AND user_id IS NOT NULL
      |)
      |SELECT ts AS time,
      |       event_type || '.' || CAST(user_id AS VARCHAR) AS entity_id,
      |       state,
      |       '{"k":' || CAST(k AS VARCHAR) || ',"zone":{"latitude":1.5}}' AS attributes,
      |       CASE WHEN m = 0
      |            THEN 'SRID=4326;POINT(' || CAST(lonv AS VARCHAR) || ' ' || CAST(latv AS VARCHAR) || ')'
      |       END AS wkt
      |FROM base
      |WHERE state IS NOT NULL AND state <> 'unknown'
      |ORDER BY entity_id, time, state""".stripMargin))

  /** Geo distance surface: `haversine_km` — the registered native
    * Catalyst expression (functions/Haversine.scala) — as a radius query
    * around a point. Distances floor to whole km on both sides because
    * libm sin/cos/asin may differ from java.lang.Math by an ulp. */
  val geoDistance = OracleQuery(
    "ltss_geo_distance",
    (s, d) => {
      graft.plans.GraftExtensions.install(s)
      Tables.events(s, d)
        .withColumn("lat", (col("user_id") % 180 - 90).cast("double") + 0.5)
        .withColumn("lon", (col("event_id") % 360 - 180).cast("double") + 0.5)
        .withColumn("dist_km",
          graft.functions.Haversine.haversineKm(col("lat"), col("lon"), lit(57.7), lit(11.97)))
        .filter(col("dist_km") <= 2000.0)
        .select(col("event_id"), col("lat"), col("lon"),
          floor(col("dist_km")).cast("long").as("dist_km_floor"))
        .orderBy(col("event_id"))
    },
    Some("""WITH pts AS (
      |  SELECT event_id,
      |         CAST(user_id % 180 - 90 AS DOUBLE) + 0.5 AS lat,
      |         CAST(event_id % 360 - 180 AS DOUBLE) + 0.5 AS lon
      |  FROM events
      |), d AS (
      |  SELECT event_id, lat, lon,
      |         2 * 6371.0088 * asin(least(1.0, sqrt(
      |           pow(sin(radians(57.7 - lat) / 2), 2)
      |           + cos(radians(lat)) * cos(radians(57.7))
      |             * pow(sin(radians(11.97 - lon) / 2), 2)))) AS dist_km
      |  FROM pts
      |)
      |SELECT event_id, lat, lon, CAST(floor(dist_km) AS BIGINT) AS dist_km_floor
      |FROM d WHERE dist_km <= 2000.0
      |ORDER BY event_id""".stripMargin))

  /** The radius query over a STORED lat/lon layout, made sargable by the
    * [[graft.plans.HaversineBoxRule]] optimizer rule: the haversine
    * predicate itself cannot push into a columnar scan, so the rule
    * conjoins the conservative bounding-box pre-filter and the scan
    * prunes on plain lat/lon ranges (`PushedFilters` — plan-asserted in
    * PlanSpec) while the exact haversine keeps the circle exact. Same
    * center/radius/output as [[geoDistance]], so the oracle is the same
    * SQL — the rule must be result-invisible by construction. */
  def geoLayoutPath(s: SparkSession, d: String): String =
    graft.ScratchDirs.materializedPath("geo_layout", d) { p =>
      Tables.events(s, d)
        .withColumn("lat", (col("user_id") % 180 - 90).cast("double") + 0.5)
        .withColumn("lon", (col("event_id") % 360 - 180).cast("double") + 0.5)
        .select(col("event_id"), col("lat"), col("lon"))
        .write.mode("overwrite").parquet(p)
    }

  val geoRadiusLayout = OracleQuery(
    "ltss_geo_radius_layout",
    (s, d) => {
      graft.plans.GraftExtensions.install(s)
      s.read.parquet(geoLayoutPath(s, d))
        .withColumn("dist_km",
          graft.functions.Haversine.haversineKm(col("lat"), col("lon"), lit(57.7), lit(11.97)))
        .filter(col("dist_km") <= 2000.0)
        .select(col("event_id"), col("lat"), col("lon"),
          floor(col("dist_km")).cast("long").as("dist_km_floor"))
        .orderBy(col("event_id"))
    },
    geoDistance.sql)

  /** Geo bounding-box query (the `ST_MakeEnvelope && location` /
    * index-backed region query of the PostGIS surface): pure range
    * predicates on the extracted lat/lon — sargable, pushes into the
    * scan, no trig. Nordic-region box over the enriched points. */
  /** GEOFENCE enter/exit transitions — the presence-zone automation
    * query an LTSS deployment runs over its location column (HA zones:
    * "who entered/left the area, and when"): each tracked entity's
    * position series is classified inside/outside a circular fence
    * (same haversine kernel, center, and radius class as
    * [[geoDistance]], so the two queries share one distance truth),
    * and ONE `lag` window per entity turns the inside-bit series into
    * the transition log — event = 'enter' when the bit rises, 'exit'
    * when it falls, first observation emits nothing (no prior state).
    * The `(time, event_id)` window order is total, so transitions are
    * deterministic under duplicate timestamps. The streaming twin
    * ([[graft.streaming.StreamingOps.geofenceStream]]) holds the last
    * bit per entity and must emit exactly this log over any prefix —
    * spec-pinned. Scale: one keyed window, no join; the fence test is
    * map-side codegen on the scan. */
  val geofence = OracleQuery(
    "ltss_geofence",
    (s, d) => {
      graft.plans.GraftExtensions.install(s)
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .filter(col("user_id").isNotNull && col("event_id").isNotNull)
        .withColumn("lat", (col("user_id") % 180 - 90).cast("double") + 0.5)
        .withColumn("lon", (col("event_id") % 360 - 180).cast("double") + 0.5)
        .withColumn("inside",
          (graft.functions.Haversine.haversineKm(
            col("lat"), col("lon"), lit(57.7), lit(11.97)) <= 2000.0).cast("int"))
        .withColumn("prev", lag(col("inside"), 1).over(w))
        .filter(col("prev").isNotNull && col("prev") =!= col("inside"))
        .select(col("user_id"), col("ts").as("time"), col("event_id"),
          when(col("inside") === 1, "enter").otherwise("exit").as("event"))
        .orderBy(col("user_id"), col("time"), col("event_id"))
    },
    Some("""WITH pts AS (
      |  SELECT user_id, ts, event_id,
      |         CAST(user_id % 180 - 90 AS DOUBLE) + 0.5 AS lat,
      |         CAST(event_id % 360 - 180 AS DOUBLE) + 0.5 AS lon
      |  FROM events WHERE user_id IS NOT NULL AND event_id IS NOT NULL
      |), b AS (
      |  SELECT user_id, ts, event_id,
      |         CAST(2 * 6371.0088 * asin(least(1.0, sqrt(
      |           pow(sin(radians(57.7 - lat) / 2), 2)
      |           + cos(radians(lat)) * cos(radians(57.7))
      |             * pow(sin(radians(11.97 - lon) / 2), 2)))) <= 2000.0 AS INT) AS inside
      |  FROM pts
      |), t AS (
      |  SELECT user_id, ts, event_id, inside,
      |         lag(inside) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      |  FROM b
      |)
      |SELECT user_id, ts AS time, event_id,
      |       CASE WHEN inside = 1 THEN 'enter' ELSE 'exit' END AS event
      |FROM t WHERE prev IS NOT NULL AND prev <> inside
      |ORDER BY user_id, time, event_id""".stripMargin))

  /** ZONE DWELL TIME — [[geofence]]'s accounting companion ("how long
    * was each entity inside the zone"): the inside/outside bit series
    * becomes held intervals by the `lead` device of the state_agg
    * hyperfunction — each observation's bit holds until the next
    * observation, the final observation holds nothing (no clairvoyant
    * duration; the heartbeat-liveness convention) — and per entity the
    * report sums held µs inside, counts visits (enter transitions,
    * seeded by a first-observation-inside), and carries the
    * observation span. All-integer µs arithmetic; one `lead` + one
    * combinable aggregate per entity. */
  val zoneDwell = OracleQuery(
    "ltss_zone_dwell",
    (s, d) => {
      graft.plans.GraftExtensions.install(s)
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .filter(col("user_id").isNotNull && col("event_id").isNotNull)
        .withColumn("lat", (col("user_id") % 180 - 90).cast("double") + 0.5)
        .withColumn("lon", (col("event_id") % 360 - 180).cast("double") + 0.5)
        .withColumn("inside",
          (graft.functions.Haversine.haversineKm(
            col("lat"), col("lon"), lit(57.7), lit(11.97)) <= 2000.0).cast("int"))
        .withColumn("held_us",
          coalesce(unix_micros(lead(col("ts"), 1).over(w)) - unix_micros(col("ts")),
            lit(0L)))
        .withColumn("prev", lag(col("inside"), 1).over(w))
        .withColumn("entered",
          when(col("inside") === 1 && (col("prev").isNull || col("prev") === 0), 1L)
            .otherwise(0L))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_obs"),
          sum(when(col("inside") === 1, col("held_us")).otherwise(0L)).as("dwell_us"),
          sum(col("entered")).as("n_visits"),
          min(col("ts")).as("first_seen"), max(col("ts")).as("last_seen"))
        .orderBy(col("user_id"))
    },
    Some("""WITH pts AS (
      |  SELECT user_id, ts, event_id,
      |         CAST(user_id % 180 - 90 AS DOUBLE) + 0.5 AS lat,
      |         CAST(event_id % 360 - 180 AS DOUBLE) + 0.5 AS lon
      |  FROM events WHERE user_id IS NOT NULL AND event_id IS NOT NULL
      |), b AS (
      |  SELECT user_id, ts, event_id,
      |         CAST(2 * 6371.0088 * asin(least(1.0, sqrt(
      |           pow(sin(radians(57.7 - lat) / 2), 2)
      |           + cos(radians(lat)) * cos(radians(57.7))
      |             * pow(sin(radians(11.97 - lon) / 2), 2)))) <= 2000.0 AS INT) AS inside
      |  FROM pts
      |), h AS (
      |  SELECT user_id, ts, inside,
      |         COALESCE(epoch_us(lead(ts) OVER w) - epoch_us(ts), 0) AS held_us,
      |         lag(inside) OVER w AS prev
      |  FROM b WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |)
      |SELECT user_id, CAST(count(*) AS BIGINT) AS n_obs,
      |       CAST(sum(CASE WHEN inside = 1 THEN held_us ELSE 0 END) AS BIGINT) AS dwell_us,
      |       CAST(sum(CASE WHEN inside = 1 AND (prev IS NULL OR prev = 0)
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_visits,
      |       min(ts) AS first_seen, max(ts) AS last_seen
      |FROM h GROUP BY user_id ORDER BY user_id""".stripMargin))

  /** TRAVEL DISTANCE per entity — the PostGIS trajectory rollup
    * (`ST_Length(ST_MakeLine(location ORDER BY time))` over geography)
    * an LTSS deployment runs on its location column: "how far did each
    * tracker move?". Consecutive fixes in the `(ts, event_id)` total
    * order pair up via one keyed `lag` window; each leg runs through the
    * same haversine kernel as every other geo query and is FLOORED TO
    * INTEGER METERS before the per-entity sum, so the cross-row
    * aggregation is exact BIGINT arithmetic (a double sum would be
    * partial-aggregation-order-dependent — the one float op per leg is
    * the kernel itself). Scale: one keyed window + a combinable
    * aggregate; no join, no global order. */
  val travelDist = OracleQuery(
    "ltss_geo_travel",
    (s, d) => {
      graft.plans.GraftExtensions.install(s)
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .filter(col("user_id").isNotNull && col("event_id").isNotNull)
        .withColumn("lat", (col("user_id") % 180 - 90).cast("double") + 0.5)
        .withColumn("lon", (col("event_id") % 360 - 180).cast("double") + 0.5)
        .withColumn("plat", lag(col("lat"), 1).over(w))
        .withColumn("plon", lag(col("lon"), 1).over(w))
        .withColumn("leg_m",
          when(col("plat").isNotNull,
            floor(graft.functions.Haversine.haversineKm(
              col("plat"), col("plon"), col("lat"), col("lon")) * 1000.0).cast("long"))
            .otherwise(lit(null).cast("long")))
        .groupBy(col("user_id"))
        .agg(count(col("leg_m")).as("n_legs"),
          coalesce(sum(col("leg_m")), lit(0L)).as("travel_m"),
          coalesce(max(col("leg_m")), lit(0L)).as("max_leg_m"))
        .orderBy(col("user_id"))
    },
    Some("""WITH pts AS (
      |  SELECT user_id, ts, event_id,
      |         CAST(user_id % 180 - 90 AS DOUBLE) + 0.5 AS lat,
      |         CAST(event_id % 360 - 180 AS DOUBLE) + 0.5 AS lon
      |  FROM events WHERE user_id IS NOT NULL AND event_id IS NOT NULL
      |), pl AS (
      |  SELECT user_id, lat, lon,
      |         lag(lat) OVER w AS plat, lag(lon) OVER w AS plon
      |  FROM pts WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), legs AS (
      |  -- the NULL guard is load-bearing: DuckDB's least() SKIPS nulls
      |  -- (least(1.0, NULL) = 1.0), so an unguarded first-fix leg would
      |  -- evaluate to asin(1) — a bogus antipodal 20 015 km
      |  SELECT user_id,
      |         CASE WHEN plat IS NULL THEN NULL ELSE
      |           CAST(floor(2 * 6371.0088 * asin(least(1.0, sqrt(
      |             pow(sin(radians(lat - plat) / 2), 2)
      |             + cos(radians(plat)) * cos(radians(lat))
      |               * pow(sin(radians(lon - plon) / 2), 2)))) * 1000.0)
      |             AS BIGINT) END AS leg_m
      |  FROM pl
      |)
      |SELECT user_id, CAST(count(leg_m) AS BIGINT) AS n_legs,
      |       CAST(COALESCE(sum(leg_m), 0) AS BIGINT) AS travel_m,
      |       CAST(COALESCE(max(leg_m), 0) AS BIGINT) AS max_leg_m
      |FROM legs GROUP BY user_id ORDER BY user_id""".stripMargin))

  /** GPS-GLITCH (teleport) audit — the location-quality filter every
    * trajectory consumer needs before trusting [[travelDist]]: a fix
    * whose implied speed from the previous fix exceeds a physical bound
    * (500 km/h here) is a glitch candidate. Arithmetic: integer leg
    * meters and integer µs gaps; the implied speed is ONE
    * multiply-then-divide double chain written identically on both
    * sides. Top-50 by severity — a bounded report, TakeOrdered, not a
    * corpus dump. Zero-gap pairs (duplicate-µs fixes at different
    * coordinates) are infinite-speed teleports by definition and are
    * ranked first via the severity key rather than divided by zero. */
  val geoSpeed = OracleQuery(
    "ltss_geo_speed",
    (s, d) => {
      graft.plans.GraftExtensions.install(s)
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .filter(col("user_id").isNotNull && col("event_id").isNotNull)
        .withColumn("lat", (col("user_id") % 180 - 90).cast("double") + 0.5)
        .withColumn("lon", (col("event_id") % 360 - 180).cast("double") + 0.5)
        .withColumn("plat", lag(col("lat"), 1).over(w))
        .withColumn("plon", lag(col("lon"), 1).over(w))
        .withColumn("dt_us", unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w))
        .filter(col("plat").isNotNull)
        .withColumn("leg_m",
          floor(graft.functions.Haversine.haversineKm(
            col("plat"), col("plon"), col("lat"), col("lon")) * 1000.0).cast("long"))
        .withColumn("speed_kmh_floor",
          when(col("dt_us") > 0L,
            floor(col("leg_m").cast("double") * 3600000.0 / col("dt_us").cast("double"))
              .cast("long")).otherwise(lit(null).cast("long")))
        .filter(col("speed_kmh_floor").isNull || col("speed_kmh_floor") > 500L)
        .select(col("user_id"), col("ts").as("time"), col("event_id"),
          col("leg_m"), col("dt_us"), col("speed_kmh_floor"))
        .orderBy(col("speed_kmh_floor").desc_nulls_first, col("user_id"),
          col("time"), col("event_id"))
        .limit(50)
    },
    Some("""WITH pts AS (
      |  SELECT user_id, ts, event_id,
      |         CAST(user_id % 180 - 90 AS DOUBLE) + 0.5 AS lat,
      |         CAST(event_id % 360 - 180 AS DOUBLE) + 0.5 AS lon
      |  FROM events WHERE user_id IS NOT NULL AND event_id IS NOT NULL
      |), legs AS (
      |  SELECT user_id, ts, event_id,
      |         lag(lat) OVER w AS plat, lag(lon) OVER w AS plon,
      |         epoch_us(ts) - lag(epoch_us(ts)) OVER w AS dt_us,
      |         CAST(floor(2 * 6371.0088 * asin(least(1.0, sqrt(
      |           pow(sin(radians(lat - lag(lat) OVER w) / 2), 2)
      |           + cos(radians(lag(lat) OVER w)) * cos(radians(lat))
      |             * pow(sin(radians(lon - lag(lon) OVER w) / 2), 2)))) * 1000.0)
      |           AS BIGINT) AS leg_m
      |  FROM pts WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), sp AS (
      |  SELECT user_id, ts AS time, event_id, leg_m, dt_us,
      |         CASE WHEN dt_us > 0 THEN CAST(floor(
      |           CAST(leg_m AS DOUBLE) * 3600000.0 / CAST(dt_us AS DOUBLE))
      |           AS BIGINT) END AS speed_kmh_floor
      |  FROM legs WHERE plat IS NOT NULL
      |)
      |SELECT * FROM sp
      |WHERE speed_kmh_floor IS NULL OR speed_kmh_floor > 500
      |ORDER BY speed_kmh_floor DESC NULLS FIRST, user_id, time, event_id
      |LIMIT 50""".stripMargin))

  /** GEO K-NEAREST-NEIGHBORS — the PostGIS KNN operator
    * (`ORDER BY location <-> point LIMIT k`) over each entity's LATEST
    * fix: "the 10 trackers nearest the station, right now". Latest-fix
    * extraction is the standard keyed `row_number` window; the kNN
    * itself is a TakeOrdered top-k over one map-side haversine per
    * entity — LINEAR and shuffle-free past the latest-state exchange
    * (the k-row reduce is the only data movement). The INDEXED path at
    * scale is the sargable box-pruned radius scan
    * ([[geoRadiusLayout]] + [[graft.plans.HaversineBoxRule]]) with ring
    * doubling until k survive — this exact-scan form is its audit twin,
    * the same contract as the ANN recall family. Distance ties are
    * broken by user_id, and the emitted distance is floored to meters,
    * keeping the output integer past the kernel. */
  val geoKnn = OracleQuery(
    "ltss_geo_knn",
    (s, d) => {
      graft.plans.GraftExtensions.install(s)
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").desc, col("event_id").desc)
      Tables.events(s, d)
        .filter(col("user_id").isNotNull && col("event_id").isNotNull)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .withColumn("lat", (col("user_id") % 180 - 90).cast("double") + 0.5)
        .withColumn("lon", (col("event_id") % 360 - 180).cast("double") + 0.5)
        .withColumn("dist_m",
          floor(graft.functions.Haversine.haversineKm(
            col("lat"), col("lon"), lit(57.7), lit(11.97)) * 1000.0).cast("long"))
        .select(col("user_id"), col("ts").as("time"), col("event_id"), col("dist_m"))
        .orderBy(col("dist_m"), col("user_id"))
        .limit(10)
    },
    Some("""WITH latest AS (
      |  SELECT user_id, ts, event_id FROM (
      |    SELECT user_id, ts, event_id,
      |           row_number() OVER (PARTITION BY user_id
      |                              ORDER BY ts DESC, event_id DESC) AS rn
      |    FROM events WHERE user_id IS NOT NULL AND event_id IS NOT NULL)
      |  WHERE rn = 1
      |), pts AS (
      |  SELECT user_id, ts, event_id,
      |         CAST(user_id % 180 - 90 AS DOUBLE) + 0.5 AS lat,
      |         CAST(event_id % 360 - 180 AS DOUBLE) + 0.5 AS lon
      |  FROM latest
      |)
      |SELECT user_id, ts AS time, event_id,
      |       CAST(floor(2 * 6371.0088 * asin(least(1.0, sqrt(
      |         pow(sin(radians(57.7 - lat) / 2), 2)
      |         + cos(radians(lat)) * cos(radians(57.7))
      |           * pow(sin(radians(11.97 - lon) / 2), 2)))) * 1000.0) AS BIGINT)
      |         AS dist_m
      |FROM pts
      |ORDER BY dist_m, user_id
      |LIMIT 10""".stripMargin))

  /** Distributed DBSCAN over a planar integer point frame `(id, x, y)` —
    * the density clustering PostGIS exposes as
    * `ST_ClusterDBSCAN(geom, eps, minpoints) OVER ()` (the window form
    * forces a single-node sort there; this is the partitioned shape).
    * Published-algorithm lineage: the grid-partitioned candidate stage
    * is MR-DBSCAN (He et al., ICPADS 2011); the label stage runs the
    * repo's pointer-doubling [[Dedup.connectedComponents]].
    *
    * Stages, each shuffle-justified:
    *  0. CONTRACT to distinct positions with multiplicity (the
    *     sample-weight formulation of DBSCAN, as in scikit-learn's
    *     `sample_weight`): all graph stages below run over the occupied
    *     lattice, never the corpus — see the in-body note for the
    *     label-equivalence argument and the measured 100× motivation.
    *  1. CANDIDATE PAIRS by the same 3×3 grid-neighborhood equi-join as
    *     [[geoPairs]] (cell = eps, one meeting key per pair) — never
    *     all-pairs; candidate count is bounded by the occupied-lattice
    *     neighborhood density, which contraction makes independent of
    *     corpus scale (the DBSCAN scale contract).
    *  2. DEGREE = one combinable count over the symmetrized pairs; a
    *     point is CORE iff |N_eps| ≥ minPts (neighbor count + itself).
    *  3. CLUSTERS = connected components of the core-core subgraph
    *     (O(log diameter) rounds); isolated cores (no core neighbor)
    *     self-label via the post-join coalesce.
    *  4. BORDER points (non-core within eps of a core) attach to their
    *     MIN core-neighbor label — the deterministic tiebreak replacing
    *     sequential DBSCAN's arrival-order assignment; the rest is
    *     NOISE (cluster −1).
    * All distance decisions are integer (dx²+dy² ≤ eps² on the lattice);
    * there is no float at any branch. */
  private[graft] def dbscan(pts: DataFrame, eps: Long, minPts: Int): DataFrame = {
    val s = pts.sparkSession
    val p = pts.toDF("id", "x", "y")
    // Stage 0 — CONTRACT to distinct positions. Two co-located points
    // are mutual eps-neighbors (distance 0), so every DBSCAN decision —
    // neighbor count, core status, label, role — is a function of the
    // POSITION alone (the sample-weight formulation of DBSCAN: a
    // position with multiplicity m is one node of weight m). The
    // candidate join, degree sum, and CC fixpoint therefore run over
    // |distinct positions| nodes — bounded by the occupied lattice, NOT
    // the corpus — and each point inherits its position's verdict by
    // one equi-join at the end. Without this, co-location makes the
    // id-level pair count grow QUADRATICALLY with corpus scale (the
    // measured r13 sf10 build was 762 s); with it the graph work is
    // scale-flat and only the contract/expand scans grow linearly.
    // min(id) doubles as the position's node id in the CC: labels are
    // min-propagated, so min-over-positions of min(id) IS the min core
    // id of the cluster — bit-identical labels to the id-level graph.
    val pos = GraftLineage.cut(p.groupBy(col("x"), col("y"))
      .agg(count(lit(1)).as("mult"), min(col("id")).as("pid")), eager = false)
    val a = pos.select(col("pid").as("a_pid"), col("mult").as("a_mult"),
      col("x").as("ax"), col("y").as("ay"),
      expr(s"x div $eps").as("cx"), expr(s"y div $eps").as("cy"))
    val b = pos
      .withColumn("dx", explode(expr("sequence(-1, 1)")))
      .withColumn("dy", explode(expr("sequence(-1, 1)")))
      .select(col("pid").as("b_pid"), col("mult").as("b_mult"),
        col("x").as("bx"), col("y").as("by"),
        (expr(s"x div $eps") + col("dx")).as("cx"),
        (expr(s"y div $eps") + col("dy")).as("cy"))
    // the candidate join feeds THREE consumers (degree, core edges,
    // border attach) plus the CC loop's own checkpoint — truncate its
    // lineage once so the grid join runs once, not per consumer
    val pairs = GraftLineage.cut(a.join(b, Seq("cx", "cy"))
      .filter(col("a_pid") < col("b_pid"))
      .filter((col("ax") - col("bx")) * (col("ax") - col("bx")) +
        (col("ay") - col("by")) * (col("ay") - col("by")) <= eps * eps)
      .select(col("a_pid"), col("b_pid"), col("a_mult"), col("b_mult")),
      eager = false)
    val sym = pairs.select(col("a_pid"), col("b_pid"), col("b_mult"))
      .union(pairs.select(col("b_pid"), col("a_pid"), col("a_mult")))
      .toDF("pid", "nbr", "w")
    // |N_eps| − 1 for every point AT a position: the co-located mult − 1
    // plus the multiplicity-weighted sum over neighbor positions
    val deg = pos.join(
      sym.groupBy(col("pid")).agg(sum(col("w")).as("w_nbrs")), Seq("pid"), "left")
      .select(col("pid"), col("x"), col("y"),
        (col("mult") - 1 + coalesce(col("w_nbrs"), lit(0L))).as("n_nbrs"))
    // tiny pid list, read three times (edge semi-joins + anti-join)
    val core = GraftLineage.cut(
      deg.filter(col("n_nbrs") >= minPts - 1).select(col("pid")), eager = false)
    val coreEdges = pairs
      .join(core.withColumnRenamed("pid", "a_pid"), Seq("a_pid"), "left_semi")
      .join(core.withColumnRenamed("pid", "b_pid"), Seq("b_pid"), "left_semi")
      .select(col("a_pid"), col("b_pid"))
    // fixed tiny hand-partitioned CC plan: AQE off for the loop, restored
    // after — same policy (and reason) as Dedup.ccLabels
    val labels = Dedup.withAqeOff(s)(Dedup.connectedComponents(coreEdges)._1)
    // isolated core POSITION (no core neighbor position) self-labels
    // with its pid = min co-located id — exactly the id-graph label,
    // where its co-located points form a distance-0 clique labeled min id
    val coreLab = core.join(labels.toDF("lid", "label"), col("pid") === col("lid"), "left")
      .select(col("pid"), coalesce(col("label"), col("pid")).as("core_cluster"))
    val borderLab = sym
      .join(coreLab.toDF("nbr", "ncluster"), Seq("nbr"))
      .join(core, Seq("pid"), "left_anti")
      .groupBy(col("pid")).agg(min(col("ncluster")).as("border_cluster"))
    val posOut = deg
      .join(coreLab, Seq("pid"), "left")
      .join(borderLab, Seq("pid"), "left")
      .select(col("x"), col("y"), col("n_nbrs"),
        when(col("core_cluster").isNotNull, lit("core"))
          .when(col("border_cluster").isNotNull, lit("border"))
          .otherwise(lit("noise")).as("role"),
        coalesce(col("core_cluster"), col("border_cluster"), lit(-1L)).as("cluster"))
    // Stage 5 — EXPAND: each point inherits its position's verdict (the
    // position frame is lattice-bounded, so this broadcasts)
    p.join(posOut, Seq("x", "y"))
      .select(col("id"), col("x"), col("y"), col("n_nbrs"), col("role"), col("cluster"))
  }

  /** The CONVERGED DBSCAN frame for the distinct-user lattice, shared
    * per (session, dataset) through [[graft.CachedFrames]] — the same
    * artifact policy as [[Dedup.ccLabels]] and the trained k-means
    * frames: the clustering is built ONCE (its CC fixpoint is a
    * driver-looped iteration, the expensive part) and every read after
    * that scans the persisted label frame, which is how a deployment
    * treats a clustering — an indexing artifact, not a per-query
    * recompute. Bench charges the build under `warm_build.geo_dbscan`. */
  private[graft] def dbscanLabels(s: SparkSession, d: String): DataFrame =
    graft.CachedFrames.getOrBuild(
      s"geo_dbscan|${graft.CachedFrames.sessionKey(s)}|$d") {
      val u = Tables.events(s, d)
        .filter(col("user_id").isNotNull)
        .select(col("user_id")).distinct()
        .select(col("user_id").as("id"),
          pmod(col("user_id") * 7, lit(127)).as("x"),
          pmod(col("user_id") * 31, lit(131)).as("y"))
      dbscan(u, 8L, 4)
    }

  /** DBSCAN over the distinct-user lattice (fixture mapping
    * `x = 7·id mod 127, y = 31·id mod 131` — chosen so the sf corpus
    * exercises EVERY role: multi-point clusters, singleton-core
    * clusters, borders, and noise; a real deployment feeds
    * `floor(lat/eps), floor(lon/eps)` cells instead). eps 8, minPts 4.
    * The oracle is a deliberately different construction — an all-pairs
    * θ-join plus a recursive-CTE reachability closure — so the two
    * sides agree on semantics, not on code shape. */
  val geoDbscan = OracleQuery(
    "ltss_geo_dbscan",
    (s, d) =>
      dbscanLabels(s, d)
        .select(col("id").as("user_id"), col("x").as("li"), col("y").as("lo"),
          col("n_nbrs"), col("role"), col("cluster"))
        .orderBy(col("user_id")),
    Some("""WITH RECURSIVE u AS (
      |  SELECT DISTINCT user_id AS id,
      |         ((user_id * 7 % 127) + 127) % 127 AS x,
      |         ((user_id * 31 % 131) + 131) % 131 AS y
      |  FROM events WHERE user_id IS NOT NULL
      |),
      |p AS (
      |  SELECT a.id AS a_id, b.id AS b_id
      |  FROM u a JOIN u b ON a.id < b.id
      |   AND (a.x - b.x)*(a.x - b.x) + (a.y - b.y)*(a.y - b.y) <= 64
      |),
      |sym AS (SELECT a_id AS id, b_id AS nbr FROM p
      |        UNION ALL SELECT b_id, a_id FROM p),
      |deg AS (
      |  SELECT u.id, u.x, u.y, count(sym.nbr) AS n_nbrs
      |  FROM u LEFT JOIN sym ON u.id = sym.id GROUP BY u.id, u.x, u.y
      |),
      |core AS (SELECT id FROM deg WHERE n_nbrs >= 3),
      |ce AS (SELECT a_id, b_id FROM p
      |       WHERE a_id IN (SELECT id FROM core)
      |         AND b_id IN (SELECT id FROM core)),
      |cesym AS (SELECT a_id AS src, b_id AS dst FROM ce
      |          UNION ALL SELECT b_id, a_id FROM ce),
      |r(id, rid) AS (
      |  SELECT id, id FROM core
      |  UNION
      |  SELECT cesym.src, r.rid FROM cesym JOIN r ON cesym.dst = r.id
      |),
      |corelab AS (SELECT id, min(rid) AS cluster FROM r GROUP BY id),
      |borderlab AS (
      |  SELECT sym.id, min(corelab.cluster) AS cluster
      |  FROM sym JOIN corelab ON sym.nbr = corelab.id
      |  WHERE sym.id NOT IN (SELECT id FROM core)
      |  GROUP BY sym.id
      |)
      |SELECT deg.id AS user_id, deg.x AS li, deg.y AS lo,
      |       CAST(deg.n_nbrs AS BIGINT) AS n_nbrs,
      |       CASE WHEN corelab.id IS NOT NULL THEN 'core'
      |            WHEN borderlab.id IS NOT NULL THEN 'border'
      |            ELSE 'noise' END AS role,
      |       CAST(COALESCE(corelab.cluster, borderlab.cluster, -1) AS BIGINT)
      |         AS cluster
      |FROM deg LEFT JOIN corelab ON deg.id = corelab.id
      |         LEFT JOIN borderlab ON deg.id = borderlab.id
      |ORDER BY user_id""".stripMargin))

  /** The converged REAL-COORDINATE DBSCAN frame: each entity's latest
    * fix on the fixture's lat/lon mapping, quantized to 10°-degree
    * cells by exactly the `floor(lat/eps), floor(lon/eps)` device the
    * lattice query's scaladoc names as the production mapping — this
    * query IS that mapping, run end-to-end. Same artifact policy as
    * [[dbscanLabels]]. */
  private[graft] def dbscanLatLonLabels(s: SparkSession, d: String): DataFrame =
    graft.CachedFrames.getOrBuild(
      s"geo_dbscan_latlon|${graft.CachedFrames.sessionKey(s)}|$d") {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").desc, col("event_id").desc)
      val u = Tables.events(s, d)
        .filter(col("user_id").isNotNull && col("event_id").isNotNull)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .withColumn("lat", (col("user_id") % 180 - 90).cast("double") + 0.5)
        .withColumn("lon", (col("event_id") % 360 - 180).cast("double") + 0.5)
        .select(col("user_id").as("id"),
          floor(col("lat") / 10.0).cast("long").as("x"),
          floor(col("lon") / 10.0).cast("long").as("y"))
      dbscan(u, 2L, 4)
    }

  /** DBSCAN on the operator's PRODUCTION input shape — real-valued
    * lat/lon, not a synthetic lattice: latest fix per entity (the
    * PostGIS deployment's `ST_ClusterDBSCAN` over current positions),
    * eps-quantized to integer cells with `floor(lat/cell)` and fed to
    * the same contracted pipeline as [[geoDbscan]]. Cell width 10°,
    * graph eps 2 cells, minPts 4 — at the correctness SF that yields
    * multi-cell clusters, borders, AND noise, so every role is pinned
    * on this input too. The floor decisions are float-safe: fixture
    * lat/lon are half-integers, never multiples of 10, so every
    * `lat/10` sits ≥0.05 from an integer — both engines floor
    * identically. The quantized negative cells also exercise
    * [[dbscan]]'s `div`-binned grid below zero (the lattice query's
    * pmod coordinates never could): truncating `div` makes cell 0 span
    * three integers, which keeps the ≥eps-width adjacency invariant
    * the 3×3 candidate join needs. Oracle: the same deliberately
    * different all-pairs + recursive-CTE closure. */
  val geoDbscanLatLon = OracleQuery(
    "ltss_geo_dbscan_latlon",
    (s, d) =>
      dbscanLatLonLabels(s, d)
        .select(col("id").as("user_id"), col("x").as("cell_lat"),
          col("y").as("cell_lon"), col("n_nbrs"), col("role"), col("cluster"))
        .orderBy(col("user_id")),
    Some("""WITH RECURSIVE l AS (
      |  SELECT user_id, event_id FROM (
      |    SELECT user_id, event_id,
      |           row_number() OVER (PARTITION BY user_id
      |                              ORDER BY ts DESC, event_id DESC) AS rn
      |    FROM events WHERE user_id IS NOT NULL AND event_id IS NOT NULL)
      |  WHERE rn = 1
      |),
      |u AS (
      |  SELECT user_id AS id,
      |         CAST(floor((CAST(user_id % 180 - 90 AS DOUBLE) + 0.5) / 10.0)
      |           AS BIGINT) AS x,
      |         CAST(floor((CAST(event_id % 360 - 180 AS DOUBLE) + 0.5) / 10.0)
      |           AS BIGINT) AS y
      |  FROM l
      |),
      |p AS (
      |  SELECT a.id AS a_id, b.id AS b_id
      |  FROM u a JOIN u b ON a.id < b.id
      |   AND (a.x - b.x)*(a.x - b.x) + (a.y - b.y)*(a.y - b.y) <= 4
      |),
      |sym AS (SELECT a_id AS id, b_id AS nbr FROM p
      |        UNION ALL SELECT b_id, a_id FROM p),
      |deg AS (
      |  SELECT u.id, u.x, u.y, count(sym.nbr) AS n_nbrs
      |  FROM u LEFT JOIN sym ON u.id = sym.id GROUP BY u.id, u.x, u.y
      |),
      |core AS (SELECT id FROM deg WHERE n_nbrs >= 3),
      |ce AS (SELECT a_id, b_id FROM p
      |       WHERE a_id IN (SELECT id FROM core)
      |         AND b_id IN (SELECT id FROM core)),
      |cesym AS (SELECT a_id AS src, b_id AS dst FROM ce
      |          UNION ALL SELECT b_id, a_id FROM ce),
      |r(id, rid) AS (
      |  SELECT id, id FROM core
      |  UNION
      |  SELECT cesym.src, r.rid FROM cesym JOIN r ON cesym.dst = r.id
      |),
      |corelab AS (SELECT id, min(rid) AS cluster FROM r GROUP BY id),
      |borderlab AS (
      |  SELECT sym.id, min(corelab.cluster) AS cluster
      |  FROM sym JOIN corelab ON sym.nbr = corelab.id
      |  WHERE sym.id NOT IN (SELECT id FROM core)
      |  GROUP BY sym.id
      |)
      |SELECT deg.id AS user_id, deg.x AS cell_lat, deg.y AS cell_lon,
      |       CAST(deg.n_nbrs AS BIGINT) AS n_nbrs,
      |       CASE WHEN corelab.id IS NOT NULL THEN 'core'
      |            WHEN borderlab.id IS NOT NULL THEN 'border'
      |            ELSE 'noise' END AS role,
      |       CAST(COALESCE(corelab.cluster, borderlab.cluster, -1) AS BIGINT)
      |         AS cluster
      |FROM deg LEFT JOIN corelab ON deg.id = corelab.id
      |         LEFT JOIN borderlab ON deg.id = borderlab.id
      |ORDER BY user_id""".stripMargin))

  /** The materialized track layout ([[graft.sources.LtssSink.writeTrackLayout]])
    * over the events fixture's lat/lon mapping — built once per
    * dataset, like the other layout artifacts. */
  def trackLayoutPath(s: SparkSession, d: String): String =
    graft.ScratchDirs.materializedPath("geo_track_layout", d) { p =>
      val pts = Tables.events(s, d)
        .filter(col("user_id").isNotNull && col("event_id").isNotNull)
        .select(col("user_id").as("id"), col("ts"), col("event_id").as("seq"),
          ((col("user_id") % 180 - 90).cast("double") + 0.5).as("lat"),
          ((col("event_id") % 360 - 180).cast("double") + 0.5).as("lon"))
      graft.sources.LtssSink.writeTrackLayout(pts, p)
    }

  /** TRACK SUMMARY from the STORED trajectory — length, fix count, and
    * bbox per entity, computed entirely from the month-segmented line
    * arrays (`ST_Length(ST_MakeLine(...))`, `ST_Extent` over a stored
    * track). The leg math runs INSIDE each array with higher-order
    * functions — `zip_with` over the segment shifted against itself,
    * `aggregate` for the integer-meter sum — so the per-segment work is
    * map-side with zero shuffle; only the segment-junction legs (one
    * row per (entity, month)) need the keyed lag window, and the final
    * rollup is one combinable aggregate. The summary must reproduce the
    * UNSEGMENTED totals bit-exactly — segmentation is storage policy,
    * not semantics — which is precisely what the oracle checks: it
    * computes the same numbers from the raw fix stream with a plain
    * window, never seeing the layout. Legs floor to integer meters
    * before any cross-row sum (the [[travelDist]] determinism
    * contract). */
  val geoTrack = OracleQuery(
    "ltss_geo_track",
    (s, d) => {
      val seg = s.read.parquet(trackLayoutPath(s, d))
      def leg(aLat: Column, aLon: Column, bLat: Column, bLon: Column): Column =
        floor(graft.functions.Haversine.haversineKm(aLat, aLon, bLat, bLon) * 1000.0)
          .cast("long")
      val n = size(col("seg"))
      val intra = aggregate(
        zip_with(
          slice(col("seg"), lit(1), n - 1),
          slice(col("seg"), lit(2), n - 1),
          (a, b) => leg(a("lat"), a("lon"), b("lat"), b("lon"))),
        lit(0L), (acc, x) => acc + x)
      val w = Window.partitionBy(col("id")).orderBy(col("chunk"))
      seg
        .withColumn("intra_m", intra)
        .withColumn("plast", lag(element_at(col("seg"), -1), 1).over(w))
        .withColumn("junction_m",
          when(col("plast").isNotNull,
            leg(col("plast.lat"), col("plast.lon"),
              element_at(col("seg"), 1)("lat"), element_at(col("seg"), 1)("lon")))
            .otherwise(lit(0L)))
        .groupBy(col("id"))
        .agg(sum(col("n_fixes").cast("long")).as("n_fixes"),
          count(lit(1)).as("n_segments"),
          (sum(col("intra_m")) + sum(col("junction_m"))).as("travel_m"),
          min(array_min(transform(col("seg"), t => t("lat")))).as("lat_min"),
          max(array_max(transform(col("seg"), t => t("lat")))).as("lat_max"),
          min(array_min(transform(col("seg"), t => t("lon")))).as("lon_min"),
          max(array_max(transform(col("seg"), t => t("lon")))).as("lon_max"))
        .select(col("id").as("user_id"), col("n_fixes"), col("n_segments"),
          col("travel_m"), col("lat_min"), col("lat_max"),
          col("lon_min"), col("lon_max"))
        .orderBy(col("user_id"))
    },
    Some("""WITH pts AS (
      |  SELECT user_id, ts, event_id,
      |         CAST(user_id % 180 - 90 AS DOUBLE) + 0.5 AS lat,
      |         CAST(event_id % 360 - 180 AS DOUBLE) + 0.5 AS lon
      |  FROM events WHERE user_id IS NOT NULL AND event_id IS NOT NULL
      |), pl AS (
      |  SELECT user_id, ts, lat, lon,
      |         lag(lat) OVER w AS plat, lag(lon) OVER w AS plon
      |  FROM pts WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), legs AS (
      |  SELECT user_id, ts, lat, lon,
      |         CASE WHEN plat IS NULL THEN NULL ELSE
      |           CAST(floor(2 * 6371.0088 * asin(least(1.0, sqrt(
      |             pow(sin(radians(lat - plat) / 2), 2)
      |             + cos(radians(plat)) * cos(radians(lat))
      |               * pow(sin(radians(lon - plon) / 2), 2)))) * 1000.0)
      |             AS BIGINT) END AS leg_m
      |  FROM pl
      |)
      |SELECT user_id, CAST(count(*) AS BIGINT) AS n_fixes,
      |       CAST(count(DISTINCT date_trunc('month', ts)) AS BIGINT) AS n_segments,
      |       CAST(COALESCE(sum(leg_m), 0) AS BIGINT) AS travel_m,
      |       min(lat) AS lat_min, max(lat) AS lat_max,
      |       min(lon) AS lon_min, max(lon) AS lon_max
      |FROM legs GROUP BY user_id ORDER BY user_id""".stripMargin))

  /** TRACK SIMPLIFICATION (`ST_Simplify` over the stored line) — the
    * radial-distance simplifier map renderers run before drawing a
    * long track: walk the fixes in order, keep a fix only when it is
    * ≥ D meters (here 5 000 km, chosen for the fixture's leg
    * distribution) from the LAST KEPT fix, and always keep both
    * endpoints. This is a data-dependent sequential fold — no window
    * can express "distance from the last kept" — which is exactly why
    * the STORED track layout earns its keep: the fold runs INSIDE each
    * month segment's array with `aggregate` (map-side, zero shuffle,
    * one pass), where the raw-stream form would need a per-entity
    * sequential reduce over a corpus sort. Segments simplify
    * INDEPENDENTLY (each keeps its own first/last anchor), so the
    * operator stays chunk-local at any scale; the decision compares
    * integer floored meters, so both engines branch identically. The
    * oracle is a deliberately different construction: a recursive-CTE
    * walk over the raw ordered fixes that never sees the layout. */
  val geoSimplify = OracleQuery(
    "ltss_geo_simplify",
    (s, d) => {
      val D = 5000000L
      val seg = s.read.parquet(trackLayoutPath(s, d))
      def keeps(klat: Column, klon: Column, x: Column): Column =
        floor(graft.functions.Haversine.haversineKm(
          klat, klon, x("lat"), x("lon")) * 1000.0).cast("long") >= D
      val first = element_at(col("seg"), 1)
      val init = struct(
        slice(col("seg"), 1, 1).as("kept"),
        first("lat").as("klat"), first("lon").as("klon"))
      val folded = aggregate(
        slice(col("seg"), lit(2), size(col("seg")) - 1),
        init,
        (acc, x) => when(keeps(acc("klat"), acc("klon"), x),
          struct(concat(acc("kept"), array(x)).as("kept"),
            x("lat").as("klat"), x("lon").as("klon")))
          .otherwise(struct(acc("kept").as("kept"),
            acc("klat").as("klat"), acc("klon").as("klon"))))
      seg
        .withColumn("f", folded)
        .withColumn("kept",
          // endpoint preservation: the segment's last fix stays even
          // when the distance rule dropped it (seq is unique, so the
          // equality test cannot double-append a rule-kept endpoint)
          when(element_at(col("f")("kept"), -1)("seq") ===
              element_at(col("seg"), -1)("seq"), col("f")("kept"))
            .otherwise(concat(col("f")("kept"),
              slice(col("seg"), size(col("seg")), lit(1)))))
        .select(col("id").as("user_id"), explode(col("kept")).as("k"))
        .select(col("user_id"), col("k.ts").as("time"),
          col("k.seq").as("event_id"), col("k.lat").as("lat"),
          col("k.lon").as("lon"))
        .orderBy(col("user_id"), col("time"), col("event_id"))
    },
    Some {
      val keep = """CAST(floor(2 * 6371.0088 * asin(least(1.0, sqrt(
        |           pow(sin(radians(p.lat - w.klat) / 2), 2)
        |           + cos(radians(w.klat)) * cos(radians(p.lat))
        |             * pow(sin(radians(p.lon - w.klon) / 2), 2)))) * 1000.0)
        |           AS BIGINT) >= 5000000""".stripMargin
      s"""WITH RECURSIVE pts AS (
        |  SELECT user_id, date_trunc('month', ts) AS chunk, ts, event_id,
        |         CAST(user_id % 180 - 90 AS DOUBLE) + 0.5 AS lat,
        |         CAST(event_id % 360 - 180 AS DOUBLE) + 0.5 AS lon,
        |         row_number() OVER (PARTITION BY user_id, date_trunc('month', ts)
        |                            ORDER BY ts, event_id) AS rn,
        |         count(*) OVER (PARTITION BY user_id, date_trunc('month', ts)) AS n
        |  FROM events WHERE user_id IS NOT NULL AND event_id IS NOT NULL
        |),
        |walk(user_id, chunk, rn, ts, lat, lon, kept, klat, klon) AS (
        |  SELECT user_id, chunk, rn, ts, lat, lon, TRUE, lat, lon
        |  FROM pts WHERE rn = 1
        |  UNION ALL
        |  SELECT p.user_id, p.chunk, p.rn, p.ts, p.lat, p.lon,
        |         $keep,
        |         CASE WHEN $keep THEN p.lat ELSE w.klat END,
        |         CASE WHEN $keep THEN p.lon ELSE w.klon END
        |  FROM pts p JOIN walk w ON p.user_id = w.user_id AND p.chunk = w.chunk
        |   AND p.rn = w.rn + 1
        |)
        |SELECT w.user_id, w.ts AS time, p2.event_id, w.lat, w.lon
        |FROM walk w JOIN pts p2 ON p2.user_id = w.user_id
        | AND p2.chunk = w.chunk AND p2.rn = w.rn
        |WHERE w.kept OR w.rn = p2.n
        |ORDER BY w.user_id, time, event_id""".stripMargin
    })

  /** The 2-D track layout for [[geoDouglasPeucker]]: the standard
    * layout's mapping gives every entity a CONSTANT latitude
    * (lat = f(user_id) only), which makes perpendicular-distance
    * simplification degenerate — every track is a straight line. This
    * twin layout derives latitude from BOTH keys so tracks genuinely
    * turn; same [[graft.sources.LtssSink.writeTrackLayout]] storage
    * policy (month segments, sorted arrays). */
  def trackLayout2dPath(s: SparkSession, d: String): String =
    graft.ScratchDirs.materializedPath("geo_track2d_layout", d) { p =>
      val pts = Tables.events(s, d)
        .filter(col("user_id").isNotNull && col("event_id").isNotNull)
        .select(col("user_id").as("id"), col("ts"), col("event_id").as("seq"),
          (((col("user_id") + col("event_id")) % 180 - 90).cast("double") + 0.5)
            .as("lat"),
          ((col("event_id") % 360 - 180).cast("double") + 0.5).as("lon"))
      graft.sources.LtssSink.writeTrackLayout(pts, p)
    }

  final case class ZoneVert(x: Double, y: Double)

  final case class DpFix(
      ts: java.sql.Timestamp, seq: Long, lat: Double, lon: Double)
  final case class DpSeg(id: Long, chunk: java.sql.Timestamp, seg: Seq[DpFix])
  final case class DpKept(
      user_id: Long, time: java.sql.Timestamp, event_id: Long,
      lat: Double, lon: Double)

  /** The Douglas–Peucker worklist over ONE stored segment's points:
    * keep both endpoints; recursively keep the interior point that
    * deviates MOST from the current chord whenever that deviation
    * exceeds ε, splitting at it. All decisions are EXACT on the
    * fixture's half-integer lattice: the perpendicular test compares
    * cross² > ε²·|chord|² (both sides quarter-integer-granular
    * doubles, no division, no rounding), a zero-length chord (closed
    * loop) falls back to squared point distance, and ties at the max
    * break to the SMALLEST index (strict `>` while scanning left to
    * right) — the deterministic tie-break the oracle replays with
    * `ORDER BY metric DESC, rn`. Exposed for the hand-trace spec. */
  private[graft] def dpKeep(pts: IndexedSeq[DpFix], eps2: Double): Array[Boolean] = {
    val n = pts.length
    val keep = Array.fill(n)(false)
    keep(0) = true
    keep(n - 1) = true
    if (n <= 2) return keep
    val stack = scala.collection.mutable.ArrayBuffer[(Int, Int)]((0, n - 1))
    while (stack.nonEmpty) {
      val (lo, hi) = stack.remove(stack.length - 1)
      if (hi - lo > 1) {
        val a = pts(lo)
        val b = pts(hi)
        val dx = b.lon - a.lon
        val dy = b.lat - a.lat
        val len2 = dx * dx + dy * dy
        var best = -1
        var bestM = -1.0
        var k = lo + 1
        while (k < hi) {
          val p = pts(k)
          val m =
            if (len2 == 0.0) {
              val ax = p.lon - a.lon; val ay = p.lat - a.lat; ax * ax + ay * ay
            } else {
              val c = dx * (a.lat - p.lat) - (a.lon - p.lon) * dy; c * c
            }
          if (m > bestM) { bestM = m; best = k }
          k += 1
        }
        val thresh = if (len2 == 0.0) eps2 else eps2 * len2
        if (bestM > thresh) {
          keep(best) = true
          stack += ((lo, best))
          stack += ((best, hi))
        }
      }
    }
    keep
  }

  /** TRUE Douglas–Peucker simplification — PostGIS `ST_Simplify`
    * proper (the planar max-deviation recursion; [[geoSimplify]] is
    * the lighter radial-distance cousin and says so): per stored
    * month segment, keep the points whose removal would move the
    * polyline more than ε = 10° from any chord. The recursion is
    * SEGMENT-LOCAL — the worklist never leaves one array — so it runs
    * as one compiled pass per layout row (the LTTB precedent: a
    * data-dependent sequential pick belongs in a typed `flatMap`, not
    * an expression tree), map-side over the range-partitioned layout
    * with zero shuffle before the presentation sort. Parallelism
    * scales with segment COUNT and per-task memory is ONE month's
    * fixes — the layout's own array bound. The oracle replays the
    * worklist as a DuckDB recursive CTE over the raw ordered fixes —
    * intervals split at the argmax-deviation point found by a
    * correlated subquery with the identical exact-arithmetic
    * (cross² > ε²·len²) predicate and (metric DESC, rn) tie-break —
    * never seeing the layout. */
  val geoDouglasPeucker = OracleQuery(
    "ltss_geo_dp",
    (s, d) => {
      import s.implicits._
      s.read.parquet(trackLayout2dPath(s, d))
        .select(col("id"), col("chunk"), col("seg")).as[DpSeg]
        .flatMap { sg =>
          val pts = sg.seg.toIndexedSeq
          val keep = dpKeep(pts, 100.0)
          pts.indices.collect { case i if keep(i) =>
            DpKept(sg.id, pts(i).ts, pts(i).seq, pts(i).lat, pts(i).lon)
          }
        }
        .toDF()
        .orderBy(col("user_id"), col("time"), col("event_id"))
    },
    Some {
      val len2 = "((b.lon - a.lon) * (b.lon - a.lon) + " +
        "(b.lat - a.lat) * (b.lat - a.lat))"
      val cross = "((b.lon - a.lon) * (a.lat - p.lat) - " +
        "(a.lon - p.lon) * (b.lat - a.lat))"
      val dist2 = "((p.lon - a.lon) * (p.lon - a.lon) + " +
        "(p.lat - a.lat) * (p.lat - a.lat))"
      s"""WITH RECURSIVE pts AS (
        |  SELECT user_id, date_trunc('month', ts) AS chunk, ts, event_id,
        |         CAST((user_id + event_id) % 180 - 90 AS DOUBLE) + 0.5 AS lat,
        |         CAST(event_id % 360 - 180 AS DOUBLE) + 0.5 AS lon,
        |         row_number() OVER (PARTITION BY user_id, date_trunc('month', ts)
        |                            ORDER BY ts, event_id) AS rn
        |  FROM events WHERE user_id IS NOT NULL AND event_id IS NOT NULL
        |),
        |walk(user_id, chunk, lo, hi) AS (
        |  SELECT user_id, chunk, min(rn), max(rn) FROM pts GROUP BY user_id, chunk
        |  UNION ALL
        |  SELECT user_id, chunk,
        |         CASE WHEN side = 0 THEN lo ELSE k END,
        |         CASE WHEN side = 0 THEN k ELSE hi END
        |  FROM (
        |    SELECT w.user_id, w.chunk, w.lo, w.hi,
        |           (SELECT p.rn FROM pts p
        |            WHERE p.user_id = w.user_id AND p.chunk = w.chunk
        |              AND p.rn > w.lo AND p.rn < w.hi
        |              AND CASE WHEN $len2 = 0.0 THEN $dist2 > 100.0
        |                       ELSE $cross * $cross > 100.0 * $len2 END
        |            ORDER BY CASE WHEN $len2 = 0.0 THEN $dist2
        |                          ELSE $cross * $cross END DESC, p.rn
        |            LIMIT 1) AS k
        |    FROM walk w
        |    JOIN pts a ON a.user_id = w.user_id AND a.chunk = w.chunk
        |     AND a.rn = w.lo
        |    JOIN pts b ON b.user_id = w.user_id AND b.chunk = w.chunk
        |     AND b.rn = w.hi
        |    WHERE w.hi > w.lo + 1
        |  ) CROSS JOIN (SELECT unnest([0, 1]) AS side)
        |  WHERE k IS NOT NULL
        |),
        |kept AS (
        |  -- DISTINCT, not UNION: inside a WITH RECURSIVE list DuckDB
        |  -- 1.0 runs a non-self-referencing CTE's UNION as UNION ALL
        |  SELECT DISTINCT user_id, chunk, rn FROM (
        |    SELECT user_id, chunk, lo AS rn FROM walk
        |    UNION ALL
        |    SELECT user_id, chunk, hi AS rn FROM walk)
        |)
        |SELECT p.user_id, p.ts AS time, p.event_id, p.lat, p.lon
        |FROM kept k JOIN pts p ON p.user_id = k.user_id AND p.chunk = k.chunk
        | AND p.rn = k.rn
        |ORDER BY p.user_id, time, p.event_id""".stripMargin
    })

  /** The skewed track layout for [[geoHull]]: under the [[trackLayout2dPath]]
    * mapping every entity's fixes land on TWO parallel unit-slope lines
    * (lat − lon is piecewise constant in the event key), so each
    * month's convex hull degenerates to "every point is on a boundary
    * edge" and the operator would be vacuous. The ×7 latitude skew
    * wraps every ~26 events, scattering each month across ~14 slope-7
    * branches — interior branches sit strictly inside the hull and
    * their points genuinely drop. Same storage policy as the siblings. */
  def trackLayoutSkewPath(s: SparkSession, d: String): String =
    graft.ScratchDirs.materializedPath("geo_trackhull_layout", d) { p =>
      val pts = Tables.events(s, d)
        .filter(col("user_id").isNotNull && col("event_id").isNotNull)
        .select(col("user_id").as("id"), col("ts"), col("event_id").as("seq"),
          (((col("user_id") + lit(7) * col("event_id")) % 180 - 90)
            .cast("double") + 0.5).as("lat"),
          ((col("event_id") % 360 - 180).cast("double") + 0.5).as("lon"))
      graft.sources.LtssSink.writeTrackLayout(pts, p)
    }

  /** Collinear-INCLUSIVE Andrew monotone chain over distinct scaled
    * lattice positions `(x2, y2) = (2·lon, 2·lat)` — all arithmetic
    * exact Longs. Returns the set of positions on the hull BOUNDARY:
    * vertices AND points lying on boundary edges (the chain pops only
    * on a STRICT clockwise turn, so collinear runs survive); interior
    * points always drop. Equivalence with the support-line
    * characterization ("∃ another position a with every position on
    * one closed side of line(p, a)") is property-proven at 1000 random
    * trials in HullPropertySpec — the oracle evaluates THAT definition,
    * never this algorithm. */
  private[graft] def hullBoundary(pos: Seq[(Long, Long)]): Set[(Long, Long)] = {
    val ps = pos.distinct.sorted
    if (ps.size <= 2) return ps.toSet
    def cross(o: (Long, Long), a: (Long, Long), b: (Long, Long)): Long =
      (a._1 - o._1) * (b._2 - o._2) - (a._2 - o._2) * (b._1 - o._1)
    def half(seq: Seq[(Long, Long)]): Seq[(Long, Long)] = {
      val h = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      for (p <- seq) {
        while (h.size >= 2 && cross(h(h.size - 2), h(h.size - 1), p) < 0)
          h.remove(h.size - 1)
        h += p
      }
      h.toSeq
    }
    (half(ps) ++ half(ps.reverse)).toSet
  }

  /** CONVEX HULL of each stored month segment (`ST_ConvexHull` over the
    * per-entity track — the footprint/coverage primitive): the fixes on
    * the hull BOUNDARY of the entity's month, collinear boundary points
    * included (they lie ON the geometry's exterior ring) and duplicate
    * positions resolved by position, PostGIS-style. One compiled
    * monotone-chain pass per segment ([[hullBoundary]] — O(n log n) in
    * exact Long arithmetic on the doubled lattice, the production
    * algorithm), map-side over the skewed layout like [[geoDouglasPeucker]];
    * per-task work is bounded by the month-chunk policy, so total cost
    * is linear in segments at any scale. The oracle never sees the
    * algorithm: it evaluates the support-line DEFINITION of the
    * boundary — a position is on the hull iff some line through it and
    * another position has every position on one closed side (single
    * positions are trivially boundary) — as a relational triple join
    * over distinct positions with exact BIGINT cross products; the two
    * are equivalent by the property proof, so the gate checks
    * semantics, not code shape (the [[geoDbscan]] convention). */
  val geoHull = OracleQuery(
    "ltss_geo_hull",
    (s, d) => {
      import s.implicits._
      s.read.parquet(trackLayoutSkewPath(s, d))
        .select(col("id"), col("chunk"), col("seg")).as[DpSeg]
        .flatMap { sg =>
          val pts = sg.seg
          val pos = pts.map(f => (math.round(2.0 * f.lon), math.round(2.0 * f.lat)))
          val hull = hullBoundary(pos)
          pts.iterator.zip(pos.iterator).collect {
            case (f, p) if hull(p) => DpKept(sg.id, f.ts, f.seq, f.lat, f.lon)
          }.toSeq
        }
        .toDF()
        .orderBy(col("user_id"), col("time"), col("event_id"))
    },
    Some {
      val cross = "((a.x2 - p.x2) * (r.y2 - p.y2) - (a.y2 - p.y2) * (r.x2 - p.x2))"
      s"""WITH pts AS (
        |  SELECT user_id, date_trunc('month', ts) AS chunk, ts, event_id,
        |         CAST((user_id + 7 * event_id) % 180 - 90 AS DOUBLE) + 0.5 AS lat,
        |         CAST(event_id % 360 - 180 AS DOUBLE) + 0.5 AS lon,
        |         2 * ((user_id + 7 * event_id) % 180) - 179 AS y2,
        |         2 * (event_id % 360) - 359 AS x2
        |  FROM events WHERE user_id IS NOT NULL AND event_id IS NOT NULL
        |), pos AS (
        |  SELECT DISTINCT user_id, chunk, x2, y2 FROM pts
        |), npos AS (
        |  SELECT user_id, chunk, count(*) AS n FROM pos GROUP BY 1, 2
        |), sup AS (
        |  SELECT p.user_id, p.chunk, p.x2, p.y2,
        |         min($cross) AS mn, max($cross) AS mx
        |  FROM pos p
        |  JOIN pos a ON a.user_id = p.user_id AND a.chunk = p.chunk
        |   AND (a.x2 <> p.x2 OR a.y2 <> p.y2)
        |  JOIN pos r ON r.user_id = p.user_id AND r.chunk = p.chunk
        |  GROUP BY p.user_id, p.chunk, p.x2, p.y2, a.x2, a.y2
        |), hull AS (
        |  SELECT DISTINCT user_id, chunk, x2, y2
        |  FROM sup WHERE mn >= 0 OR mx <= 0
        |  UNION
        |  SELECT p.user_id, p.chunk, p.x2, p.y2
        |  FROM pos p JOIN npos n ON n.user_id = p.user_id AND n.chunk = p.chunk
        |  WHERE n.n = 1
        |)
        |SELECT t.user_id, t.ts AS time, t.event_id, t.lat, t.lon
        |FROM pts t JOIN hull h ON h.user_id = t.user_id AND h.chunk = t.chunk
        | AND h.x2 = t.x2 AND h.y2 = t.y2
        |ORDER BY t.user_id, time, t.event_id""".stripMargin
    })

  /** Discrete Fréchet distance² between two ordered fix sequences —
    * the Eiter–Mannila 1994 coupling DP, O(n·m) time / O(m) space (two
    * rolling rows). Every operand is EXACT on the fixture lattice:
    * coordinate differences are integer-valued doubles, d² their exact
    * sums, and max/min never round — so the returned distance² is an
    * exact integer-valued double and cross-engine comparisons are
    * bit-stable. Exposed for the hand-trace spec. */
  private[graft] def discreteFrechet2(
      p: IndexedSeq[DpFix], q: IndexedSeq[DpFix]): Double = {
    val n = p.length
    val m = q.length
    val prev = new Array[Double](m)
    val cur = new Array[Double](m)
    var i = 0
    while (i < n) {
      var j = 0
      while (j < m) {
        val dx = p(i).lon - q(j).lon
        val dy = p(i).lat - q(j).lat
        val d2 = dx * dx + dy * dy
        cur(j) =
          if (i == 0 && j == 0) d2
          else if (i == 0) math.max(cur(j - 1), d2)
          else if (j == 0) math.max(prev(0), d2)
          else math.max(d2, math.min(prev(j), math.min(prev(j - 1), cur(j - 1))))
        j += 1
      }
      System.arraycopy(cur, 0, prev, 0, m)
      i += 1
    }
    prev(m - 1)
  }

  /** Dynamic-time-warping alignment COST² between two ordered fix
    * sequences (Sakoe–Chiba 1978) — the SUM-of-d² sibling of
    * [[discreteFrechet2]]'s max: dtw[i][j] = d²(i,j) + min(dtw[i−1][j],
    * dtw[i][j−1], dtw[i−1][j−1]), the minimum total squared distance
    * over all monotone warping paths. O(n·m) time / O(m) space (two
    * rolling rows). Every partial sum is a sum of integer-valued d²
    * doubles on the fixture lattice — exact well below 2⁵³ — so the
    * returned cost is an exact integer-valued double and cross-engine
    * comparisons are bit-stable. Exposed for the hand-trace and
    * exhaustive-path adversary specs. */
  private[graft] def discreteDtw2(
      p: IndexedSeq[DpFix], q: IndexedSeq[DpFix]): Double = {
    val n = p.length
    val m = q.length
    val prev = new Array[Double](m)
    val cur = new Array[Double](m)
    var i = 0
    while (i < n) {
      var j = 0
      while (j < m) {
        val dx = p(i).lon - q(j).lon
        val dy = p(i).lat - q(j).lat
        val d2 = dx * dx + dy * dy
        cur(j) =
          if (i == 0 && j == 0) d2
          else if (i == 0) d2 + cur(j - 1)
          else if (j == 0) d2 + prev(0)
          else d2 + math.min(prev(j), math.min(prev(j - 1), cur(j - 1)))
        j += 1
      }
      System.arraycopy(cur, 0, prev, 0, m)
      i += 1
    }
    prev(m - 1)
  }

  /** [[discreteDtw2]] under a Sakoe–Chiba band: the warping path may
    * only visit cells with |i − j| ≤ w (w widened to |n − m| when the
    * length gap exceeds it — otherwise the corner is unreachable), the
    * standard production DTW constraint (Sakoe & Chiba, IEEE TASSP
    * 1978): O(n·w) per pair instead of O(n·m), and the constrained
    * cost UPPER-BOUNDS the free one (the band only removes paths).
    * Out-of-band cells are +∞; every in-band cell has an in-band
    * predecessor (the band is contiguous and shifts by ≤1 per row), so
    * no ∞ ever reaches a reported value. Exact lattice arithmetic as
    * the free DP. */
  private[graft] def discreteDtwBand2(
      p: IndexedSeq[DpFix], q: IndexedSeq[DpFix], w0: Int): Double = {
    val n = p.length
    val m = q.length
    val w = math.max(w0, math.abs(n - m))
    val Inf = Double.PositiveInfinity
    // per-row work is O(w), NOT O(m): rows hand off by POINTER SWAP
    // (no arraycopy) and only the two boundary cells a later read can
    // touch are reset — row i reads prev(j), prev(j−1), cur(j−1) for
    // j in its band, so the only out-of-band cells ever read are
    // cur(jLo−1) (reset before the row) and prev(jHi_prev+1) (reset
    // after the previous row); everything else in the buffers is
    // stale-but-unread. The first 100× probe used fill+copy and
    // measured SLOWER than the free DP — the O(n·m) buffer traffic
    // was the whole cost.
    var prev = Array.fill(m)(Inf)
    var cur = Array.fill(m)(Inf)
    var i = 0
    while (i < n) {
      val jLo = math.max(0, i - w)
      val jHi = math.min(m - 1, i + w)
      if (jLo > 0) cur(jLo - 1) = Inf
      var j = jLo
      while (j <= jHi) {
        val dx = p(i).lon - q(j).lon
        val dy = p(i).lat - q(j).lat
        val d2 = dx * dx + dy * dy
        cur(j) =
          if (i == 0 && j == 0) d2
          else if (i == 0) d2 + cur(j - 1)
          else if (j == 0) d2 + prev(0)
          else d2 + math.min(prev(j), math.min(prev(j - 1), cur(j - 1)))
        j += 1
      }
      if (jHi + 1 < m) cur(jHi + 1) = Inf
      val t = prev; prev = cur; cur = t
      i += 1
    }
    prev(m - 1)
  }

  /** TRAJECTORY SIMILARITY over stored tracks — the PostGIS
    * `ST_FrechetDistance` analog (the "which trackers moved together"
    * query the track tier exists for): the 20 entity pairs whose month
    * segments have the smallest discrete Fréchet distance, planar
    * degrees on the fixture lattice. NEVER all-pairs: candidate pairs
    * come from a LOSSLESS endpoint screen — max(d(starts), d(ends)) is
    * a lower bound of the Fréchet distance (any coupling aligns the
    * first points and the last points), so pairs screened out at
    * D = 20° could never rank among pairs the screen admits below it —
    * and the screen itself joins on a D-sized grid cell of the START
    * point (3×3 neighbor expansion, the LSH-band shape: d(starts) ≤ D
    * forces adjacent cells), so the candidate join fans out by
    * spatial density, not corpus². Survivors broadcast back onto the
    * layout (two dimension-sized joins), and each pair's DP runs as
    * ONE compiled pass over its two month arrays ([[discreteFrechet2]]
    * — the dpKeep precedent: data-dependent sequential folds belong in
    * a typed map, not an expression tree), map-side over the
    * range-partitioned layout. At 100× the screened-pair count grows
    * with spatial co-location (measured in SCALING.md), never n².
    * Decisions are exact on the lattice (integer-valued distance²);
    * the output applies ONE closing sqrt. Oracle: the identical DP
    * replayed in DuckDB as an ANTI-DIAGONAL recursive CTE — diagonal k
    * cells depend only on diagonals k−1 and k−2, so the whole table
    * advances as two carried lists per pair in n+m−1 iterations with
    * the same exact arithmetic, over the raw ordered fixes (never the
    * layout). */
  /** The endpoint-screened candidate-pair frame SHARED by
    * [[geoFrechet]] and [[geoDtw]] (the screen is lossless for both —
    * every Fréchet coupling and every DTW warping path aligns the two
    * start points and the two end points, so max(d²(starts),
    * d²(ends)) lower-bounds each distance): candidates from a D-sized
    * start-cell grid (3×3 neighbor expansion, the LSH-band shape),
    * the exact endpoint predicate, survivor pairs equi-joined to
    * their month arrays. NO broadcast hints: at fixture SF AQE
    * broadcasts the tiny candidate table on its own, and at
    * folded-100× density the candidate set (a fortiori with arrays
    * attached) outgrows the driver — a forced broadcast was measured
    * failing exactly there (maxResultSize, SCALING.md r16); the
    * shuffle join on (id, chunk) is the honest shape. */
  private def endpointScreenedPairs(s: SparkSession, d: String, D: Double)
      : org.apache.spark.sql.Dataset[
        (java.sql.Timestamp, Long, Long, Seq[DpFix], Seq[DpFix])] = {
    import s.implicits._
    val D2 = D * D
    val segs = s.read.parquet(trackLayout2dPath(s, d))
      .select(col("id"), col("chunk"), col("seg"))
    val ends = segs.select(col("id"), col("chunk"),
        element_at(col("seg"), 1).as("p1"),
        element_at(col("seg"), -1).as("pn"))
      .select(col("id"), col("chunk"),
        col("p1.lat").as("lat1"), col("p1.lon").as("lon1"),
        col("pn.lat").as("latn"), col("pn.lon").as("lonn"))
      .withColumn("cla", floor((col("lat1") + lit(90.0)) / lit(D)).cast("long"))
      .withColumn("clo", floor((col("lon1") + lit(180.0)) / lit(D)).cast("long"))
    val aSide = ends.select(col("chunk"), col("id").as("id_a"),
        col("lat1").as("alat1"), col("lon1").as("alon1"),
        col("latn").as("alatn"), col("lonn").as("alonn"),
        col("cla"), col("clo"))
      .withColumn("dla", explode(array(lit(-1L), lit(0L), lit(1L))))
      .withColumn("dlo", explode(array(lit(-1L), lit(0L), lit(1L))))
      .select(col("chunk"), col("id_a"),
        col("alat1"), col("alon1"), col("alatn"), col("alonn"),
        (col("cla") + col("dla")).as("jla"), (col("clo") + col("dlo")).as("jlo"))
    val bSide = ends.select(col("chunk"), col("id").as("id_b"),
      col("lat1").as("blat1"), col("lon1").as("blon1"),
      col("latn").as("blatn"), col("lonn").as("blonn"),
      col("cla").as("jla"), col("clo").as("jlo"))
    val cand = aSide.join(bSide, Seq("chunk", "jla", "jlo"))
      .filter(col("id_a") < col("id_b"))
      .filter(greatest(
        (col("alat1") - col("blat1")) * (col("alat1") - col("blat1"))
          + (col("alon1") - col("blon1")) * (col("alon1") - col("blon1")),
        (col("alatn") - col("blatn")) * (col("alatn") - col("blatn"))
          + (col("alonn") - col("blonn")) * (col("alonn") - col("blonn")))
        <= lit(D2))
      .select(col("chunk"), col("id_a"), col("id_b"))
    val withA = segs
      .select(col("id").as("id_a"), col("chunk"), col("seg").as("seg_a"))
      .join(cand, Seq("id_a", "chunk"))
    val withB = segs
      .select(col("id").as("id_b"), col("chunk"), col("seg").as("seg_b"))
      .join(withA, Seq("id_b", "chunk"))
    withB.select(col("chunk").as("month"), col("id_a"), col("id_b"),
        col("seg_a"), col("seg_b"))
      .as[(java.sql.Timestamp, Long, Long, Seq[DpFix], Seq[DpFix])]
  }

  val geoFrechet = OracleQuery(
    "ltss_geo_frechet",
    (s, d) => {
      import s.implicits._
      endpointScreenedPairs(s, d, 20.0)
        .map { case (m, a, b, sa, sb) =>
          val fr2 = discreteFrechet2(sa.toIndexedSeq, sb.toIndexedSeq)
          (m, a, b, sa.length.toLong, sb.length.toLong, fr2, math.sqrt(fr2))
        }
        .toDF("month", "id_a", "id_b", "n_a", "n_b",
          "frechet_sq_deg", "frechet_deg")
        .orderBy(col("frechet_sq_deg"), col("id_a"), col("id_b"), col("month"))
        .limit(20)
    },
    Some {
      s"""WITH RECURSIVE pts AS (
        |  SELECT user_id, date_trunc('month', ts) AS chunk, ts, event_id,
        |         CAST((user_id + event_id) % 180 - 90 AS DOUBLE) + 0.5 AS lat,
        |         CAST(event_id % 360 - 180 AS DOUBLE) + 0.5 AS lon,
        |         row_number() OVER (PARTITION BY user_id, date_trunc('month', ts)
        |                            ORDER BY ts, event_id) AS rn
        |  FROM events WHERE user_id IS NOT NULL AND event_id IS NOT NULL
        |),
        |tracks AS (
        |  SELECT user_id, chunk, count(*) AS n,
        |         list(lat ORDER BY rn) AS lats, list(lon ORDER BY rn) AS lons
        |  FROM pts GROUP BY user_id, chunk
        |),
        |cand AS (
        |  SELECT a.user_id AS id_a, b.user_id AS id_b, a.chunk,
        |         a.n AS na, b.n AS nb,
        |         a.lats AS alat, a.lons AS alon,
        |         b.lats AS blat, b.lons AS blon
        |  FROM tracks a JOIN tracks b
        |    ON a.chunk = b.chunk AND a.user_id < b.user_id
        |  WHERE greatest(
        |    (a.lats[1] - b.lats[1]) * (a.lats[1] - b.lats[1])
        |      + (a.lons[1] - b.lons[1]) * (a.lons[1] - b.lons[1]),
        |    (a.lats[a.n] - b.lats[b.n]) * (a.lats[a.n] - b.lats[b.n])
        |      + (a.lons[a.n] - b.lons[b.n]) * (a.lons[a.n] - b.lons[b.n])
        |  ) <= 400.0
        |),
        |walk(id_a, id_b, chunk, na, nb, alat, alon, blat, blon, k, dk, dk1) AS (
        |  SELECT id_a, id_b, chunk, na, nb, alat, alon, blat, blon, 1,
        |         [(alat[1] - blat[1]) * (alat[1] - blat[1])
        |          + (alon[1] - blon[1]) * (alon[1] - blon[1])],
        |         CAST(NULL AS DOUBLE[])
        |  FROM cand
        |  UNION ALL
        |  SELECT id_a, id_b, chunk, na, nb, alat, alon, blat, blon, k + 1,
        |    list_transform(range(greatest(1, k + 2 - nb), least(na, k + 1) + 1), i ->
        |      greatest(
        |        (alat[i] - blat[k + 2 - i]) * (alat[i] - blat[k + 2 - i])
        |          + (alon[i] - blon[k + 2 - i]) * (alon[i] - blon[k + 2 - i]),
        |        least(
        |          coalesce(dk[i - 1 - greatest(1, k + 1 - nb) + 1], 1e308),
        |          coalesce(dk[i - greatest(1, k + 1 - nb) + 1], 1e308),
        |          coalesce(dk1[i - 1 - greatest(1, k - nb) + 1], 1e308)))),
        |    dk
        |  FROM walk WHERE k < na + nb - 1
        |)
        |SELECT chunk AS month, id_a, id_b, na AS n_a, nb AS n_b,
        |       dk[1] AS frechet_sq_deg, sqrt(dk[1]) AS frechet_deg
        |FROM walk WHERE k = na + nb - 1
        |ORDER BY frechet_sq_deg, id_a, id_b, month LIMIT 20""".stripMargin
    })

  /** TRAJECTORY SIMILARITY, the DTW face — the third classic
    * trajectory distance next to [[geoFrechet]] (max-coupling) and
    * [[geoHausdorff]] (order-free max-min): DYNAMIC TIME WARPING, the
    * minimum SUM of squared distances over all monotone alignments
    * ([[discreteDtw2]]) — the distance that forgives SPEED differences
    * (a tracker driving the same route twice as fast warps onto it at
    * near-zero cost, where Fréchet only forgives pauses and Hausdorff
    * ignores order entirely). Top-20 pairs by alignment cost among the
    * ADMITTED candidates, with the per-step normalization reported
    * beside the raw sum (cost / (n+m) — the usual length correction,
    * one closing division). The candidate screen is [[geoFrechet]]'s
    * VERBATIM, and it is lossless here for the same reason: every
    * warping path aligns the two start points and the two end points,
    * so DTW cost ≥ max(d²(starts), d²(ends)) — a pair screened out at
    * D² has cost > D², and the contract is threshold-then-rank exactly
    * like the Fréchet/Hausdorff faces (admitted iff the endpoint bound
    * passes, ranked within the admitted set). Same plan shape: D-sized
    * start-cell grid join (3×3 expansion, the LSH-band shape), NO
    * broadcast hints (the frechet maxResultSize lesson), survivors
    * equi-join their month arrays, ONE compiled O(n·m)/O(m) pass per
    * pair, map-side over the range-partitioned layout. Every DP cell
    * is an exact integer-valued double (sums of lattice d² — far below
    * 2⁵³), so cross-engine comparisons are bit-stable with no IEEE
    * tree discipline needed beyond the one closing division. Oracle:
    * the identical DP replayed as the ANTI-DIAGONAL recursive CTE of
    * the Fréchet oracle with `+ least` in place of `greatest(…,
    * least(…))` — diagonal k depends only on diagonals k−1 and k−2. */
  val geoDtw = OracleQuery(
    "ltss_geo_dtw",
    (s, d) => {
      import s.implicits._
      endpointScreenedPairs(s, d, 20.0)
        .map { case (m, a, b, sa, sb) =>
          val c2 = discreteDtw2(sa.toIndexedSeq, sb.toIndexedSeq)
          (m, a, b, sa.length.toLong, sb.length.toLong, c2)
        }
        .toDF("month", "id_a", "id_b", "n_a", "n_b", "dtw_sq_sum")
        .withColumn("dtw_per_step",
          col("dtw_sq_sum") / (col("n_a") + col("n_b")))
        .orderBy(col("dtw_sq_sum"), col("id_a"), col("id_b"), col("month"))
        .limit(20)
    },
    Some {
      s"""WITH RECURSIVE pts AS (
        |  SELECT user_id, date_trunc('month', ts) AS chunk, ts, event_id,
        |         CAST((user_id + event_id) % 180 - 90 AS DOUBLE) + 0.5 AS lat,
        |         CAST(event_id % 360 - 180 AS DOUBLE) + 0.5 AS lon,
        |         row_number() OVER (PARTITION BY user_id, date_trunc('month', ts)
        |                            ORDER BY ts, event_id) AS rn
        |  FROM events WHERE user_id IS NOT NULL AND event_id IS NOT NULL
        |),
        |tracks AS (
        |  SELECT user_id, chunk, count(*) AS n,
        |         list(lat ORDER BY rn) AS lats, list(lon ORDER BY rn) AS lons
        |  FROM pts GROUP BY user_id, chunk
        |),
        |cand AS (
        |  SELECT a.user_id AS id_a, b.user_id AS id_b, a.chunk,
        |         a.n AS na, b.n AS nb,
        |         a.lats AS alat, a.lons AS alon,
        |         b.lats AS blat, b.lons AS blon
        |  FROM tracks a JOIN tracks b
        |    ON a.chunk = b.chunk AND a.user_id < b.user_id
        |  WHERE greatest(
        |    (a.lats[1] - b.lats[1]) * (a.lats[1] - b.lats[1])
        |      + (a.lons[1] - b.lons[1]) * (a.lons[1] - b.lons[1]),
        |    (a.lats[a.n] - b.lats[b.n]) * (a.lats[a.n] - b.lats[b.n])
        |      + (a.lons[a.n] - b.lons[b.n]) * (a.lons[a.n] - b.lons[b.n])
        |  ) <= 400.0
        |),
        |walk(id_a, id_b, chunk, na, nb, alat, alon, blat, blon, k, dk, dk1) AS (
        |  SELECT id_a, id_b, chunk, na, nb, alat, alon, blat, blon, 1,
        |         [(alat[1] - blat[1]) * (alat[1] - blat[1])
        |          + (alon[1] - blon[1]) * (alon[1] - blon[1])],
        |         CAST(NULL AS DOUBLE[])
        |  FROM cand
        |  UNION ALL
        |  SELECT id_a, id_b, chunk, na, nb, alat, alon, blat, blon, k + 1,
        |    list_transform(range(greatest(1, k + 2 - nb), least(na, k + 1) + 1), i ->
        |      (alat[i] - blat[k + 2 - i]) * (alat[i] - blat[k + 2 - i])
        |        + (alon[i] - blon[k + 2 - i]) * (alon[i] - blon[k + 2 - i])
        |      + least(
        |          coalesce(dk[i - 1 - greatest(1, k + 1 - nb) + 1], 1e308),
        |          coalesce(dk[i - greatest(1, k + 1 - nb) + 1], 1e308),
        |          coalesce(dk1[i - 1 - greatest(1, k - nb) + 1], 1e308))),
        |    dk
        |  FROM walk WHERE k < na + nb - 1
        |)
        |SELECT chunk AS month, id_a, id_b, na AS n_a, nb AS n_b,
        |       dk[1] AS dtw_sq_sum, dk[1] / (na + nb) AS dtw_per_step
        |FROM walk WHERE k = na + nb - 1
        |ORDER BY dtw_sq_sum, id_a, id_b, month LIMIT 20""".stripMargin
    })

  /** [[geoDtw]] under the Sakoe–Chiba band |i − j| ≤ w (w = 8,
    * widened per pair to |n − m| so the corner stays reachable) — THE
    * standard production DTW knob (r17 VERDICT's optional #8): O(n·w)
    * per pair instead of O(n·m), and the banded cost UPPER-BOUNDS the
    * free one (the band only removes warping paths), so ranking by it
    * is the usual accuracy/cost trade made explicit. The endpoint
    * screen stays lossless: every banded path still aligns the two
    * starts and the two ends ((1,1) and (n,m) are always in band), so
    * banded cost ≥ max(d²(starts), d²(ends)) exactly as the free DP.
    * Same plan shape as [[geoDtw]] — screen join, survivors equi-join
    * arrays, ONE compiled O(n·w)/O(m) pass per pair
    * ([[discreteDtwBand2]]), map-side. Oracle: the identical
    * anti-diagonal recursive CTE with out-of-band cells pinned to
    * 1e308 (diagonal k holds j = k + 2 − i, so the band test is
    * |2i − k − 2| ≤ w; ∞ never reaches a reported value — every
    * in-band cell has an in-band predecessor). */
  val geoDtwBand = OracleQuery(
    "ltss_geo_dtw_band",
    (s, d) => {
      import s.implicits._
      endpointScreenedPairs(s, d, 20.0)
        .map { case (m, a, b, sa, sb) =>
          val c2 = discreteDtwBand2(sa.toIndexedSeq, sb.toIndexedSeq, 8)
          (m, a, b, sa.length.toLong, sb.length.toLong, c2)
        }
        .toDF("month", "id_a", "id_b", "n_a", "n_b", "dtw_band_sq_sum")
        .withColumn("dtw_band_per_step",
          col("dtw_band_sq_sum") / (col("n_a") + col("n_b")))
        .orderBy(col("dtw_band_sq_sum"), col("id_a"), col("id_b"), col("month"))
        .limit(20)
    },
    Some {
      s"""WITH RECURSIVE pts AS (
        |  SELECT user_id, date_trunc('month', ts) AS chunk, ts, event_id,
        |         CAST((user_id + event_id) % 180 - 90 AS DOUBLE) + 0.5 AS lat,
        |         CAST(event_id % 360 - 180 AS DOUBLE) + 0.5 AS lon,
        |         row_number() OVER (PARTITION BY user_id, date_trunc('month', ts)
        |                            ORDER BY ts, event_id) AS rn
        |  FROM events WHERE user_id IS NOT NULL AND event_id IS NOT NULL
        |),
        |tracks AS (
        |  SELECT user_id, chunk, count(*) AS n,
        |         list(lat ORDER BY rn) AS lats, list(lon ORDER BY rn) AS lons
        |  FROM pts GROUP BY user_id, chunk
        |),
        |cand AS (
        |  SELECT a.user_id AS id_a, b.user_id AS id_b, a.chunk,
        |         a.n AS na, b.n AS nb,
        |         greatest(8, abs(a.n - b.n)) AS w,
        |         a.lats AS alat, a.lons AS alon,
        |         b.lats AS blat, b.lons AS blon
        |  FROM tracks a JOIN tracks b
        |    ON a.chunk = b.chunk AND a.user_id < b.user_id
        |  WHERE greatest(
        |    (a.lats[1] - b.lats[1]) * (a.lats[1] - b.lats[1])
        |      + (a.lons[1] - b.lons[1]) * (a.lons[1] - b.lons[1]),
        |    (a.lats[a.n] - b.lats[b.n]) * (a.lats[a.n] - b.lats[b.n])
        |      + (a.lons[a.n] - b.lons[b.n]) * (a.lons[a.n] - b.lons[b.n])
        |  ) <= 400.0
        |),
        |walk(id_a, id_b, chunk, na, nb, w, alat, alon, blat, blon, k, dk, dk1) AS (
        |  SELECT id_a, id_b, chunk, na, nb, w, alat, alon, blat, blon, 1,
        |         [(alat[1] - blat[1]) * (alat[1] - blat[1])
        |          + (alon[1] - blon[1]) * (alon[1] - blon[1])],
        |         CAST(NULL AS DOUBLE[])
        |  FROM cand
        |  UNION ALL
        |  SELECT id_a, id_b, chunk, na, nb, w, alat, alon, blat, blon, k + 1,
        |    list_transform(range(greatest(1, k + 2 - nb), least(na, k + 1) + 1), i ->
        |      CASE WHEN abs(2 * i - k - 2) <= w THEN
        |        (alat[i] - blat[k + 2 - i]) * (alat[i] - blat[k + 2 - i])
        |          + (alon[i] - blon[k + 2 - i]) * (alon[i] - blon[k + 2 - i])
        |        + least(
        |            coalesce(dk[i - 1 - greatest(1, k + 1 - nb) + 1], 1e308),
        |            coalesce(dk[i - greatest(1, k + 1 - nb) + 1], 1e308),
        |            coalesce(dk1[i - 1 - greatest(1, k - nb) + 1], 1e308))
        |      ELSE 1e308 END),
        |    dk
        |  FROM walk WHERE k < na + nb - 1
        |)
        |SELECT chunk AS month, id_a, id_b, na AS n_a, nb AS n_b,
        |       dk[1] AS dtw_band_sq_sum, dk[1] / (na + nb) AS dtw_band_per_step
        |FROM walk WHERE k = na + nb - 1
        |ORDER BY dtw_band_sq_sum, id_a, id_b, month LIMIT 20""".stripMargin
    })

  /** Directed Hausdorff distance² — max over p∈P of min over q∈Q of
    * d²(p, q), the classic point-set distance (the other trajectory
    * distance next to [[discreteFrechet2]]; Hausdorff ignores ORDER
    * where Fréchet couples it — a subset track has directed distance 0
    * TO its superset but not back, the asymmetry the hand-trace spec
    * pins). Every operand exact on the fixture lattice: integer-valued
    * coordinate differences, exact d² sums, max/min never round.
    * O(n·m), two tight loops. Exposed for the hand-trace spec. */
  private[graft] def directedHausdorff2(
      p: IndexedSeq[DpFix], q: IndexedSeq[DpFix]): Double = {
    var h = 0.0
    var i = 0
    while (i < p.length) {
      var mn = Double.MaxValue
      var j = 0
      while (j < q.length) {
        val dx = p(i).lon - q(j).lon
        val dy = p(i).lat - q(j).lat
        val d2 = dx * dx + dy * dy
        if (d2 < mn) mn = d2
        j += 1
      }
      if (mn > h) h = mn
      i += 1
    }
    h
  }

  /** [[directedHausdorff2]] on primitive coordinate arrays with the
    * classic EARLY-ABANDON cut (r20, measured: the admitted-pair DP —
    * 310 k pairs × 67 × 67 points × 2 directions at sf0.1 — was the
    * query's cost center, not the screen): the inner min-scan stops as
    * soon as its running min reaches the running max h, because a
    * point whose min distance is ≤ h can never RAISE the max — the
    * returned h is bit-identical (each d² is computed by the same
    * expression; min/max are comparisons, not accumulations; skipped
    * work is exactly the work that cannot change the answer).
    * Property-pinned equal to the naive form. Primitive arrays keep
    * the per-row decode flat (no per-point struct objects).
    *
    * `cut` (r21): abandon the WHOLE pair once the running max h
    * exceeds it — h only grows, so a return value > cut certifies the
    * exact h is also > cut (the value itself is then a lower bound,
    * not the exact h); a return ≤ cut is the exact h, bit-identical
    * to the default-cut run. The top-k route uses its running 20th-
    * best as the cut. */
  private[graft] def directedHausdorff2Arrays(
      plat: Array[Double], plon: Array[Double],
      qlat: Array[Double], qlon: Array[Double],
      cut: Double = Double.MaxValue): Double = {
    var h = 0.0
    var i = 0
    while (i < plat.length && h <= cut) {
      var mn = Double.MaxValue
      var j = 0
      while (j < qlat.length && mn > h) {
        val dx = plon(i) - qlon(j)
        val dy = plat(i) - qlat(j)
        val d2 = dx * dx + dy * dy
        if (d2 < mn) mn = d2
        j += 1
      }
      if (mn > h) h = mn
      i += 1
    }
    h
  }

  /** Single-task top-k smallest symmetric Hausdorff over ONE chunk's
    * tracks (the local route of [[geoHausdorff]], r21): replays the
    * distributed screen's admission EXACTLY — a pair qualifies iff
    * d²(A.start, B) ≤ d2Cap AND d²(B.start, A) ≤ d2Cap, the same two
    * lossless start-bounds (the grid join's 3×3 cell expansion admits
    * precisely the points within D of the start, so the cell-local
    * exists and this direct scan accept the identical pair set) — and
    * keeps a running top-k heap whose current k-th best h² feeds
    * [[directedHausdorff2Arrays]] as the abandon cut: a pair whose
    * running max exceeds the current k-th best can never enter the
    * chunk's top k, and the global top k is a subset of the per-chunk
    * top k's (the ordering restricted to a chunk is the ordering).
    * Every EMITTED value is the exact full-DP value (the cut abandons
    * strictly above the k-th best h², and ties fall through to the
    * (h², id_a, id_b) tuple comparison, so an equal-h² pair is always
    * fully computed). `pts` arrays are the per-track DISTINCT
    * positions in first-occurrence order, so pts(0) is the track's
    * start; `n` is the ORIGINAL segment length (the reported n_a/n_b).
    * Tracks sort by id in-task — pair enumeration, heap content and
    * output are deterministic. */
  private[graft] def localHausdorffTopK(
      chunk: java.sql.Timestamp,
      tracks: Array[(java.sql.Timestamp, Long, Long, Array[Double], Array[Double])],
      d2Cap: Double, k: Int)
      : Iterator[(java.sql.Timestamp, Long, Long, Long, Long,
        Double, Double, Double, Double)] = {
    val ts = tracks.sortBy(_._2)
    // d²(point, track) ≤ cap? — early-true scan (the exists)
    def startNear(lat0: Double, lon0: Double,
        lats: Array[Double], lons: Array[Double]): Boolean = {
      var j = 0
      while (j < lats.length) {
        val dx = lon0 - lons(j)
        val dy = lat0 - lats(j)
        if (dx * dx + dy * dy <= d2Cap) return true
        j += 1
      }
      false
    }
    // worst-on-top heap of (h2, idA, idB, na, nb, hab, hba) — the k-th
    // best h2 is the abandon cut once the heap fills
    val ord = Ordering.by[(Double, Long, Long, Long, Long, Double, Double),
      (Double, Long, Long)](e => (e._1, e._2, e._3))
    val heap = scala.collection.mutable.PriorityQueue.empty[
      (Double, Long, Long, Long, Long, Double, Double)](ord)
    var i = 0
    while (i < ts.length) {
      val (_, idA, na, alats, alons) = ts(i)
      var j = i + 1
      while (j < ts.length) {
        val (_, idB, nb, blats, blons) = ts(j)
        if (startNear(alats(0), alons(0), blats, blons) &&
            startNear(blats(0), blons(0), alats, alons)) {
          val cut = if (heap.size < k) Double.MaxValue else heap.head._1
          val hab = directedHausdorff2Arrays(alats, alons, blats, blons, cut)
          if (hab <= cut) {
            val hba = directedHausdorff2Arrays(blats, blons, alats, alons, cut)
            if (hba <= cut) {
              val h2 = math.max(hab, hba)
              val e = (h2, idA, idB, na, nb, hab, hba)
              if (heap.size < k) heap.enqueue(e)
              else if (ord.lt(e, heap.head)) { heap.dequeue(); heap.enqueue(e) }
            }
          }
        }
        j += 1
      }
      i += 1
    }
    heap.iterator.map { case (h2, idA, idB, na, nb, hab, hba) =>
      (chunk, idA, idB, na, nb, hab, hba, h2, math.sqrt(h2))
    }
  }

  /** TRAJECTORY SIMILARITY, the Hausdorff face — the PostGIS
    * `ST_HausdorffDistance` analog over the stored tracks: the 20
    * entity pairs whose month segments have the smallest SYMMETRIC
    * Hausdorff distance max(h(A,B), h(B,A)), planar degrees on the
    * fixture lattice, both directed distances reported (the asymmetry
    * IS a datum — a detour shows up in one direction only). NEVER
    * all-pairs, but the screen is NOT [[geoFrechet]]'s: max(d(starts),
    * d(ends)) is NOT a lower bound of symmetric Hausdorff (Hausdorff
    * never couples endpoints — a pair can have huge start separation
    * and tiny Hausdorff). The bounds that ARE lossless: H(A,B) ≥
    * h(A,B) ≥ d(A.start, B) AND H(A,B) ≥ h(B,A) ≥ d(B.start, A) —
    * any point of either track sits within H of SOME point of the
    * other, the start included — and r18 intersects BOTH (r17 used
    * only the first, the flagged loosest screen of the trajectory
    * trio; the second is FREE because the grid join below already
    * enumerates every ordered (start, segment) pair — r17 just
    * discarded half pre-exists with an id < id filter — so both
    * directions ride ONE join, one extra compiled exists per row,
    * intersected by a count-2 rollup over 8-byte pair keys).
    * Candidates join each track's START (3×3 neighbor-expanded on the
    * D-sized grid, the LSH-band shape) against B's per-(track, cell)
    * DISTINCT-position arrays — one row per segment per touched cell,
    * the Fréchet screen's segment × segment join shape (r17: the
    * first cut joined raw exploded fixes, |starts| × |fixes| per
    * cell, and the 100× probe measured it filling the disk; min over
    * a set equals min over its distinct values and a qualifying fix's
    * cell is always inside the start's 3×3 expansion, so the grouped
    * screen admits the IDENTICAL pair set). Survivor pairs attach
    * their two month arrays by equi-joins on (id, chunk) — NO
    * broadcast hints, the frechet maxResultSize lesson — and each
    * pair's max-min runs as ONE compiled pass ([[directedHausdorff2]]
    * both ways), map-side. DESIGN NOTE (r18, measured): evaluating h
    * INSIDE the grid join (per-(A-fix, B-track) cell-local min d²,
    * which is exact below D on this lattice) was built and probed —
    * it matches at sf0.1 but the join output is fixes × tracks-per-
    * block, and the density fold SQUARES it (the folded 10× probe ran
    * 10× past r17's 88 s before being killed); the track-level screen
    * + compiled per-pair DP keeps the join segment × segment and the
    * quadratic term confined to ADMITTED pairs, which the two-sided
    * screen is for. Exact lattice arithmetic end to end; ONE closing
    * sqrt. Oracle: the identical max-min evaluated as nested list
    * comprehensions over the raw ordered fixes (no recursion — max-min
    * has no sequential dependence), with the SAME two exact screen
    * predicates in its cand stage. */
  val geoHausdorff = OracleQuery(
    "ltss_geo_hausdorff",
    (s, d) => {
      import s.implicits._
      val D = 20.0
      val D2 = D * D
      val segs = s.read.parquet(trackLayout2dPath(s, d))
        .select(col("id"), col("chunk"), col("seg"))
      // route: pairs never cross chunks and grow as a chunk's tracks²,
      // so the largest chunk's track count bounds one task. In-task,
      // [[localHausdorffTopK]] runs the same start-bound admission with
      // the running 20th-best as the DP abandon cut.
      val maxPerChunk = segs.groupBy(col("chunk"))
        .agg(count(lit(1)).as("n"))
        .agg(coalesce(max(col("n")), lit(0L))).as[Long].head()
      if (Routes.local(Routes.Hausdorff, maxPerChunk)) {
        segs.select(col("chunk"), col("id"),
            size(col("seg")).cast("long").as("n"),
            array_distinct(arrays_zip(
              col("seg.lat").as("lat"), col("seg.lon").as("lon"))).as("pts"))
          .select(col("chunk"), col("id"), col("n"),
            col("pts.lat").as("lats"), col("pts.lon").as("lons"))
          .as[(java.sql.Timestamp, Long, Long, Array[Double], Array[Double])]
          .groupByKey(_._1)
          .flatMapGroups((chunk: java.sql.Timestamp,
              it: Iterator[(java.sql.Timestamp, Long, Long,
                Array[Double], Array[Double])]) =>
            localHausdorffTopK(chunk, it.toArray, D2, 20))
          .toDF("month", "id_a", "id_b", "n_a", "n_b",
            "h_ab_sq_deg", "h_ba_sq_deg", "hausdorff_sq_deg", "hausdorff_deg")
          .orderBy(col("hausdorff_sq_deg"), col("id_a"), col("id_b"),
            col("month"))
          .limit(20)
      } else geoHausdorffDistributed(s, segs, D, D2)
    },
    geoHausdorffOracleSql)

  /** The above-cap route of [[geoHausdorff]] — the r17–r20 distributed
    * shape, verbatim: grid screen (start × per-(track, cell) distinct
    * positions, both directed start-bounds on one join, count-2
    * rollup), then the admitted pairs attach their two distinct-
    * position arrays by equi-joins and run the early-abandon DP
    * map-side. See [[geoHausdorff]]'s scaladoc for the full history
    * and the audit trail of rejected rewrites. */
  private def geoHausdorffDistributed(
      s: SparkSession, segs: DataFrame, D: Double, D2: Double)
      : DataFrame = {
      import s.implicits._
      val starts = segs.select(col("id").as("id_a"), col("chunk"),
          element_at(col("seg"), 1).as("p1"))
        .select(col("id_a"), col("chunk"),
          col("p1.lat").as("alat1"), col("p1.lon").as("alon1"))
        .withColumn("cla", floor((col("alat1") + lit(90.0)) / lit(D)).cast("long"))
        .withColumn("clo", floor((col("alon1") + lit(180.0)) / lit(D)).cast("long"))
        .withColumn("dla", explode(array(lit(-1L), lit(0L), lit(1L))))
        .withColumn("dlo", explode(array(lit(-1L), lit(0L), lit(1L))))
        .select(col("chunk"), col("id_a"), col("alat1"), col("alon1"),
          (col("cla") + col("dla")).as("jla"), (col("clo") + col("dlo")).as("jlo"))
      // the B side GROUPS to one row per (track, cell) carrying its
      // DISTINCT fix positions as an array (min over a set = min over
      // its distinct values, and a qualifying fix's cell is always in
      // the start's 3×3 expansion — the admitted set is IDENTICAL to
      // joining raw fixes): the screen join is then segment × segment
      // per cell, the Fréchet shape, where the raw-fix join's output
      // is |starts| × |fixes| per cell — measured filling the disk at
      // the folded 100× (SCALING.md r17). Each array is bounded by
      // one month-track's distinct positions inside one D-cell —
      // construction-bounded, never corpus-bounded.
      val bCells = segs.select(col("id").as("id_b"), col("chunk"),
          explode(col("seg")).as("f"))
        .select(col("id_b"), col("chunk"),
          col("f.lat").as("blat"), col("f.lon").as("blon"))
        .distinct()
        .withColumn("jla", floor((col("blat") + lit(90.0)) / lit(D)).cast("long"))
        .withColumn("jlo", floor((col("blon") + lit(180.0)) / lit(D)).cast("long"))
        .groupBy(col("id_b"), col("chunk"), col("jla"), col("jlo"))
        .agg(collect_list(struct(col("blat"), col("blon"))).as("bpts"))
      // r18: BOTH directed start-bounds intersect. The join already
      // enumerates every ORDERED (start, segment) pair — r17 merely
      // dropped half of them with an id_a < id_b filter before the
      // exists — so keeping both orders costs no extra enumeration,
      // and a pair is admitted only when d(A.start, B) ≤ D AND
      // d(B.start, A) ≤ D (each lossless: H ≥ h(X,Y) ≥ d(X.start, Y));
      // the intersection is the count-2 group below. Measured trade
      // (SCALING.md r18): the exists is a higher-order function —
      // interpreted, never codegen'd — so evaluating it on both
      // orders costs ~20% at the key-folded 10× density while the
      // admitted set (the survivor-with-arrays scratch term the r17
      // VERDICT flagged) shrinks ~6%; a compiled min/max-box pre-gate
      // was probed and REJECTED — it prunes well at production
      // density but a folded track's per-cell box fills the cell, so
      // at the documented scale it was pure per-row overhead.
      val dirAdm = starts.join(bCells, Seq("chunk", "jla", "jlo"))
        .filter(col("id_a") =!= col("id_b"))
        .filter(expr(s"exists(bpts, p -> " +
          s"(alat1 - p.blat) * (alat1 - p.blat) " +
          s"+ (alon1 - p.blon) * (alon1 - p.blon) <= $D2)"))
        .select(col("chunk"),
          least(col("id_a"), col("id_b")).as("id_lo"),
          greatest(col("id_a"), col("id_b")).as("id_hi"),
          (col("id_a") < col("id_b")).as("fwd"))
        .distinct()
      val cand = dirAdm.groupBy(col("chunk"), col("id_lo"), col("id_hi"))
        .agg(count(lit(1)).as("ndir"))
        .filter(col("ndir") === 2)
        .select(col("chunk"), col("id_lo").as("id_a"), col("id_hi").as("id_b"))
      // DISTINCT positions per track, computed ONCE per (id, chunk) —
      // never per pair (r20, measured: the admitted-pair DP was the
      // query's cost center — 310 k pairs × avg 67 × 67 points × 2
      // directions at sf0.1 — and the raw fixes carry ~2.5× duplicate
      // positions, a ~6× multiplier on the pairwise distance count).
      // Hausdorff is a point-SET distance: max-min over a multiset
      // equals max-min over its distinct values, so h is bit-identical;
      // n_a/n_b keep reporting the ORIGINAL segment lengths. The
      // distinct arrays also shrink the bytes the two attach joins
      // shuffle by the same factor (guide §2.3).
      val tracks = segs.select(col("id"), col("chunk"),
        size(col("seg")).cast("long").as("n"),
        array_distinct(arrays_zip(
          col("seg.lat").as("lat"), col("seg.lon").as("lon"))).as("pts"))
      val withA = tracks
        .select(col("id").as("id_a"), col("chunk"),
          col("n").as("na"), col("pts").as("pa"))
        .join(cand, Seq("id_a", "chunk"))
      val withB = tracks
        .select(col("id").as("id_b"), col("chunk"),
          col("n").as("nb"), col("pts").as("pb"))
        .join(withA, Seq("id_b", "chunk"))
      // pa.lat on an array<struct> is GetArrayStructFields — a
      // codegen'd columnar field extraction, NOT an interpreted
      // transform() lambda (probed: the HOF form cost MORE than the
      // struct decode it replaced); the map kernel runs the
      // early-abandon cut ([[directedHausdorff2Arrays]], bit-identical
      // h, property-pinned)
      withB.select(col("chunk").as("month"), col("id_a"), col("id_b"),
          col("na"), col("nb"),
          col("pa.lat").as("ala"), col("pa.lon").as("alo"),
          col("pb.lat").as("bla"), col("pb.lon").as("blo"))
        .as[(java.sql.Timestamp, Long, Long, Long, Long,
          Array[Double], Array[Double], Array[Double], Array[Double])]
        .map { case (m, a, b, na, nb, ala, alo, bla, blo) =>
          val hab = directedHausdorff2Arrays(ala, alo, bla, blo)
          val hba = directedHausdorff2Arrays(bla, blo, ala, alo)
          val h2 = math.max(hab, hba)
          (m, a, b, na, nb, hab, hba, h2, math.sqrt(h2))
        }
        .toDF("month", "id_a", "id_b", "n_a", "n_b",
          "h_ab_sq_deg", "h_ba_sq_deg", "hausdorff_sq_deg", "hausdorff_deg")
        .orderBy(col("hausdorff_sq_deg"), col("id_a"), col("id_b"), col("month"))
        .limit(20)
  }

  /** [[geoHausdorff]]'s DuckDB oracle — a def (not a val) because the
    * OracleQuery above initializes before later vals in this object. */
  private def geoHausdorffOracleSql: Option[String] =
    Some {
      def d2(ai: String, bj: String) =
        s"(alat[$ai] - blat[$bj]) * (alat[$ai] - blat[$bj]) " +
          s"+ (alon[$ai] - blon[$bj]) * (alon[$ai] - blon[$bj])"
      val hAB = s"""list_reduce(list_transform(range(1, na + 1), i ->
        |      list_reduce(list_transform(range(1, nb + 1), j -> ${d2("i", "j")}),
        |        (x, y) -> least(x, y))), (x, y) -> greatest(x, y))""".stripMargin
      val hBA = s"""list_reduce(list_transform(range(1, nb + 1), j ->
        |      list_reduce(list_transform(range(1, na + 1), i -> ${d2("i", "j")}),
        |        (x, y) -> least(x, y))), (x, y) -> greatest(x, y))""".stripMargin
      s"""WITH pts AS (
        |  SELECT user_id, date_trunc('month', ts) AS chunk, ts, event_id,
        |         CAST((user_id + event_id) % 180 - 90 AS DOUBLE) + 0.5 AS lat,
        |         CAST(event_id % 360 - 180 AS DOUBLE) + 0.5 AS lon,
        |         row_number() OVER (PARTITION BY user_id, date_trunc('month', ts)
        |                            ORDER BY ts, event_id) AS rn
        |  FROM events WHERE user_id IS NOT NULL AND event_id IS NOT NULL
        |),
        |tracks AS (
        |  SELECT user_id, chunk, count(*) AS n,
        |         list(lat ORDER BY rn) AS lats, list(lon ORDER BY rn) AS lons
        |  FROM pts GROUP BY user_id, chunk
        |),
        |cand AS (
        |  SELECT a.user_id AS id_a, b.user_id AS id_b, a.chunk,
        |         a.n AS na, b.n AS nb,
        |         a.lats AS alat, a.lons AS alon,
        |         b.lats AS blat, b.lons AS blon
        |  FROM tracks a JOIN tracks b
        |    ON a.chunk = b.chunk AND a.user_id < b.user_id
        |  WHERE list_reduce(list_transform(range(1, b.n + 1), j ->
        |      (a.lats[1] - b.lats[j]) * (a.lats[1] - b.lats[j])
        |        + (a.lons[1] - b.lons[j]) * (a.lons[1] - b.lons[j])),
        |    (x, y) -> least(x, y)) <= 400.0
        |    AND list_reduce(list_transform(range(1, a.n + 1), i ->
        |      (a.lats[i] - b.lats[1]) * (a.lats[i] - b.lats[1])
        |        + (a.lons[i] - b.lons[1]) * (a.lons[i] - b.lons[1])),
        |    (x, y) -> least(x, y)) <= 400.0
        |),
        |h AS (
        |  SELECT chunk AS month, id_a, id_b, na AS n_a, nb AS n_b,
        |    $hAB AS h_ab_sq_deg,
        |    $hBA AS h_ba_sq_deg
        |  FROM cand
        |)
        |SELECT month, id_a, id_b, n_a, n_b, h_ab_sq_deg, h_ba_sq_deg,
        |       greatest(h_ab_sq_deg, h_ba_sq_deg) AS hausdorff_sq_deg,
        |       sqrt(greatest(h_ab_sq_deg, h_ba_sq_deg)) AS hausdorff_deg
        |FROM h
        |ORDER BY hausdorff_sq_deg, id_a, id_b, month LIMIT 20""".stripMargin
    }

  /** STAY-POINT DETECTION — the visits/stops primitive of trajectory
    * mining (Li et al., "Mining user similarity based on location
    * history", ACM GIS 2008 — the GeoLife stay-point algorithm): a
    * maximal run of consecutive fixes that all remain within R meters
    * of the run's ANCHOR (its first fix) and spans at least T is a
    * stay — the place a tracker actually visited, as opposed to passed
    * through. Like [[geoSimplify]] this is a data-dependent sequential
    * fold ("distance from the run's anchor" — no window expresses it),
    * so it runs INSIDE the stored month segments with `aggregate`:
    * map-side, one pass, zero shuffle past the layout scan. Runs are
    * chunk-local (a stay spanning a month boundary reports as two —
    * the same storage-policy trade [[geoTrack]] stitches and
    * [[geoSimplify]] documents). All decisions are integer: floored
    * meters vs R, µs spans vs T; the anchor's half-integer coordinates
    * pass through unaveraged, so no new float enters the output.
    * R = 2 000 km / T = 12 h are fixture-scaled (the synthetic fleet
    * hops continents hourly); a real deployment runs ~200 m / 20 min.
    * Oracle: the recursive-CTE anchor walk over the raw ordered fixes
    * plus a GROUP BY over anchor runs — never sees the layout. */
  /** The filtered visit frame shared by [[geoStaypoints]] (which
    * presents it) and [[geoOdMatrix]] (which pairs it into trips). */
  /** The anchor-run fold over one stored month segment for radius R —
    * the stay-point state machine as a compiled `aggregate` over the
    * `seg` array, returning the closed runs
    * `array<struct<lat,lon,t_start,t_end,n_fixes>>` UNFILTERED (the
    * visit thresholds are the caller's parameters — [[staypointVisits]]
    * applies the canonical R/T pair, [[geoOdSensitivity]] re-runs the
    * fold per grid cell). */
  private def stayRunsFold(R: Long): Column = {
      def near(alat: Column, alon: Column, x: Column): Column =
        floor(graft.functions.Haversine.haversineKm(
          alat, alon, x("lat"), x("lon")) * 1000.0).cast("long") <= R
      val first = element_at(col("seg"), 1)
      def run(alat: Column, alon: Column, t0: Column, t1: Column, n: Column) =
        struct(alat.as("lat"), alon.as("lon"),
          t0.as("t_start"), t1.as("t_end"), n.as("n_fixes"))
      val init = struct(
        array().cast(
          "array<struct<lat:double,lon:double,t_start:timestamp," +
            "t_end:timestamp,n_fixes:bigint>>").as("stays"),
        first("lat").as("alat"), first("lon").as("alon"),
        first("ts").as("t0"), first("ts").as("t1"), lit(1L).as("n"))
      aggregate(
        slice(col("seg"), lit(2), size(col("seg")) - 1),
        init,
        (acc, x) => when(near(acc("alat"), acc("alon"), x),
          struct(acc("stays").as("stays"),
            acc("alat").as("alat"), acc("alon").as("alon"),
            acc("t0").as("t0"), x("ts").as("t1"), (acc("n") + 1L).as("n")))
          .otherwise(struct(
            concat(acc("stays"), array(run(acc("alat"), acc("alon"),
              acc("t0"), acc("t1"), acc("n")))).as("stays"),
            x("lat").as("alat"), x("lon").as("alon"),
            x("ts").as("t0"), x("ts").as("t1"), lit(1L).as("n"))),
        acc => concat(acc("stays"), array(run(acc("alat"), acc("alon"),
          acc("t0"), acc("t1"), acc("n")))))
  }

  private[graft] def staypointVisits(s: SparkSession, d: String): DataFrame = {
      val T = 43200000000L // 12 h in µs
      val seg = s.read.parquet(trackLayoutPath(s, d))
      val folded = stayRunsFold(2000000L)
      seg
        .select(col("id").as("user_id"), explode(folded).as("st"))
        .select(col("user_id"), col("st.t_start").as("t_start"),
          col("st.t_end").as("t_end"), col("st.n_fixes").as("n_fixes"),
          (unix_micros(col("st.t_end")) - unix_micros(col("st.t_start")))
            .as("dwell_us"),
          col("st.lat").as("lat"), col("st.lon").as("lon"))
        .filter(col("n_fixes") >= 2L && col("dwell_us") >= T)
  }

  /** The visits CTE chain shared by the staypoint and OD oracles —
    * SHARED DATA/semantics between the two oracles the way
    * [[PolygonVerts]] is shared; each consumer is still a different
    * CONSTRUCTION than the Spark side it checks. */
  private def staypointVisitsSql: String = {
    val near = """CAST(floor(2 * 6371.0088 * asin(least(1.0, sqrt(
      |      pow(sin(radians(p.lat - w.alat) / 2), 2)
      |      + cos(radians(w.alat)) * cos(radians(p.lat))
      |        * pow(sin(radians(p.lon - w.alon) / 2), 2)))) * 1000.0)
      |      AS BIGINT) <= 2000000""".stripMargin
    s"""pts AS (
      |  SELECT user_id, date_trunc('month', ts) AS chunk, ts, event_id,
      |         CAST(user_id % 180 - 90 AS DOUBLE) + 0.5 AS lat,
      |         CAST(event_id % 360 - 180 AS DOUBLE) + 0.5 AS lon,
      |         row_number() OVER (PARTITION BY user_id, date_trunc('month', ts)
      |                            ORDER BY ts, event_id) AS rn
      |  FROM events WHERE user_id IS NOT NULL AND event_id IS NOT NULL
      |),
      |walk(user_id, chunk, rn, ts, arn, alat, alon) AS (
      |  SELECT user_id, chunk, rn, ts, rn, lat, lon FROM pts WHERE rn = 1
      |  UNION ALL
      |  SELECT p.user_id, p.chunk, p.rn, p.ts,
      |         CASE WHEN $near THEN w.arn ELSE p.rn END,
      |         CASE WHEN $near THEN w.alat ELSE p.lat END,
      |         CASE WHEN $near THEN w.alon ELSE p.lon END
      |  FROM pts p JOIN walk w ON p.user_id = w.user_id
      |   AND p.chunk = w.chunk AND p.rn = w.rn + 1
      |),
      |visits AS (
      |  SELECT user_id, t_start, t_end, n_fixes, dwell_us, lat, lon FROM (
      |    SELECT w.user_id, min(w.ts) AS t_start, max(w.ts) AS t_end,
      |           CAST(count(*) AS BIGINT) AS n_fixes,
      |           epoch_us(max(w.ts)) - epoch_us(min(w.ts)) AS dwell_us,
      |           w.alat AS lat, w.alon AS lon
      |    FROM walk w
      |    GROUP BY w.user_id, w.chunk, w.arn, w.alat, w.alon)
      |  WHERE n_fixes >= 2 AND dwell_us >= 43200000000
      |)""".stripMargin
  }

  val geoStaypoints = OracleQuery(
    "ltss_geo_staypoints",
    (s, d) =>
      staypointVisits(s, d)
        .orderBy(col("user_id"), col("t_start"), col("t_end")),
    Some(s"""WITH RECURSIVE $staypointVisitsSql
      |SELECT user_id, t_start, t_end, n_fixes, dwell_us, lat, lon
      |FROM visits
      |ORDER BY user_id, t_start, t_end""".stripMargin))

  /** ORIGIN–DESTINATION flow matrix — the trip aggregation every
    * mobility analysis ends at: consecutive VISITS of one entity form
    * a trip, trips aggregate into flows between 10° grid cells (the
    * same `floor(lat/cell)` quantization as the DBSCAN query). Built
    * entirely on the visit frame: one keyed lag window over an
    * already-tiny frame (visits, not fixes) + one combinable count —
    * the heavy lifting happened once in the stay-point fold. Flow
    * counts also carry the median-free integer dwell sum at the
    * ORIGIN, the "time spent before departing" panel. */
  val geoOdMatrix = OracleQuery(
    "ltss_geo_od",
    (s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("t_start"), col("t_end"))
      staypointVisits(s, d)
        .withColumn("o_lat", lag(col("lat"), 1).over(w))
        .withColumn("o_lon", lag(col("lon"), 1).over(w))
        .withColumn("o_dwell", lag(col("dwell_us"), 1).over(w))
        .filter(col("o_lat").isNotNull)
        .groupBy(
          floor(col("o_lat") / 10.0).cast("long").as("o_cell_lat"),
          floor(col("o_lon") / 10.0).cast("long").as("o_cell_lon"),
          floor(col("lat") / 10.0).cast("long").as("d_cell_lat"),
          floor(col("lon") / 10.0).cast("long").as("d_cell_lon"))
        .agg(count(lit(1)).as("n_trips"),
          sum(col("o_dwell")).as("origin_dwell_us"))
        .orderBy(col("o_cell_lat"), col("o_cell_lon"),
          col("d_cell_lat"), col("d_cell_lon"))
    },
    Some(s"""WITH RECURSIVE $staypointVisitsSql,
      |trips AS (
      |  SELECT user_id, lat, lon, dwell_us,
      |         lag(lat) OVER w AS o_lat, lag(lon) OVER w AS o_lon,
      |         lag(dwell_us) OVER w AS o_dwell
      |  FROM visits WINDOW w AS (PARTITION BY user_id ORDER BY t_start, t_end)
      |)
      |SELECT CAST(floor(o_lat / 10.0) AS BIGINT) AS o_cell_lat,
      |       CAST(floor(o_lon / 10.0) AS BIGINT) AS o_cell_lon,
      |       CAST(floor(lat / 10.0) AS BIGINT) AS d_cell_lat,
      |       CAST(floor(lon / 10.0) AS BIGINT) AS d_cell_lon,
      |       CAST(count(*) AS BIGINT) AS n_trips,
      |       CAST(sum(o_dwell) AS BIGINT) AS origin_dwell_us
      |FROM trips WHERE o_lat IS NOT NULL
      |GROUP BY 1, 2, 3, 4
      |ORDER BY 1, 2, 3, 4""".stripMargin))

  /** The R-parameterized anchor walk + run aggregation as named CTEs —
    * the oracle-side mirror of [[stayRunsFold]], one copy per sweep
    * radius (suffix disambiguates within one WITH RECURSIVE list).
    * Runs stay UNFILTERED; each sweep cell applies its own (n, T)
    * thresholds downstream. */
  private def stayWalkSql(suffix: String, rM: Long): String = {
    val near = s"""CAST(floor(2 * 6371.0088 * asin(least(1.0, sqrt(
      |      pow(sin(radians(p.lat - w.alat) / 2), 2)
      |      + cos(radians(w.alat)) * cos(radians(p.lat))
      |        * pow(sin(radians(p.lon - w.alon) / 2), 2)))) * 1000.0)
      |      AS BIGINT) <= $rM""".stripMargin
    s"""walk$suffix(user_id, chunk, rn, ts, arn, alat, alon) AS (
      |  SELECT user_id, chunk, rn, ts, rn, lat, lon FROM pts WHERE rn = 1
      |  UNION ALL
      |  SELECT p.user_id, p.chunk, p.rn, p.ts,
      |         CASE WHEN $near THEN w.arn ELSE p.rn END,
      |         CASE WHEN $near THEN w.alat ELSE p.lat END,
      |         CASE WHEN $near THEN w.alon ELSE p.lon END
      |  FROM pts p JOIN walk$suffix w ON p.user_id = w.user_id
      |   AND p.chunk = w.chunk AND p.rn = w.rn + 1
      |),
      |runs$suffix AS (
      |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_fixes,
      |         epoch_us(max(ts)) - epoch_us(min(ts)) AS dwell_us
      |  FROM walk$suffix
      |  GROUP BY user_id, chunk, arn, alat, alon
      |)""".stripMargin
  }

  /** STAY-POINT PARAMETER-SENSITIVITY panel — a mobility analyst's
    * first question after [[geoStaypoints]]: how do visit/trip counts
    * move with the (R, T) thresholds? One scan of the stored track
    * layout re-runs the anchor fold per sweep RADIUS (the fold is
    * radius-dependent; the dwell threshold is not, so each of the 3
    * folds serves 3 dwell cells — 9 cells from 3 compiled passes over
    * the same in-memory segment arrays, map-side, zero extra shuffle
    * beyond the two tiny keyed aggregations that follow). Per cell:
    * total visits, entities with ≥1 visit, and trips (consecutive
    * visits per entity, the [[geoOdMatrix]] pairing rule — an entity
    * with v visits makes v−1 trips). Oracle: the shared recursive-CTE
    * anchor walk instantiated once per radius, each cell an aggregate
    * arm over its runs table with that cell's thresholds. */
  val geoOdSensitivity = OracleQuery(
    "ltss_geo_od_sensitivity",
    (s, d) => {
      val Rs = Seq(1000000L, 2000000L, 4000000L)
      val Ts = Seq(21600000000L, 43200000000L, 86400000000L)
      val seg = s.read.parquet(trackLayoutPath(s, d))
      val cells = Rs.flatMap { r =>
        val stays = stayRunsFold(r)
        Ts.map { t =>
          struct(lit(r).as("radius_m"), lit(t).as("min_dwell_us"),
            size(filter(stays, st => st("n_fixes") >= lit(2L) &&
              (unix_micros(st("t_end")) - unix_micros(st("t_start"))) >= lit(t)))
              .cast("long").as("nv"))
        }
      }
      seg.select(col("id").as("user_id"), explode(array(cells: _*)).as("c"))
        .groupBy(col("user_id"), col("c.radius_m").as("radius_m"),
          col("c.min_dwell_us").as("min_dwell_us"))
        .agg(sum(col("c.nv")).as("nv_e"))
        .groupBy(col("radius_m"), col("min_dwell_us"))
        .agg(sum(col("nv_e")).as("n_visits"),
          count(when(col("nv_e") > 0, 1)).as("n_entities"),
          sum(greatest(col("nv_e") - lit(1L), lit(0L))).as("n_trips"))
        .orderBy(col("radius_m"), col("min_dwell_us"))
    },
    Some {
      val Rs = Seq(1000000L, 2000000L, 4000000L)
      val Ts = Seq(21600000000L, 43200000000L, 86400000000L)
      val walks = Rs.map(r => stayWalkSql(s"_$r", r)).mkString(",\n|")
      val arms = Rs.flatMap { r =>
        Ts.map { t =>
          s"""SELECT CAST($r AS BIGINT) AS radius_m,
            |       CAST($t AS BIGINT) AS min_dwell_us,
            |       CAST(coalesce(sum(nv), 0) AS BIGINT) AS n_visits,
            |       CAST(count(*) AS BIGINT) AS n_entities,
            |       CAST(coalesce(sum(nv - 1), 0) AS BIGINT) AS n_trips
            |FROM (SELECT user_id, CAST(count(*) AS BIGINT) AS nv
            |      FROM runs_$r WHERE n_fixes >= 2 AND dwell_us >= $t
            |      GROUP BY user_id)""".stripMargin
        }
      }.mkString("\nUNION ALL\n")
      s"""WITH RECURSIVE pts AS (
        |  SELECT user_id, date_trunc('month', ts) AS chunk, ts, event_id,
        |         CAST(user_id % 180 - 90 AS DOUBLE) + 0.5 AS lat,
        |         CAST(event_id % 360 - 180 AS DOUBLE) + 0.5 AS lon,
        |         row_number() OVER (PARTITION BY user_id, date_trunc('month', ts)
        |                            ORDER BY ts, event_id) AS rn
        |  FROM events WHERE user_id IS NOT NULL AND event_id IS NOT NULL
        |),
        |$walks
        |$arms
        |ORDER BY radius_m, min_dwell_us""".stripMargin
    })

  /** WEB-MERCATOR projection (`ST_Transform(location, 3857)`) of each
    * entity's latest fix — the one reprojection every slippy-map panel
    * needs. EPSG:3857 is closed-form on the sphere (R = 6378137 m):
    * `x = R·rad(lon)`, `y = (R/2)·ln((1+sin φ)/(1−sin φ))` — the
    * atanh(sin φ) identity, chosen over `ln(tan(π/4+φ/2))` because it
    * spends its one transcendental pair on `sin` (the kernel family
    * the Haversine oracle already proved engine-identical) plus a
    * single `ln`. Both sides write the IDENTICAL chain and floor to
    * integer meters before compare (the travel-kernel libm policy:
    * a ≤1-ulp ln divergence is ~1e-9 m after scaling — it can only
    * surface if a value lands that close to an integer boundary).
    * Poles: the fixture's ±89.5° rows project to finite ~3.1e7 m
    * ordinates; clipping to the ±85.051° web square is the tile
    * consumer's policy, not the projection's, so none is applied.
    * Scale: map-side arithmetic after the keyed latest-fix window —
    * no join, no extra shuffle. */
  val geoMercator = OracleQuery(
    "ltss_geo_mercator",
    (s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").desc, col("event_id").desc)
      Tables.events(s, d)
        .filter(col("user_id").isNotNull && col("event_id").isNotNull)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .withColumn("lat", (col("user_id") % 180 - 90).cast("double") + 0.5)
        .withColumn("lon", (col("event_id") % 360 - 180).cast("double") + 0.5)
        .withColumn("sin_lat", sin(radians(col("lat"))))
        .select(col("user_id"), col("ts").as("time"), col("lat"), col("lon"),
          floor(lit(6378137.0) * radians(col("lon"))).cast("long").as("x_m"),
          floor(lit(3189068.5) *
            log((lit(1.0) + col("sin_lat")) / (lit(1.0) - col("sin_lat"))))
            .cast("long").as("y_m"))
        .orderBy(col("user_id"))
    },
    Some("""WITH latest AS (
      |  SELECT user_id, ts, event_id FROM (
      |    SELECT user_id, ts, event_id,
      |           row_number() OVER (PARTITION BY user_id
      |                              ORDER BY ts DESC, event_id DESC) AS rn
      |    FROM events WHERE user_id IS NOT NULL AND event_id IS NOT NULL)
      |  WHERE rn = 1
      |), pts AS (
      |  SELECT user_id, ts AS time,
      |         CAST(user_id % 180 - 90 AS DOUBLE) + 0.5 AS lat,
      |         CAST(event_id % 360 - 180 AS DOUBLE) + 0.5 AS lon
      |  FROM latest
      |)
      |SELECT user_id, time, lat, lon,
      |       CAST(floor(6378137.0 * radians(lon)) AS BIGINT) AS x_m,
      |       CAST(floor(3189068.5 * ln((1.0 + sin(radians(lat)))
      |                               / (1.0 - sin(radians(lat))))) AS BIGINT) AS y_m
      |FROM pts
      |ORDER BY user_id""".stripMargin))

  /** COMPASS-HEADING histogram per entity — the discretized
    * `ST_Azimuth(prev_fix, fix)` rollup ("which way does each tracker
    * move?"). Each leg in the `(ts, event_id)` per-entity total order
    * classifies into one of 9 classes — N/S/E/W, the four diagonals,
    * and STAY — decided ENTIRELY by sign and magnitude comparisons of
    * (Δlat, Δlon): boundaries sit at the 45° diagonals where
    * |Δlat| = |Δlon|, so every branch is exact on the half-integer
    * fixture lattice and no trig enters (a continuous azimuth would
    * need atan2, which neither engine guarantees correctly rounded —
    * the discretized rose is the cross-engine-deterministic product).
    * Lat here derives from event_id (3·eid mod 180) so a single
    * entity's trajectory actually turns; user_id-keyed lat (constant
    * within an entity) would collapse every leg to E/W. Scale: one
    * keyed window + one combinable count — no join, no global order. */
  /** The 9-class compass rose over a planar displacement — every branch
    * an exact sign/magnitude comparison; boundaries (45° diagonals)
    * deterministically OWN the diagonal class. */
  private[graft] def headingClass(dlat: Column, dlon: Column): Column =
    when(dlat === 0 && dlon === 0, lit("STAY"))
      .when(abs(dlat) > abs(dlon), when(dlat > 0, lit("N")).otherwise(lit("S")))
      .when(abs(dlon) > abs(dlat), when(dlon > 0, lit("E")).otherwise(lit("W")))
      .otherwise(concat(
        when(dlat > 0, lit("N")).otherwise(lit("S")),
        when(dlon > 0, lit("E")).otherwise(lit("W"))))

  val geoHeading = OracleQuery(
    "ltss_geo_heading",
    (s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .filter(col("user_id").isNotNull && col("event_id").isNotNull)
        .withColumn("lat", (pmod(col("event_id") * 3, lit(180)) - 90).cast("double") + 0.5)
        .withColumn("lon", (col("event_id") % 360 - 180).cast("double") + 0.5)
        .withColumn("plat", lag(col("lat"), 1).over(w))
        .withColumn("plon", lag(col("lon"), 1).over(w))
        .filter(col("plat").isNotNull)
        .withColumn("heading",
          headingClass(col("lat") - col("plat"), col("lon") - col("plon")))
        .groupBy(col("user_id"), col("heading"))
        .agg(count(lit(1)).as("n_legs"))
        .orderBy(col("user_id"), col("heading"))
    },
    Some("""WITH pts AS (
      |  SELECT user_id, ts, event_id,
      |         CAST(((event_id * 3 % 180) + 180) % 180 - 90 AS DOUBLE) + 0.5 AS lat,
      |         CAST(event_id % 360 - 180 AS DOUBLE) + 0.5 AS lon
      |  FROM events WHERE user_id IS NOT NULL AND event_id IS NOT NULL
      |), legs AS (
      |  SELECT user_id,
      |         lat - lag(lat) OVER w AS dlat,
      |         lon - lag(lon) OVER w AS dlon
      |  FROM pts WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |)
      |SELECT user_id,
      |       CASE WHEN dlat = 0 AND dlon = 0 THEN 'STAY'
      |            WHEN abs(dlat) > abs(dlon) THEN
      |              CASE WHEN dlat > 0 THEN 'N' ELSE 'S' END
      |            WHEN abs(dlon) > abs(dlat) THEN
      |              CASE WHEN dlon > 0 THEN 'E' ELSE 'W' END
      |            ELSE concat(CASE WHEN dlat > 0 THEN 'N' ELSE 'S' END,
      |                        CASE WHEN dlon > 0 THEN 'E' ELSE 'W' END) END
      |         AS heading,
      |       CAST(count(*) AS BIGINT) AS n_legs
      |FROM legs WHERE dlat IS NOT NULL
      |GROUP BY 1, 2
      |ORDER BY user_id, heading""".stripMargin))

  val geoBbox = OracleQuery(
    "ltss_geo_bbox",
    (s, d) =>
      Tables.events(s, d)
        .withColumn("lat", (col("user_id") % 180 - 90).cast("double") + 0.5)
        .withColumn("lon", (col("event_id") % 360 - 180).cast("double") + 0.5)
        .filter(col("lat").between(55.0, 71.0) && col("lon").between(4.0, 31.0))
        .select(col("event_id"), col("lat"), col("lon"))
        .orderBy(col("event_id")),
    Some("""SELECT event_id, lat, lon FROM (
      |  SELECT event_id,
      |         CAST(user_id % 180 - 90 AS DOUBLE) + 0.5 AS lat,
      |         CAST(event_id % 360 - 180 AS DOUBLE) + 0.5 AS lon
      |  FROM events)
      |WHERE lat BETWEEN 55.0 AND 71.0 AND lon BETWEEN 4.0 AND 31.0
      |ORDER BY event_id""".stripMargin))

  /** The SQL-registered `time_bucket` function (GraftExtensions), driven
    * through `spark.sql` — proves the SparkSessionExtensions surface, not
    * just the Column API. Day buckets over the LTSS mapping. */
  val timeBucketSqlQ = {
    val dayUs = 86400000000L
    OracleQuery(
      "ltss_time_bucket_sql",
      (s, d) => {
        graft.plans.GraftExtensions.install(s)
        ltss(s, d).createOrReplaceTempView("ltss_v")
        s.sql(s"""SELECT time_bucket(${dayUs}L, time) AS bucket,
                 |       count(*) AS n,
                 |       CAST(min(CAST(state AS DECIMAL(12,2))) AS DOUBLE) AS min_state,
                 |       CAST(max(CAST(state AS DECIMAL(12,2))) AS DOUBLE) AS max_state
                 |FROM ltss_v GROUP BY bucket ORDER BY bucket""".stripMargin)
      },
      Some(s"""$ltssCte
        |SELECT ${DetMath.timeBucketSql("time", dayUs)} AS bucket,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(min(CAST(state AS DECIMAL(12,2))) AS DOUBLE) AS min_state,
        |       CAST(max(CAST(state AS DECIMAL(12,2))) AS DOUBLE) AS max_state
        |FROM ltss GROUP BY bucket ORDER BY bucket""".stripMargin))
  }

  /** Sessionization: 30-min-gap sessions per entity (lag + conditional sum). */
  val sessionize = OracleQuery(
    "ltss_sessionize",
    (s, d) => {
      val gapUs = 1800000000L
      val w = Window.partitionBy(col("entity_id")).orderBy(col("time"), col("state"))
      ltss(s, d)
        .withColumn("prev_us", lag(unix_micros(col("time")), 1).over(w))
        .withColumn("is_new",
          when(col("prev_us").isNull || unix_micros(col("time")) - col("prev_us") > gapUs, 1L)
            .otherwise(0L))
        .groupBy(col("entity_id"))
        .agg(count(lit(1)).as("n_events"), sum(col("is_new")).as("n_sessions"))
        .orderBy(col("entity_id"))
    },
    Some(s"""$ltssCte
      |SELECT entity_id, CAST(count(*) AS BIGINT) AS n_events,
      |       CAST(SUM(is_new) AS BIGINT) AS n_sessions
      |FROM (
      |  SELECT entity_id,
      |         CASE WHEN prev_us IS NULL OR epoch_us(time) - prev_us > 1800000000 THEN 1 ELSE 0 END AS is_new
      |  FROM (SELECT entity_id, time,
      |               lag(epoch_us(time)) OVER (PARTITION BY entity_id ORDER BY time, state) AS prev_us
      |        FROM ltss))
      |GROUP BY entity_id ORDER BY entity_id""".stripMargin))

  /** PK (time, entity_id) uniqueness invariant (reference
    * migrations.py:88-95) as a deterministic dedup + per-domain count. */
  val dedupPk = OracleQuery(
    "ltss_dedup_pk",
    (s, d) =>
      Transform.dedupByPk(ltss(s, d), Seq(col("state"), col("attributes")))
        .groupBy(split(col("entity_id"), "\\.").getItem(0).as("domain"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("domain")),
    Some(s"""$ltssCte
      |SELECT split_part(entity_id, '.', 1) AS domain, CAST(count(*) AS BIGINT) AS n
      |FROM (
      |  SELECT entity_id, row_number() OVER (PARTITION BY time, entity_id ORDER BY state, attributes) AS rn
      |  FROM ltss) WHERE rn = 1
      |GROUP BY 1 ORDER BY domain""".stripMargin))

  /** Per-domain discrete percentiles (p50/p95) of the numeric state —
    * the Grafana-style telemetry rollup the reference's SQL surface
    * serves (README.md:24-26). DISCRETE selection (value at row
    * ceil(q·n), one window + one filter) rather than interpolated
    * percentile_cont: engines differ in interpolation formula
    * association (lo + f·(hi−lo) vs (1−f)·lo + f·hi), which breaks
    * bit-exact comparison; row selection is exact everywhere and is one
    * shuffle on the domain key at any scale. */
  val percentiles = OracleQuery(
    "ltss_percentiles",
    (s, d) => {
      val l = ltss(s, d)
        .withColumn("domain", split(col("entity_id"), "\\.").getItem(0))
        .withColumn("sv", expr("try_cast(state as decimal(12,2))"))
      val w = Window.partitionBy(col("domain")).orderBy(col("sv"), col("entity_id"), col("time"))
      val ranked = l
        .withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(Window.partitionBy(col("domain"))))
      ranked
        .groupBy(col("domain"), col("n"))
        .agg(
          max(when(col("rn") === ceil(col("n") * 0.5), col("sv"))).as("p50_dec"),
          max(when(col("rn") === ceil(col("n") * 0.95), col("sv"))).as("p95_dec"))
        .select(col("domain"), col("n"),
          col("p50_dec").cast("double").as("p50"),
          col("p95_dec").cast("double").as("p95"))
        .orderBy(col("domain"))
    },
    Some(s"""$ltssCte
      |SELECT domain, n,
      |       CAST(MAX(CASE WHEN rn = CAST(ceil(n * 0.5) AS BIGINT) THEN sv END) AS DOUBLE) AS p50,
      |       CAST(MAX(CASE WHEN rn = CAST(ceil(n * 0.95) AS BIGINT) THEN sv END) AS DOUBLE) AS p95
      |FROM (
      |  SELECT domain, sv,
      |         row_number() OVER (PARTITION BY domain ORDER BY sv, entity_id, time) AS rn,
      |         CAST(count(*) OVER (PARTITION BY domain) AS BIGINT) AS n
      |  FROM (
      |    SELECT split_part(entity_id, '.', 1) AS domain, entity_id, time,
      |           CAST(state AS DECIMAL(12,2)) AS sv
      |    FROM ltss))
      |GROUP BY domain, n
      |ORDER BY domain""".stripMargin))

  /** 2-D histogram — the hour-of-day × value-band heatmap panel (the
    * Grafana heatmap over a hypertable): all-integer cell addressing
    * (hour from the timestamp, decile band from the DECIMAL value via
    * integer division — no float floor at a band boundary) and ONE
    * map-side combinable aggregate; the output is render-scale
    * (24 × bands) at any corpus size. The band quotient goes through
    * pmod so it FLOORS like DuckDB's `//` for any value sign (Spark
    * `div` alone truncates — the `ltss_geo_grid` lesson). */
  val histogram2d = OracleQuery(
    "ltss_histogram2d",
    (s, d) =>
      ltss(s, d)
        .withColumn("hr", hour(col("time")))
        .withColumn("c", expr("CAST(CAST(state AS DECIMAL(12,2)) * 100 AS BIGINT)"))
        .withColumn("band", expr("(c - pmod(c, 1000)) div 1000"))
        .groupBy(col("hr"), col("band"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("hr"), col("band")),
    Some(s"""$ltssCte
      |SELECT hour(time) AS hr,
      |       CAST(CAST(state AS DECIMAL(12,2)) * 100 AS BIGINT) // 1000 AS band,
      |       CAST(count(*) AS BIGINT) AS n
      |FROM ltss
      |GROUP BY 1, 2
      |ORDER BY hr, band""".stripMargin))

  /** Robust anomaly rollup per domain — median absolute deviation
    * instead of the z-test's moments (`ltss_rate_anomaly`), so a few
    * extreme readings cannot drag the threshold toward themselves: a
    * reading is anomalous iff |sv − median| > 3·MAD. Computed as a
    * WEIGHTED median over the value-frequency frame: ONE map-side
    * combinable groupBy(domain, sv) collapses the observations to
    * ≤|distinct values| rows per domain, both medians come from a
    * running-count cumulative window over that tiny frame (the
    * smallest value whose cumulative count reaches ceil(n/2) — the
    * identical value the row-selection form picks, without sorting the
    * raw observations), and every deviation and the 3·MAD threshold
    * stay exact DECIMAL. After the first aggregate nothing touches a
    * raw row again — at 100 TB the sort windows see value histograms,
    * not observations. The histogram frame persists via CachedFrames
    * (the band-frame pattern): med, dev, and the final rollup are three
    * subtrees over it, and without the persist each one would re-scan
    * and re-aggregate the raw events (measured 3× the query cost). */
  val anomalyMad = OracleQuery(
    "ltss_anomaly_mad",
    (s, d) => {
      val counts = graft.CachedFrames.getOrBuild(
        s"mad_counts|${graft.CachedFrames.sessionKey(s)}|$d") {
        ltss(s, d)
          .withColumn("domain", split(col("entity_id"), "\\.").getItem(0))
          .withColumn("sv", expr("try_cast(state as decimal(12,2))"))
          .groupBy(col("domain"), col("sv")).agg(count(lit(1)).as("cnt"))
      }
      // route: everything below the first aggregate runs on the value
      // HISTOGRAM (≤|distinct values|·|domains| rows, 49 k at sf0.1), so
      // its row count bounds one task. In-task, [[localMadRollup]] works
      // on integer cents, exactly DECIMAL(12,2)'s unscaled value. The
      // count doubles as the cached frame's warm materialization.
      val nHist = counts.count()
      if (Routes.local(Routes.Mad, nHist)) {
        import s.implicits._
        counts
          .select(col("domain"),
            expr("CAST(sv * 100 AS BIGINT)").as("sv_c"), col("cnt"))
          .as[(String, Option[Long], Long)]
          .coalesce(1)
          .mapPartitions(localMadRollup)
          .toDF("domain", "n", "med", "mad", "n_anomalies", "max_dev")
          .orderBy(col("domain"))
      } else {
      def weightedMedian(df: DataFrame, valueCol: String, outCol: String): DataFrame = {
        val wc = Window.partitionBy(col("domain")).orderBy(col(valueCol))
        df.withColumn("cum", sum(col("cnt")).over(wc))
          .withColumn("n", sum(col("cnt")).over(Window.partitionBy(col("domain"))))
          .filter(col("cum") >= ceil(col("n") * 0.5).cast("long"))
          .groupBy(col("domain")).agg(min(col(valueCol)).as(outCol))
      }
      val med = weightedMedian(counts, "sv", "med")
      // bound: one row per HA domain (closed vocabulary)
      val devCounts = counts.join(broadcast(med), "domain")
        .withColumn("dev", abs(col("sv") - col("med")))
        .groupBy(col("domain"), col("med"), col("dev"))
        .agg(sum(col("cnt")).as("cnt"))
      val mad = weightedMedian(devCounts, "dev", "mad")
      // bound: one row per HA domain (closed vocabulary)
      devCounts.join(broadcast(mad), "domain")
        .groupBy(col("domain"), col("med"), col("mad"))
        .agg(sum(col("cnt")).as("n"),
          sum(when(col("dev") > col("mad") * 3, col("cnt")).otherwise(0L))
            .as("n_anomalies"),
          max(col("dev")).as("max_dev"))
        .select(col("domain"), col("n"),
          col("med").cast("double").as("med"),
          col("mad").cast("double").as("mad"),
          col("n_anomalies"),
          col("max_dev").cast("double").as("max_dev"))
        .orderBy(col("domain"))
      }
    },
    Some(s"""$ltssCte,
      |counts AS (
      |  SELECT split_part(entity_id, '.', 1) AS domain,
      |         CAST(state AS DECIMAL(12,2)) AS sv,
      |         CAST(count(*) AS BIGINT) AS cnt
      |  FROM ltss GROUP BY 1, 2
      |),
      |med AS (
      |  SELECT domain, min(sv) AS med FROM (
      |    SELECT domain, sv,
      |           sum(cnt) OVER (PARTITION BY domain ORDER BY sv) AS cum,
      |           sum(cnt) OVER (PARTITION BY domain) AS n
      |    FROM counts)
      |  WHERE cum >= CAST(ceil(n * 0.5) AS BIGINT)
      |  GROUP BY domain
      |),
      |devcounts AS (
      |  SELECT domain, med, dev, CAST(sum(cnt) AS BIGINT) AS cnt FROM (
      |    SELECT c.domain, m.med, abs(c.sv - m.med) AS dev, c.cnt
      |    FROM counts c JOIN med m USING (domain))
      |  GROUP BY domain, med, dev
      |),
      |mad AS (
      |  SELECT domain, min(dev) AS mad FROM (
      |    SELECT domain, dev,
      |           sum(cnt) OVER (PARTITION BY domain ORDER BY dev) AS cum,
      |           sum(cnt) OVER (PARTITION BY domain) AS n
      |    FROM devcounts)
      |  WHERE cum >= CAST(ceil(n * 0.5) AS BIGINT)
      |  GROUP BY domain
      |)
      |SELECT d.domain, CAST(sum(d.cnt) AS BIGINT) AS n,
      |       CAST(d.med AS DOUBLE) AS med,
      |       CAST(mad.mad AS DOUBLE) AS mad,
      |       CAST(sum(CASE WHEN d.dev > mad.mad * 3 THEN d.cnt ELSE 0 END) AS BIGINT) AS n_anomalies,
      |       CAST(max(d.dev) AS DOUBLE) AS max_dev
      |FROM devcounts d JOIN mad USING (domain)
      |GROUP BY d.domain, d.med, mad.mad
      |ORDER BY d.domain""".stripMargin))

  /** In-task replay of the ltss_anomaly_mad rollup over the collected
    * (domain, sv·100, cnt) histogram — the SAME selections as the
    * distributed window form: med = smallest value whose cumulative
    * count reaches ceil(n/2) (computed as (n+1)/2 — identical for any
    * nonnegative n in double-exact range), MAD = the same selection
    * over the |sv − med| deviation histogram (total count unchanged),
    * anomalies = Σ cnt where dev > 3·MAD. Values travel as unscaled
    * DECIMAL(12,2) cents, so every comparison is the identical integer
    * the decimal form compares, and the final double casts go through
    * BigDecimal.doubleValue — the same conversion Spark's
    * Decimal→double cast performs. A null value (impossible for the
    * ltss projection, whose state is a decimal rendering by
    * construction) fails loudly rather than silently diverging from
    * the window form's nulls-first ordering. */
  private[graft] def localMadRollup(
      rows: Iterator[(String, Option[Long], Long)])
      : Iterator[(String, Long, Double, Double, Long, Double)] = {
    val byDom = scala.collection.mutable.HashMap
      .empty[String, scala.collection.mutable.ArrayBuffer[(Long, Long)]]
    rows.foreach { case (dom, svc, cnt) =>
      require(svc.isDefined,
        s"ltss_anomaly_mad local route: null state value in domain $dom")
      byDom.getOrElseUpdate(dom,
        scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]) +=
        ((svc.get, cnt))
    }
    def weightedMedian(
        vals: Array[Long], cnts: Long => Long, thr: Long): Long = {
      var cum = 0L
      var i = 0
      while (i < vals.length) {
        cum += cnts(vals(i))
        if (cum >= thr) return vals(i)
        i += 1
      }
      vals(vals.length - 1) // unreachable: thr <= total count
    }
    def d2(cents: Long): Double =
      java.math.BigDecimal.valueOf(cents, 2).doubleValue
    byDom.toArray.sortBy(_._1).iterator.map { case (dom, vs) =>
      val sorted = vs.toArray.sortBy(_._1)
      val svCnt = scala.collection.mutable.LongMap.empty[Long]
      sorted.foreach { case (v, c) => svCnt(v) = svCnt.getOrElse(v, 0L) + c }
      var n = 0L
      sorted.foreach(n += _._2)
      val thr = (n + 1L) / 2L // == ceil(n * 0.5)
      val med = weightedMedian(sorted.map(_._1), svCnt, thr)
      val devCnt = scala.collection.mutable.LongMap.empty[Long]
      var maxDev = 0L
      sorted.foreach { case (v, c) =>
        val dv = math.abs(v - med)
        devCnt(dv) = devCnt.getOrElse(dv, 0L) + c
        if (dv > maxDev) maxDev = dv
      }
      val devs = devCnt.keysIterator.toArray
      java.util.Arrays.sort(devs)
      val mad = weightedMedian(devs, devCnt, thr)
      var nAnom = 0L
      devCnt.foreach { case (dv, c) => if (dv > 3L * mad) nAnom += c }
      (dom, n, d2(med), d2(mad), nAnom, d2(maxDev))
    }
  }

  /** Fixed-bucket value histogram per domain (dashboard heat strip):
    * bucket = floor(sv / 20), pure arithmetic — exact on both engines,
    * map-side except one count shuffle. */
  val histogram = OracleQuery(
    "ltss_histogram",
    (s, d) =>
      ltss(s, d)
        .withColumn("domain", split(col("entity_id"), "\\.").getItem(0))
        .withColumn("bucket", floor(expr("try_cast(state as decimal(12,2))") / 20).cast("long"))
        .groupBy(col("domain"), col("bucket"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("domain"), col("bucket")),
    Some(s"""$ltssCte
      |SELECT split_part(entity_id, '.', 1) AS domain,
      |       CAST(floor(CAST(state AS DECIMAL(12,2)) / 20) AS BIGINT) AS bucket,
      |       CAST(count(*) AS BIGINT) AS n
      |FROM ltss GROUP BY 1, 2 ORDER BY domain, bucket""".stripMargin))

  /** CALENDAR month bucketing — the `time_bucket('1 month', …)` form
    * the fixed-width [[timeBucketAgg]] arithmetic cannot express:
    * month buckets have VARIABLE width (28–31 days), so the bucket is
    * calendar truncation (`date_trunc`), not epoch-µs floor division —
    * the distinction TimescaleDB draws between `time_bucket` interval
    * and calendar variants. Both engines truncate in the pinned UTC
    * session zone, so the bucket timestamps agree exactly; aggregates
    * follow the [[timeBucketAgg]] DECIMAL-sum parity rules. Same
    * combinable one-shuffle shape. */
  val timeBucketMonth = OracleQuery(
    "ltss_time_bucket_month",
    (s, d) => {
      val l = ltss(s, d)
        .withColumn("bucket", date_trunc("month", col("time")))
        .withColumn("domain", split(col("entity_id"), "\\.").getItem(0))
        .withColumn("sv", expr("try_cast(state as decimal(12,2))"))
      l.groupBy(col("bucket"), col("domain"))
        .agg(count(lit(1)).as("n"), sum(col("sv")).as("sum_dec"))
        .select(col("bucket"), col("domain"), col("n"),
          col("sum_dec").cast("double").as("sum_state"),
          DetMath.avgFromSum(col("sum_dec"), col("n")).as("avg_state"))
        .orderBy(col("bucket"), col("domain"))
    },
    Some(s"""$ltssCte
      |SELECT date_trunc('month', time) AS bucket,
      |       split_part(entity_id, '.', 1) AS domain,
      |       CAST(count(*) AS BIGINT) AS n,
      |       CAST(sum(CAST(state AS DECIMAL(12,2))) AS DOUBLE) AS sum_state,
      |       CAST(sum(CAST(state AS DECIMAL(12,2))) AS DOUBLE)
      |         / CAST(count(*) AS DOUBLE) AS avg_state
      |FROM ltss GROUP BY 1, 2 ORDER BY bucket, domain""".stripMargin))

  /** COMPRESSION-PLANNING report — the tuning panel behind
    * TimescaleDB's `compress_segmentby`/`compress_orderby` choice
    * (its compression segments rows by a key and delta/RLE-encodes
    * within each segment in `orderby` order): for the engine's own
    * layout order — segment by entity, order by time, the composite-
    * index order K1 already writes — how compressible is each domain?
    * Per domain: rows, segments (entities), `state` RUNS in layout
    * order (a run boundary wherever the value changes, counted by one
    * `lag` window — rows/runs IS the RLE dictionary win), distinct
    * states (dictionary width), and the run ratio. A domain with high
    * rows/runs compresses well segment-ordered; one with ratio ≈ 1
    * wants a different orderby — the decision this report drives.
    * Run counting is permutation-stable on duplicate (time, state)
    * rows (equal compared values cannot open a run boundary), so the
    * window order (time, state) is deterministic for the oracle.
    * One window on the (entity, time) layout axis + one combinable
    * aggregate — the same shuffle class as every per-entity query. */
  val compressPlan = OracleQuery(
    "ltss_compress_plan",
    (s, d) => {
      val w = Window.partitionBy(col("entity_id"))
        .orderBy(col("time"), col("state"))
      val l = ltss(s, d)
        .withColumn("domain", split(col("entity_id"), "\\.").getItem(0))
        .withColumn("run_start",
          coalesce((col("state") =!= lag(col("state"), 1).over(w)).cast("long"),
            lit(1L)))
      l.groupBy(col("domain"))
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("entity_id")).as("n_segments"),
          sum(col("run_start")).as("state_runs"),
          countDistinct(col("state")).as("distinct_states"))
        .withColumn("rle_ratio",
          col("n_rows").cast("double") / col("state_runs").cast("double"))
        .orderBy(col("domain"))
    },
    Some(s"""$ltssCte
      |SELECT split_part(entity_id, '.', 1) AS domain,
      |       CAST(count(*) AS BIGINT) AS n_rows,
      |       CAST(count(DISTINCT entity_id) AS BIGINT) AS n_segments,
      |       CAST(sum(run_start) AS BIGINT) AS state_runs,
      |       CAST(count(DISTINCT state) AS BIGINT) AS distinct_states,
      |       CAST(count(*) AS DOUBLE) / CAST(sum(run_start) AS DOUBLE) AS rle_ratio
      |FROM (
      |  SELECT entity_id, state,
      |         CASE WHEN state = lag(state) OVER (PARTITION BY entity_id
      |                                            ORDER BY time, state)
      |              THEN 0 ELSE 1 END AS run_start
      |  FROM ltss)
      |GROUP BY 1 ORDER BY domain""".stripMargin))

  /** EQUI-DEPTH histogram — the distribution panel [[histogram]]'s
    * equi-WIDTH buckets cannot give on a skewed axis (a heavy mode
    * swallows one wide bucket and empties the rest): 8 buckets of
    * equal row count per domain via `ntile(8)` over the unambiguous
    * total order (sv, time, entity_id) — the SQL-standard fill rule
    * both engines compute identically, no interpolation, no floats —
    * reporting each bucket's count and [lo, hi] value bounds. This is
    * the exact AUDIT twin of a production `approx_percentile`
    * boundary table (the [[sketches]] pattern: the sketch serves
    * queries, the exact twin checks it); the per-domain sort window is
    * the same shuffle class as [[percentiles]], and at 100 TB the same
    * report comes from the t-digest/GK sketch with this query as the
    * sampled audit. */
  val histEqdepth = OracleQuery(
    "ltss_hist_eqdepth",
    (s, d) => {
      val l = ltss(s, d)
        .withColumn("domain", split(col("entity_id"), "\\.").getItem(0))
        .withColumn("sv", expr("try_cast(state as decimal(12,2))"))
        .filter(col("sv").isNotNull)
      val w = Window.partitionBy(col("domain"))
        .orderBy(col("sv"), col("time"), col("entity_id"))
      l.withColumn("bucket", ntile(8).over(w))
        .groupBy(col("domain"), col("bucket"))
        .agg(count(lit(1)).as("n"),
          min(col("sv")).cast("double").as("lo"),
          max(col("sv")).cast("double").as("hi"))
        .orderBy(col("domain"), col("bucket"))
    },
    Some(s"""$ltssCte
      |SELECT domain, bucket, CAST(count(*) AS BIGINT) AS n,
      |       CAST(min(sv) AS DOUBLE) AS lo, CAST(max(sv) AS DOUBLE) AS hi
      |FROM (
      |  SELECT split_part(entity_id, '.', 1) AS domain,
      |         CAST(state AS DECIMAL(12,2)) AS sv, time, entity_id,
      |         ntile(8) OVER (PARTITION BY split_part(entity_id, '.', 1)
      |                        ORDER BY CAST(state AS DECIMAL(12,2)), time, entity_id)
      |           AS bucket
      |  FROM ltss WHERE CAST(state AS DECIMAL(12,2)) IS NOT NULL)
      |GROUP BY domain, bucket
      |ORDER BY domain, bucket""".stripMargin))

  /** Domain × hour-of-day activity pivot (the classic dashboard matrix):
    * Spark `pivot` with a FIXED column list — never the implicit-distinct
    * form, which adds a blocking distinct job at scale. */
  val pivotHours = OracleQuery(
    "ltss_pivot_hours",
    (s, d) => {
      val hours = (0 to 23).map(h => f"h$h%02d")
      val l = ltss(s, d)
        .withColumn("domain", split(col("entity_id"), "\\.").getItem(0))
        .withColumn("hour", format_string("h%02d", hour(col("time"))))
      l.groupBy(col("domain"))
        .pivot("hour", hours)
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy(col("domain"))
    },
    Some {
      val cols = (0 to 23)
        .map(h => f"CAST(count(*) FILTER (WHERE hour(time) = $h) AS BIGINT) AS h$h%02d")
        .mkString(",\n      |       ")
      s"""$ltssCte
        |SELECT split_part(entity_id, '.', 1) AS domain,
        |       $cols
        |FROM ltss GROUP BY 1 ORDER BY domain""".stripMargin
    })

  /** Spatial grid rollup — the geo heatmap panel (the PostGIS
    * `ST_SnapToGrid` + GROUP BY analog over the extracted location
    * points): events binned into 5°×5° cells with per-cell event and
    * distinct-user counts. Cells derive from a non-negative integer
    * modulus via integer division, then shift to the lat/lon origin —
    * all-integer so there is no float floor at a cell boundary to
    * disagree on. The modulus is `pmod` on the Spark side and the
    * double-mod form in the oracle, so it is non-negative FOR ANY id
    * sign (`%` alone is a truncated remainder, negative for negative
    * ids, where Spark `div` truncating vs DuckDB `//` flooring would
    * then disagree). One combinable aggregate. */
  val geoGrid = OracleQuery(
    "ltss_geo_grid",
    (s, d) =>
      Tables.events(s, d)
        .filter(col("user_id").isNotNull && col("event_id").isNotNull)
        .withColumn("lat_lo", expr("(pmod(user_id, 180) div 5) * 5 - 90"))
        .withColumn("lon_lo", expr("(pmod(event_id, 360) div 5) * 5 - 180"))
        .groupBy(col("lat_lo"), col("lon_lo"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("lat_lo"), col("lon_lo")),
    Some("""SELECT (((user_id % 180 + 180) % 180) // 5) * 5 - 90 AS lat_lo,
      |       (((event_id % 360 + 360) % 360) // 5) * 5 - 180 AS lon_lo,
      |       CAST(count(*) AS BIGINT) AS n_events,
      |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
      |FROM events
      |WHERE user_id IS NOT NULL AND event_id IS NOT NULL
      |GROUP BY 1, 2
      |ORDER BY lat_lo, lon_lo""".stripMargin))

  /** Grid-bucketed spatial pair join — the `ST_DWithin` self-join
    * (PostGIS "pairs of points within distance r") in its distributed
    * shape: each point homes to an r-sized grid cell, ONE side explodes
    * to its 3×3 cell neighborhood, candidates form by a cell-key
    * equi-join (a pair meets on exactly one key — the b-side copy
    * covering a's home cell), and the exact distance predicate prunes
    * the candidates. Never all-pairs: candidate count is bounded by
    * per-neighborhood density, the spatial-join scale argument. Points
    * derive on the integer lattice (user_id-keyed), so the distance
    * arithmetic is ALL-INTEGER (the ±0.5° centering cancels in the
    * differences) — no float at any decision point. Planar cells; the
    * spherical surface is [[geoDistance]]'s haversine kernel. */
  val geoPairs = OracleQuery(
    "ltss_geo_pairs",
    (s, d) => {
      // cell size = radius; 8° so the fixture lattice (user_id-keyed
      // points: consecutive users sit √50° apart) actually pairs — the
      // JOIN SHAPE is what scales, the radius is a parameter
      val cell = 8L
      val u = Tables.events(s, d)
        .filter(col("user_id").isNotNull)
        .select(col("user_id")).distinct()
        .withColumn("li", pmod(col("user_id"), lit(180)))
        .withColumn("lo", pmod(col("user_id") * 7, lit(360)))
      val a = u.select(col("user_id").as("a_id"), col("li").as("a_li"),
        col("lo").as("a_lo"), expr(s"li div $cell").as("cx"),
        expr(s"lo div $cell").as("cy"))
      val b = u
        .withColumn("dx", explode(expr("sequence(-1, 1)")))
        .withColumn("dy", explode(expr("sequence(-1, 1)")))
        .select(col("user_id").as("b_id"), col("li").as("b_li"),
          col("lo").as("b_lo"), (expr(s"li div $cell") + col("dx")).as("cx"),
          (expr(s"lo div $cell") + col("dy")).as("cy"))
      a.join(b, Seq("cx", "cy"))
        .filter(col("a_id") < col("b_id"))
        .withColumn("d2",
          (col("a_li") - col("b_li")) * (col("a_li") - col("b_li")) +
            (col("a_lo") - col("b_lo")) * (col("a_lo") - col("b_lo")))
        .filter(col("d2") <= cell * cell)
        .select(col("a_id"), col("b_id"), col("d2"))
        .orderBy(col("a_id"), col("b_id"))
    },
    Some("""WITH u AS (
      |  SELECT DISTINCT user_id,
      |         ((user_id % 180) + 180) % 180 AS li,
      |         ((user_id * 7 % 360) + 360) % 360 AS lo
      |  FROM events WHERE user_id IS NOT NULL
      |),
      |a AS (SELECT user_id, li, lo, li // 8 AS cx, lo // 8 AS cy FROM u),
      |b AS (
      |  SELECT user_id, li, lo, (li // 8) + dx AS cx, (lo // 8) + dy AS cy
      |  FROM u, (VALUES (-1), (0), (1)) dxs(dx), (VALUES (-1), (0), (1)) dys(dy)
      |)
      |SELECT a_id, b_id, d2 FROM (
      |  SELECT a.user_id AS a_id, b.user_id AS b_id,
      |         (a.li - b.li)*(a.li - b.li) + (a.lo - b.lo)*(a.lo - b.lo) AS d2
      |  FROM a JOIN b ON a.cx = b.cx AND a.cy = b.cy AND a.user_id < b.user_id)
      |WHERE d2 <= 64
      |ORDER BY a_id, b_id""".stripMargin))

  /** SPATIO-TEMPORAL CONTACT JOIN (`ST_DWithin` + time-window band
    * join — the co-location/contact-mining primitive over the FULL fix
    * history, where [[ltss_geo_pairs]] pairs only latest positions):
    * every unordered pair of fixes from DIFFERENT entities within R
    * degrees planar AND within T µs emits one contact event. NEVER
    * all-pairs: both sides key on (time-bucket, R-sized grid cell);
    * the EARLIER role explodes to 2 time buckets × 3×3 neighbor cells
    * (0 ≤ Δt ≤ T pins the later fix to bucket k or k+1; d ≤ R pins it
    * to an adjacent cell), the later role keeps its home key, and the
    * strict lexicographic (t, user, event) orientation makes every
    * pair match EXACTLY once (the reverse role is killed by the strict
    * order; the 18 emitted keys are distinct, and a pair meets only at
    * the later fix's home key). One equi-join shuffle keyed by
    * (bucket, cell) — candidate volume scales with spatio-temporal
    * CO-LOCATION density, output rows ARE the answer (output-driven at
    * any scale). All decisions exact on the lattice: integer-valued d²
    * vs R², integer µs vs T. The oracle deliberately SKIPS the
    * bucketing — a direct band self-join (DuckDB's IEJoin) over the
    * raw fixes proves the prune semantics-free. R = 8° / T = 2 h are
    * fixture-scaled like [[ltss_geo_pairs]]; a deployment runs ~50 m
    * and ~15 min — the JOIN SHAPE is what scales. */
  val geoContacts = OracleQuery(
    "ltss_geo_contacts",
    (s, d) => {
      val Tus = 7200000000L // 2 h
      val cell = 8.0
      val pts = Tables.events(s, d)
        .filter(col("user_id").isNotNull && col("event_id").isNotNull)
        .select(col("user_id"), col("ts"), col("event_id"),
          ((col("user_id") % 180 - 90).cast("double") + 0.5).as("lat"),
          ((col("event_id") % 360 - 180).cast("double") + 0.5).as("lon"),
          unix_micros(col("ts")).as("tus"))
        .withColumn("cx", floor((col("lat") + lit(90.0)) / lit(cell)).cast("long"))
        .withColumn("cy", floor((col("lon") + lit(180.0)) / lit(cell)).cast("long"))
        .withColumn("tb", expr(s"tus div $Tus"))
      // Shuffle KEYS AND TIME ONLY (r21, guide §2.3 "shuffle keys and
      // metadata instead of payloads"): lat/lon/ts are pure functions
      // of (user_id, event_id, tus), so the 18×-exploded early side —
      // the join's dominant shuffle — carries 3 longs + the key instead
      // of also shipping two doubles and a timestamp per copy (~40%
      // fewer bytes); both sides' coordinates and the output timestamps
      // re-derive AFTER the join by the IDENTICAL integer-lattice
      // expressions (and timestamp_micros∘unix_micros is exact on the
      // µs-normalized ts), so every decision and output value is
      // bit-identical.
      val early = pts
        .withColumn("dtb", explode(expr("sequence(0, 1)")))
        .withColumn("dx", explode(expr("sequence(-1, 1)")))
        .withColumn("dy", explode(expr("sequence(-1, 1)")))
        .select(col("user_id").as("user_a"),
          col("event_id").as("event_a"), col("tus").as("tus_a"),
          (col("tb") + col("dtb")).as("tb"),
          (col("cx") + col("dx")).as("cx"), (col("cy") + col("dy")).as("cy"))
      val late = pts.select(col("user_id").as("user_b"),
        col("event_id").as("event_b"), col("tus").as("tus_b"),
        col("tb"), col("cx"), col("cy"))
      early.join(late, Seq("tb", "cx", "cy"))
        .filter(struct(col("tus_a"), col("user_a"), col("event_a")) <
          struct(col("tus_b"), col("user_b"), col("event_b")))
        .filter(col("user_a") =!= col("user_b"))
        .filter(col("tus_b") - col("tus_a") <= Tus)
        .withColumn("lat_a", (col("user_a") % 180 - 90).cast("double") + 0.5)
        .withColumn("lon_a", (col("event_a") % 360 - 180).cast("double") + 0.5)
        .withColumn("lat_b", (col("user_b") % 180 - 90).cast("double") + 0.5)
        .withColumn("lon_b", (col("event_b") % 360 - 180).cast("double") + 0.5)
        .withColumn("d2",
          (col("lat_a") - col("lat_b")) * (col("lat_a") - col("lat_b")) +
            (col("lon_a") - col("lon_b")) * (col("lon_a") - col("lon_b")))
        .filter(col("d2") <= lit(cell * cell))
        .select(timestamp_micros(col("tus_a")).as("time_a"),
          col("user_a"), col("event_a"),
          timestamp_micros(col("tus_b")).as("time_b"),
          col("user_b"), col("event_b"), col("d2"),
          (col("tus_b") - col("tus_a")).as("dt_us"))
        .orderBy(col("time_a"), col("user_a"), col("event_a"),
          col("time_b"), col("user_b"), col("event_b"))
    },
    Some("""WITH pts AS (
      |  SELECT user_id, ts, event_id,
      |         CAST(user_id % 180 - 90 AS DOUBLE) + 0.5 AS lat,
      |         CAST(event_id % 360 - 180 AS DOUBLE) + 0.5 AS lon,
      |         epoch_us(ts) AS tus
      |  FROM events WHERE user_id IS NOT NULL AND event_id IS NOT NULL)
      |SELECT a.ts AS time_a, a.user_id AS user_a, a.event_id AS event_a,
      |       b.ts AS time_b, b.user_id AS user_b, b.event_id AS event_b,
      |       (a.lat-b.lat)*(a.lat-b.lat) + (a.lon-b.lon)*(a.lon-b.lon) AS d2,
      |       b.tus - a.tus AS dt_us
      |FROM pts a JOIN pts b
      |  ON b.tus BETWEEN a.tus AND a.tus + 7200000000
      | AND (a.tus, a.user_id, a.event_id) < (b.tus, b.user_id, b.event_id)
      | AND a.user_id <> b.user_id
      | AND (a.lat-b.lat)*(a.lat-b.lat) + (a.lon-b.lon)*(a.lon-b.lon) <= 64.0
      |ORDER BY time_a, user_a, event_a, time_b, user_b, event_b""".stripMargin))

  /** CONTACT-GRAPH rollup (`ltss_geo_contact_pairs`) — the analyst
    * face of [[geoContacts]]: the event log aggregated into one edge
    * per ENTITY PAIR (unordered — the event log orients by time, the
    * graph by id) with contact count, closest approach (min d², exact),
    * and the first/last contact span. The same staypoints→OD shape:
    * the heavy lifting happened once in the bucketed contact join, the
    * graph is one combinable groupBy over its output — output-driven
    * like its source. Oracle rides the same band self-join with its
    * own GROUP BY. */
  /** The per-(pair, HOUR) contact rollup — the one frame every
    * contact-family consumer reduces to (r18 VERDICT finding #2): one
    * row per unordered entity pair per hour with that hour's contact
    * count, exact closest approach, and first/last stamps. Shared per
    * (session, dataset) via CachedFrames so the bucketed contact join —
    * the heaviest join in the suite — executes ONCE for the whole
    * family: [[contactPairFrame]] folds it to the pair graph (min_d2 /
    * first / last are kept HERE precisely so that fold is lossless),
    * [[geoConvoys]] runs its episode window directly over it, and
    * [[geoConvoyGroups]] / [[geoConvoyGroupsCore]] project its (pair,
    * hour) keys as the per-hour component edges. Bounded by pair-hours
    * (pairs that MET × hours they met — orders below the contact LOG,
    * which is itself output-driven from the bucketed join), so the
    * persisted frame stays dimension-sized at fleet scale. The hour is
    * the EARLIER fix's hour (`unix_micros(time_a) div 3600000000`),
    * the convention the whole family shares. */
  private[graft] def contactPairHourFrame(s: SparkSession, d: String): DataFrame =
    graft.CachedFrames.getOrBuild(
      s"contact_pair_hours|${graft.CachedFrames.sessionKey(s)}|$d") {
      geoContacts.run(s, d)
        .groupBy(
          least(col("user_a"), col("user_b")).as("id_lo"),
          greatest(col("user_a"), col("user_b")).as("id_hi"),
          expr("unix_micros(time_a) div 3600000000").as("hr"))
        .agg(count(lit(1)).as("nc"),
          min(col("d2")).as("min_d2"),
          min(col("time_a")).as("fc"),
          max(col("time_b")).as("lc"))
    }

  /** The contact-pair GRAPH frame — one edge per unordered entity pair
    * with contact count, exact closest approach, and first/last span —
    * shared per (session, dataset) via CachedFrames, the [[
    * graft.operators.Dedup.ccLabels]] shared-artifact policy (r18):
    * [[geoContactPairs]] PRESENTS it, and [[exposureFrame]] (both
    * exposure variants) traces over it, where each previously replayed
    * the identical bucketed contact join + combinable rollup.
    * Fleet-bounded (one row per pair that MET — never the contact
    * LOG), so the persisted frame is dimension-sized; a deployment
    * materializes exactly this graph once and serves every trace
    * from it. r19: derived by one combinable fold over
    * [[contactPairHourFrame]] (sum of hourly counts, min/max of hourly
    * extrema — exactly count/min/max over the raw log, regrouped), so
    * the pair graph and the hourly rollup share ONE contact-join
    * compute instead of two. r20 (r19 ADVICE): persisted MEMORY_ONLY —
    * the exposure BFS joins it every round, so it stays memory-resident
    * on the hot path, but being one combinable fold from the cached
    * hourly frame it should yield FIRST under pressure (one-stage
    * recompute) rather than hold a second disk copy of information the
    * cache already has. */
  private[graft] def contactPairFrame(s: SparkSession, d: String): DataFrame =
    graft.CachedFrames.getOrBuild(
      s"contact_pairs|${graft.CachedFrames.sessionKey(s)}|$d",
      org.apache.spark.storage.StorageLevel.MEMORY_ONLY) {
      contactPairHourFrame(s, d)
        .groupBy(col("id_lo"), col("id_hi"))
        .agg(sum(col("nc")).as("n_contacts"),
          min(col("min_d2")).as("min_d2"),
          min(col("fc")).as("first_contact"),
          max(col("lc")).as("last_contact"))
    }

  val geoContactPairs = OracleQuery(
    "ltss_geo_contact_pairs",
    (s, d) => contactPairFrame(s, d).orderBy(col("id_lo"), col("id_hi")),
    Some("""WITH pts AS (
      |  SELECT user_id, ts, event_id,
      |         CAST(user_id % 180 - 90 AS DOUBLE) + 0.5 AS lat,
      |         CAST(event_id % 360 - 180 AS DOUBLE) + 0.5 AS lon,
      |         epoch_us(ts) AS tus
      |  FROM events WHERE user_id IS NOT NULL AND event_id IS NOT NULL),
      |ev AS (
      |  SELECT a.ts AS time_a, a.user_id AS user_a,
      |         b.ts AS time_b, b.user_id AS user_b,
      |         (a.lat-b.lat)*(a.lat-b.lat) + (a.lon-b.lon)*(a.lon-b.lon) AS d2
      |  FROM pts a JOIN pts b
      |    ON b.tus BETWEEN a.tus AND a.tus + 7200000000
      |   AND (a.tus, a.user_id, a.event_id) < (b.tus, b.user_id, b.event_id)
      |   AND a.user_id <> b.user_id
      |   AND (a.lat-b.lat)*(a.lat-b.lat) + (a.lon-b.lon)*(a.lon-b.lon) <= 64.0)
      |SELECT least(user_a, user_b) AS id_lo, greatest(user_a, user_b) AS id_hi,
      |       CAST(count(*) AS BIGINT) AS n_contacts, min(d2) AS min_d2,
      |       min(time_a) AS first_contact, max(time_b) AS last_contact
      |FROM ev GROUP BY 1, 2
      |ORDER BY id_lo, id_hi""".stripMargin))

  /** CO-TRAVEL EPISODES (the pair form of convoy/flock mining — Jeung
    * et al., "Discovery of convoys in trajectory databases", VLDB
    * 2008): [[geoContactPairs]] says WHO met; this says who STAYED
    * TOGETHER — per unordered entity pair, the maximal runs of
    * CONSECUTIVE hours with at least one contact (the earlier fix's
    * hour buckets the contact), reported when the run spans ≥ 3 hours:
    * episode start hour, hour count, contact count, and the actual
    * first/last contact stamps. The k-member convoy is a clique over
    * these pair episodes; the pair episode is the deliverable building
    * block (and the alert — "these two trackers have been together
    * three hours"). Plan shape: rides the output-driven bucketed
    * contact join, one combinable (pair, hour) rollup, then ONE keyed
    * lag window over the per-pair-hour frame (orders of magnitude
    * smaller than the contact log) with the rn-gap episode rule the
    * sessionize/staypoint family uses — integer hour indexes, every
    * decision exact. Oracle: the direct band self-join (IEJoin) plus
    * the same window construction over integer-divided epoch hours. */
  val geoConvoys = OracleQuery(
    "ltss_geo_convoys",
    (s, d) => {
      val w = Window.partitionBy(col("id_lo"), col("id_hi")).orderBy(col("hr"))
      contactPairHourFrame(s, d)
        .select(col("id_lo"), col("id_hi"), col("hr"), col("nc"),
          col("fc"), col("lc"))
        .withColumn("new_ep",
          (col("hr") > coalesce(lag(col("hr"), 1).over(w), lit(-2L)) + 1L)
            .cast("int"))
        .withColumn("ep", sum(col("new_ep")).over(w))
        .groupBy(col("id_lo"), col("id_hi"), col("ep"))
        .agg(min(col("hr")).as("hr_start"),
          count(lit(1)).as("n_hours"),
          sum(col("nc")).as("n_contacts"),
          min(col("fc")).as("first_contact"),
          max(col("lc")).as("last_contact"))
        .filter(col("n_hours") >= 3)
        .select(col("id_lo"), col("id_hi"), col("hr_start"),
          col("n_hours"), col("n_contacts"),
          col("first_contact"), col("last_contact"))
        .orderBy(col("id_lo"), col("id_hi"), col("hr_start"))
    },
    Some("""WITH pts AS (
      |  SELECT user_id, ts, event_id,
      |         CAST(user_id % 180 - 90 AS DOUBLE) + 0.5 AS lat,
      |         CAST(event_id % 360 - 180 AS DOUBLE) + 0.5 AS lon,
      |         epoch_us(ts) AS tus
      |  FROM events WHERE user_id IS NOT NULL AND event_id IS NOT NULL),
      |ev AS (
      |  SELECT a.ts AS time_a, a.user_id AS user_a,
      |         b.ts AS time_b, b.user_id AS user_b,
      |         a.tus AS tus_a
      |  FROM pts a JOIN pts b
      |    ON b.tus BETWEEN a.tus AND a.tus + 7200000000
      |   AND (a.tus, a.user_id, a.event_id) < (b.tus, b.user_id, b.event_id)
      |   AND a.user_id <> b.user_id
      |   AND (a.lat-b.lat)*(a.lat-b.lat) + (a.lon-b.lon)*(a.lon-b.lon) <= 64.0),
      |hrs AS (
      |  SELECT least(user_a, user_b) AS id_lo, greatest(user_a, user_b) AS id_hi,
      |         tus_a // 3600000000 AS hr,
      |         count(*) AS nc, min(time_a) AS fc, max(time_b) AS lc
      |  FROM ev GROUP BY 1, 2, 3),
      |flg AS (
      |  SELECT *, CASE WHEN hr > COALESCE(
      |      lag(hr) OVER (PARTITION BY id_lo, id_hi ORDER BY hr), -2) + 1
      |    THEN 1 ELSE 0 END AS new_ep
      |  FROM hrs),
      |eps AS (
      |  SELECT *, SUM(new_ep) OVER (PARTITION BY id_lo, id_hi ORDER BY hr
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ep
      |  FROM flg)
      |SELECT id_lo, id_hi, CAST(min(hr) AS BIGINT) AS hr_start,
      |       CAST(count(*) AS BIGINT) AS n_hours,
      |       CAST(sum(nc) AS BIGINT) AS n_contacts,
      |       min(fc) AS first_contact, max(lc) AS last_contact
      |FROM eps GROUP BY id_lo, id_hi, ep
      |HAVING count(*) >= 3
      |ORDER BY id_lo, id_hi, hr_start""".stripMargin))

  /** K-MEMBER CONVOY GROUPS — the full Jeung et al. deliverable
    * [[geoConvoys]] stops one step short of (r17 VERDICT gap #1): the
    * pair episode says two trackers stayed together; the GROUP says
    * which trackers — per hour, the connected components over the
    * pairs in CONTACT that hour (the density-connected cluster of
    * Jeung's per-timestamp stage, at the contact join's R), reported
    * as maximal runs of consecutive hours over which the component's
    * member set is IDENTICAL, kept at k ≥ 3 members and m ≥ 2 hours
    * (a 2-member group is just the pair episode again; the same-set
    * rule is the strict variant of Jeung's cluster-intersection —
    * when a member joins or leaves, one group episode closes and
    * another opens, which is the alert an analyst wants; m is
    * fixture-scaled — same-set k-groups are strictly rarer than pair
    * episodes, and the synthetic fleet's triple co-locations are
    * fleeting — a real deployment raises it). Machinery: the shared
    * hourly pair rollup ([[contactPairHourFrame]] — 8-byte keys,
    * combinable, output-driven from the bucketed join) feeding the
    * shared per-hour component labels ([[convoyHourLabels]] —
    * hour-partitioned union-find, one shuffle, r20). Group identity =
    * the sorted member
    * list (canonical string); episodes close over the same rn-gap
    * window the pair form uses. Everything downstream of the CC is
    * combinable aggregates + ONE keyed window over the per-(hour,
    * group) frame — orders of magnitude smaller than the contact log,
    * which is itself output-driven. Oracle: the hour-carrying
    * recursive-CTE closure (the exposure precedent with hr in the
    * recursion key) over the same hourly contact edges. */
  /** Composite-encoding modulus for hour·id composite node ids — the
    * core variant's META nodes (hr·Enc + gid) and the global-CC
    * fallback's per-hour nodes (hour offset · Enc + member rank). The
    * core variant encodes raw ids, which must be in [0, Enc) with
    * epoch-hours in [0, Long.Max/Enc); [[assertConvoyEncodingBounds]]
    * enforces that loudly. */
  private[graft] val ConvoyEnc = 1000000000L

  /** Convoy thresholds: k = minimum core members, m = minimum
    * consecutive hours. ONE definition for both group variants AND the
    * core variant's meta-edge prune — the meta-graph decomposition is
    * sound only while the ≥ k overlap threshold equals the kernel's k
    * (a ≥ k piece crossing hours is exactly what forces the link), so
    * the two sites must never drift apart. */
  private[graft] val ConvoyK = 3
  private[graft] val ConvoyM = 2

  /** Asserts the hour/id bounds the hr·10⁹ + id composite encoding
    * needs (r18 VERDICT finding #3 / ADVICE — asserted, not just
    * documented): one planning-sized agg over the hourly pair frame
    * that throws loudly on a negative hour (pre-1970 event time — the
    * truncating div/% decode would mislabel) or an id outside [0, 10⁹)
    * (snowflake-style id spaces must remap through a dense_rank
    * dimension first), instead of silently producing wrong groups.
    * The caller is the one place raw ids are encoded: the core
    * variant's meta-graph nodes (gid is a member id). The hour-partitioned
    * union-find needs no encoding, and the global-CC fallback encodes
    * dense member ranks. */
  private def assertConvoyEncodingBounds(s: SparkSession, d: String): Unit = {
    val b = contactPairHourFrame(s, d)
      .agg(min(col("hr")), max(col("id_hi")), min(col("id_lo"))).head()
    if (!b.isNullAt(0)) {
      val (mnHr, mxId, mnId) = (b.getLong(0), b.getLong(1), b.getLong(2))
      require(mnHr >= 0L && mxId < ConvoyEnc && mnId >= 0L,
        s"convoy composite encoding out of bounds: min hour $mnHr " +
          s"(needs >= 0 — a pre-1970 event time decodes wrongly under " +
          s"truncating div/%) / member id range [$mnId, $mxId] (needs " +
          s"[0, $ConvoyEnc) — a negative id lands in the previous " +
          "hour's band and div/% decode it as the wrong (hour, member)" +
          ") — remap member ids through a dense_rank dimension " +
          "(planning-sized) before the component pass")
    }
  }

  /** Min-root union-find (path halving; union-by-min, so every tree's
    * root IS its component's minimum member) over an edge stream —
    * returns the member → component-min map. ONE definition shared by
    * the batch per-hour labels and the streaming stage-1 seal
    * ([[graft.streaming.StreamingOps.convoyHourGroupsStream]]), so the
    * two engines' per-hour components cannot drift (review-found r20 —
    * the convoyCoreHourStep extraction's own rationale). Memory is
    * O(distinct members); edges stream from the iterator. */
  private[graft] def minRootComponents(
      edges: Iterator[(Long, Long)]): scala.collection.mutable.LongMap[Long] = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x0: Long): Long =
      if (!parent.contains(x0)) { parent(x0) = x0; x0 }
      else {
        var x = x0
        var p = parent(x)
        while (p != x) {
          val gp = parent(p)
          parent(x) = gp // path halving
          x = gp
          p = parent(x)
        }
        x
      }
    edges.foreach { case (a, b) =>
      val ra = find(a)
      val rb = find(b)
      if (ra < rb) parent(rb) = ra
      else if (rb < ra) parent(ra) = rb
    }
    // snapshot the keys: the resolve pass path-compresses (value
    // updates only, but keep iteration and mutation apart)
    val members = parent.keysIterator.toArray
    val out = scala.collection.mutable.LongMap.empty[Long]
    members.foreach(m => out(m) = find(m))
    out
  }

  /** The k/m-filtered episode row both core-convoy engines emit —
    * `None` below either threshold. */
  private[graft] def coreEpisode(
      mem: Array[Long], s: Long, e: Long, k: Int, m: Int): Option[ConvoyCoreEp] =
    if (mem.length >= k && e - s + 1 >= m)
      Some(ConvoyCoreEp(mem.head, mem.length.toLong, mem.mkString(","),
        s, e - s + 1, e))
    else None

  /** Per-(hour, member) contact-component labels — the per-hour
    * partition both convoy-group variants ([[geoConvoyGroups]],
    * [[geoConvoyGroupsCore]]) consume, shared per (session, dataset)
    * like [[graft.operators.Dedup.ccLabels]] so the component pass runs
    * once. `gid` is the component's min member id within its hour.
    *
    * Contact edges never span hours, so the labels take ONE shuffle:
    * `groupByKey(hr)` feeding a per-task union-find
    * ([[minRootComponents]]) whose edges stream from the group iterator
    * and whose memory is one entry per member that hour. Routed by
    * [[graft.Routes.Convoy]] on the busiest hour's distinct members
    * (one agg over the cached hourly frame); an hour above the cap
    * sends the whole job to the retained distributed fixpoint
    * ([[globalCcHourLabels]]), since per-hour labels can't split.
    * Both routes label pre-1970 hours and negative or snowflake ids.
    *
    * Epoch quirk (review r20): the family's hour bucket is TRUNCATING
    * `div`, matching the oracle's integer `//`, so bucket 0 spans
    * (−1 h, +1 h) around the 1970 epoch on BOTH engines. Harmless for
    * real fleet data; a deployment that needs epoch-straddling hours
    * should bucket by `floor(micros / 3.6e9)` across the whole family. */
  private[graft] def convoyHourLabels(s: SparkSession, d: String): DataFrame =
    graft.CachedFrames.getOrBuild(
      s"convoy_hour_labels|${graft.CachedFrames.sessionKey(s)}|$d") {
      val hours = contactPairHourFrame(s, d)
      val busiest = hours
        .select(col("hr"), explode(array(col("id_lo"), col("id_hi"))).as("m"))
        .groupBy(col("hr")).agg(count_distinct(col("m")).as("n"))
        .agg(coalesce(max(col("n")), lit(0L))).head().getLong(0)
      if (Routes.local(Routes.Convoy, busiest)) {
        import s.implicits._
        hours
          .select(col("hr"), col("id_lo"), col("id_hi"))
          .as[(Long, Long, Long)]
          .groupByKey(_._1)
          .flatMapGroups { (hr: Long, it: Iterator[(Long, Long, Long)]) =>
            minRootComponents(it.map(e => (e._2, e._3)))
              .iterator.map { case (m, gid) => (hr, m, gid) }
          }
          .toDF("hr", "member", "gid")
      } else globalCcHourLabels(s, d)
    }

  /** The r19 global-fixpoint construction, retained as the above-cap
    * route of [[convoyHourLabels]]: composite-encode (hr, member) into
    * one node space and run the distributed
    * [[graft.operators.Dedup.connectedComponents]] — ~log(diameter)
    * driver rounds over a sym frame proportional to ALL pair-hours,
    * but per-executor memory stays bounded regardless of the hottest
    * hour's member count. A node is (hr − first hour)·Enc + the
    * member's dense rank (one ordered window over the fleet-sized
    * distinct members), so any hour or id encodes, and the rank keeps
    * member order: a component's min node decodes to its min member. */
  private def globalCcHourLabels(s: SparkSession, d: String): DataFrame = {
    val Enc = ConvoyEnc
    val pairs = contactPairHourFrame(s, d)
    val h0 = pairs.agg(coalesce(min(col("hr")), lit(0L))).head().getLong(0)
    val rank = pairs.select(col("id_lo").as("member"))
      .union(pairs.select(col("id_hi"))).distinct()
      .select(col("member"), (dense_rank().over(Window.orderBy("member")) - 1L).as("k"))
    val nMembers = rank.count()
    require(nMembers <= Enc, s"convoy global labels: $nMembers distinct " +
      s"members exceed the $Enc-wide per-hour node band")
    def ranked(id: String) = rank.select(col("member").as(id), col("k").as(s"k_$id"))
    val edges = pairs.join(ranked("id_lo"), "id_lo").join(ranked("id_hi"), "id_hi")
      .select(((col("hr") - h0) * Enc + col("k_id_lo")).as("a_id"),
        ((col("hr") - h0) * Enc + col("k_id_hi")).as("b_id"))
    val labels =
      Dedup.withAqeOff(s)(Dedup.connectedComponents(edges)._1)
    labels.select((expr(s"id div $Enc") + h0).as("hr"),
        expr(s"id % $Enc").as("k"), expr(s"label % $Enc").as("k_gid"))
      .join(rank, "k").join(ranked("gid"), "k_gid")
      .select("hr", "member", "gid")
  }

  val geoConvoyGroups = OracleQuery(
    "ltss_geo_convoy_groups",
    (s, d) => {
      val perHr = convoyHourLabels(s, d)
      val grp = perHr.groupBy(col("hr"), col("gid"))
        .agg(sort_array(collect_set(col("member"))).as("mem"))
        .filter(size(col("mem")) >= ConvoyK)
        .select(col("hr"), col("gid"),
          size(col("mem")).cast("long").as("n_members"),
          concat_ws(",", transform(col("mem"), m => m.cast("string")))
            .as("members"))
      val w = Window.partitionBy(col("members")).orderBy(col("hr"))
      grp.withColumn("new_ep",
          (col("hr") > coalesce(lag(col("hr"), 1).over(w), lit(-2L)) + 1L)
            .cast("int"))
        .withColumn("ep", sum(col("new_ep")).over(w))
        .groupBy(col("members"), col("ep"))
        .agg(min(col("gid")).as("group_id"),
          max(col("n_members")).as("n_members"),
          min(col("hr")).as("hr_start"),
          count(lit(1)).as("n_hours"))
        .filter(col("n_hours") >= ConvoyM.toLong)
        .select(col("group_id"), col("n_members"), col("members"),
          col("hr_start"), col("n_hours"),
          (col("hr_start") + col("n_hours") - lit(1L)).as("hr_end"))
        .orderBy(col("group_id"), col("hr_start"), col("members"))
    },
    Some("""WITH RECURSIVE pts AS (
      |  SELECT user_id, ts, event_id,
      |         CAST(user_id % 180 - 90 AS DOUBLE) + 0.5 AS lat,
      |         CAST(event_id % 360 - 180 AS DOUBLE) + 0.5 AS lon,
      |         epoch_us(ts) AS tus
      |  FROM events WHERE user_id IS NOT NULL AND event_id IS NOT NULL),
      |ev AS (
      |  SELECT a.ts AS time_a, a.user_id AS user_a,
      |         b.ts AS time_b, b.user_id AS user_b,
      |         a.tus AS tus_a
      |  FROM pts a JOIN pts b
      |    ON b.tus BETWEEN a.tus AND a.tus + 7200000000
      |   AND (a.tus, a.user_id, a.event_id) < (b.tus, b.user_id, b.event_id)
      |   AND a.user_id <> b.user_id
      |   AND (a.lat-b.lat)*(a.lat-b.lat) + (a.lon-b.lon)*(a.lon-b.lon) <= 64.0),
      |hrs AS (
      |  SELECT DISTINCT least(user_a, user_b) AS id_lo,
      |         greatest(user_a, user_b) AS id_hi,
      |         tus_a // 3600000000 AS hr
      |  FROM ev),
      |sym AS (SELECT hr, id_lo AS src, id_hi AS dst FROM hrs
      |        UNION ALL SELECT hr, id_hi, id_lo FROM hrs),
      |nodes AS (SELECT DISTINCT hr, src AS id FROM sym),
      |r(hr, id, rid) AS (
      |  SELECT hr, id, id FROM nodes
      |  UNION
      |  SELECT s.hr, s.src, r.rid
      |  FROM sym s JOIN r ON s.hr = r.hr AND s.dst = r.id),
      |lab AS (SELECT hr, id AS member, min(rid) AS gid FROM r GROUP BY hr, id),
      |grp AS (
      |  SELECT hr, gid, CAST(count(*) AS BIGINT) AS n_members,
      |         string_agg(CAST(member AS VARCHAR), ',' ORDER BY member) AS members
      |  FROM lab GROUP BY hr, gid
      |  HAVING count(*) >= 3),
      |flg2 AS (
      |  SELECT *, CASE WHEN hr > COALESCE(
      |      lag(hr) OVER (PARTITION BY members ORDER BY hr), -2) + 1
      |    THEN 1 ELSE 0 END AS new_ep
      |  FROM grp),
      |geps AS (
      |  SELECT *, SUM(new_ep) OVER (PARTITION BY members ORDER BY hr
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ep
      |  FROM flg2)
      |SELECT CAST(min(gid) AS BIGINT) AS group_id,
      |       CAST(max(n_members) AS BIGINT) AS n_members, members,
      |       CAST(min(hr) AS BIGINT) AS hr_start,
      |       CAST(count(*) AS BIGINT) AS n_hours,
      |       CAST(min(hr) + count(*) - 1 AS BIGINT) AS hr_end
      |FROM geps GROUP BY members, ep
      |HAVING count(*) >= 2
      |ORDER BY group_id, hr_start, members""".stripMargin))

  private[graft] final case class ConvoyHourRow(
      meta: Long, hr: Long, gid: Long, member: Long)
  /** Public: also the row type of the streaming twin
    * ([[graft.streaming.StreamingOps.convoyGroupsCoreStream]]). */
  final case class ConvoyCoreEp(
      group_id: Long, n_members: Long, members: String,
      hr_start: Long, n_hours: Long, hr_end: Long)

  /** Sorted-member-array class key: value equality + cached hash, so
    * the candidate map never re-hashes an unchanged class. */
  private[graft] final class ConvoyCls(val mem: Array[Long]) {
    override val hashCode: Int = java.util.Arrays.hashCode(mem)
    override def equals(o: Any): Boolean = o match {
      case c: ConvoyCls => java.util.Arrays.equals(mem, c.mem)
      case _ => false
    }
  }

  /** The CMC state machine over ONE convoy neighborhood's (hr, gid,
    * member) rows — the sequential kernel of [[geoConvoyGroupsCore]].
    * State: the distinct candidate member-sets alive at the current
    * hour, each with its MINIMAL start hour (survival is
    * start-independent — a set either continues for every start or
    * closes for every start, so keeping only the min start IS the
    * dominance rule "longest interval per (set, close hour)").
    * Per hour: each candidate partitions by its members' current
    * component (absent members drop); the identical piece continues
    * the candidate, a changed set closes it (emit when ≥ k members
    * and ≥ m hours), and every ≥ k piece inherits the candidate's
    * start (Jeung's V.start = c.start); every ≥ k component opens as
    * a fresh candidate unless the set is already alive with an
    * earlier start. A missing hour (gap) closes everything — convoy
    * hours are CONSECUTIVE.
    *
    * COST (the r19 folded-probe lesson — the first cut ground a
    * single core for 30+ minutes at the folded 10×): alive classes
    * form a LAMINAR family (two classes sharing a member are classes
    * of that member over nested intervals, hence nested; disjoint
    * otherwise), so when a class survives intact every class BELOW it
    * survives for the same reason — all its members sit in the same
    * component. Checking classes in DESCENDING size and marking the
    * members of each full-checked survivor lets every nested class
    * pass by ONE covered-representative lookup, collapsing the
    * per-hour cost from Σ|class| (members × chain depth — the naive
    * candidate-set CMC, quadratic on a stable fleet) to
    * O(members + churn): survivors mark ≤ N members once, and full
    * member scans happen only at chain TOPS (component-sized, Σ ≤ N)
    * and on classes that actually split (churn-bounded, each paying
    * its own size once at close). Dense folded fleets — thousands of
    * members co-located for hundreds of hours — run in seconds where
    * the set-allocating version took tens of minutes. */
  private[graft] def convoyCoreEpisodes(
      rows: Iterator[ConvoyHourRow], k: Int, m: Int): Iterator[ConvoyCoreEp] = {
    val byHr = rows.toArray.groupBy(_.hr)
    val hours = byHr.keys.toArray.sorted
    val out = scala.collection.mutable.ArrayBuffer.empty[ConvoyCoreEp]
    def emit(mem: Array[Long], s: Long, e: Long): Unit =
      coreEpisode(mem, s, e, k, m).foreach(out += _)
    var state = scala.collection.mutable.HashMap.empty[ConvoyCls, Long]
    var prev = Long.MinValue
    for (h <- hours) {
      if (prev != Long.MinValue && h != prev + 1) {
        state.foreach { case (c, st) => emit(c.mem, st, prev) }
        state = scala.collection.mutable.HashMap.empty
      }
      val rowsH = byHr(h)
      val gidOf = scala.collection.mutable.LongMap.empty[Long]
      rowsH.foreach(r => gidOf(r.member) = r.gid)
      state = convoyCoreHourStep(state, gidOf, h, prev, k, emit)
      prev = h
    }
    state.foreach { case (c, st) => emit(c.mem, st, prev) }
    out.iterator
  }

  /** ONE hour of the CMC machine — the laminar descending-size fold of
    * an hour's member→component map into the alive-class state (the
    * cost argument lives on [[convoyCoreEpisodes]]'s scaladoc). Shared
    * verbatim by the batch kernel and the streaming twin
    * ([[graft.streaming.StreamingOps.convoyGroupsCoreStream]]), so the
    * two engines cannot drift: `close(mem, since, endHr)` fires for
    * every class that fails to continue into hour `h` (the caller
    * filters k/m), and the returned map is the new alive state. */
  private[graft] def convoyCoreHourStep(
      state: scala.collection.mutable.HashMap[ConvoyCls, Long],
      gidOf: scala.collection.mutable.LongMap[Long],
      h: Long, prev: Long, k: Int,
      close: (Array[Long], Long, Long) => Unit)
      : scala.collection.mutable.HashMap[ConvoyCls, Long] = {
    val next = scala.collection.mutable.HashMap.empty[ConvoyCls, Long]
    def mergeMin(c: ConvoyCls, s: Long): Unit =
      next.get(c) match {
        case Some(s0) => if (s < s0) next(c) = s
        case None => next(c) = s
      }
    // a member is covered once some survivor (a SUPERSET, by
    // laminarity) proved its whole class sits in one component
    val covered = scala.collection.mutable.LongMap.empty[Boolean]
    // descending size: chain tops first, nested classes ride free
    val ordered = state.toArray.sortBy(-_._1.mem.length)
    for ((cls, since) <- ordered) {
      val mem = cls.mem
      if (covered.contains(mem(0))) {
        // nested inside a proven survivor: survives with its start
        next(cls) = since
      } else {
        // gid ≥ 0 always (the encoding guard), so −1 is a safe
        // absent sentinel — no Option allocation in the hot loop
        var ok = true
        var g0 = -1L
        var i = 0
        while (ok && i < mem.length) {
          val g = gidOf.getOrElse(mem(i), -1L)
          if (g < 0L) ok = false
          else if (i == 0) g0 = g
          else if (g != g0) ok = false
          i += 1
        }
        if (ok) {
          next(cls) = since
          var j = 0
          while (j < mem.length) { covered(mem(j)) = true; j += 1 }
        } else {
          close(mem, since, prev)
          // pieces: partition the (sorted) members by current gid —
          // in-order appends keep each piece sorted
          val pieces = scala.collection.mutable.LongMap
            .empty[scala.collection.mutable.ArrayBuffer[Long]]
          var j = 0
          while (j < mem.length) {
            val g = gidOf.getOrElse(mem(j), -1L)
            if (g >= 0L)
              pieces.getOrElseUpdate(g,
                scala.collection.mutable.ArrayBuffer.empty[Long]) += mem(j)
            j += 1
          }
          pieces.foreach { case (_, buf) =>
            if (buf.length >= k) mergeMin(new ConvoyCls(buf.toArray), since)
          }
        }
      }
    }
    // every ≥ k component opens as a fresh candidate unless the set
    // is already alive with an earlier start. Built from gidOf (one
    // entry per member, last row wins — the old toMap tolerance), so
    // a duplicate (hr, member) input row can neither inflate a
    // component past k nor duplicate an id in the members string.
    val comps = scala.collection.mutable.LongMap
      .empty[scala.collection.mutable.ArrayBuffer[Long]]
    gidOf.foreach { case (m, g) => comps.getOrElseUpdate(g,
      scala.collection.mutable.ArrayBuffer.empty[Long]) += m }
    comps.foreach { case (_, buf) =>
      if (buf.length >= k) {
        val c = new ConvoyCls(buf.sorted.toArray)
        if (!next.contains(c)) next(c) = h
      }
    }
    next
  }

  /** JEUNG CLUSTER-INTERSECTION CONVOYS (`ltss_geo_convoy_groups_core`)
    * — the original VLDB-2008 semantics [[geoConvoyGroups]]'s strict
    * same-set rule fragments (r18 VERDICT missing #1): a convoy
    * persists while a ≥ k member CORE survives the running INTERSECTION
    * of consecutive-hour contact components — members may churn around
    * the core without closing the episode (a 4th tracker joining for
    * one hour no longer splits a 3-core run in three). Output: every
    * maximal (core, hour-interval) pair with ≥ 3 members and ≥ 2
    * consecutive hours — equivalently (proved by the class argument in
    * [[convoyCoreEpisodes]]'s design note below) every gid-vector
    * equivalence class over a consecutive-hour interval that cannot
    * extend forward (the close) taken at its minimal start (the
    * dominance rule); distinct cores over overlapping intervals are
    * BOTH reported when neither dominates, faithful to Jeung's
    * maximality.
    *
    * Plan shape — the scalable part is pure dataframe algebra, the
    * sequential part runs only on independent convoy NEIGHBORHOODS:
    * (1) the shared per-hour component labels ([[convoyHourLabels]] —
    * one contact join + one hour-partitioned union-find shuffle per
    * session, amortized with the strict variant); (2)
    * consecutive-hour components with ≥ k shared
    * members link into a META-graph (one self-join on (hr+1, member) +
    * one combinable count — a core can only flow along such a link, so
    * meta-components are exactly the closed convoy worlds, PROVEN
    * disjoint: a member sits in one component per hour, and any ≥ k
    * piece crossing hours forces the meta-edge); (3) ONE
    * [[graft.operators.Dedup.connectedComponents]] over the hour-encoded
    * meta-nodes (meta-edges DO span hours, so the distributed fixpoint
    * stays; the encoding bound is asserted here); (4) `groupByKey(meta).
    * flatMapGroups` runs the CMC state machine per neighborhood —
    * parallelism scales with neighborhood COUNT, per-task memory with
    * neighborhood size (member-hours of one co-location cluster; a
    * months-long stable fleet is the skew case — its bound is the
    * alive-class count × core size, and the neighborhood's rows are
    * already pair-hours-bounded). Isolated meta-nodes (no qualifying
    * link either side) can only yield 1-hour episodes — m ≥ 2 excludes
    * them, so the inner label join drops them for free. Oracle: a
    * candidate-carrying recursive CTE (GROUP BY in the recursive term —
    * pieces via unnest/contains + HAVING ≥ k) over the same per-hour
    * recursive-CC labels, closed rows anti-joined one hour forward,
    * min-start fold per (core, close) — a genuinely different
    * construction from the Spark meta-partitioned machine (verified
    * equal row-for-row at sf0.01 during design, 34 episodes). */
  private[graft] def convoyGroupsCoreFrame(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val Enc = ConvoyEnc
    // the META nodes composite-encode (hr, gid) and gid is a member
    // id, so the core variant keeps the asserted bound even though the
    // per-hour labels themselves no longer need the encoding (r20)
    assertConvoyEncodingBounds(s, d)
    val perHr = convoyHourLabels(s, d)
    val nxt = perHr.select((col("hr") - 1L).as("hr"),
      col("gid").as("gid_n"), col("member"))
    val metaEdges = perHr.select(col("hr"), col("gid"), col("member"))
      .join(nxt, Seq("hr", "member"))
      .groupBy(col("hr"), col("gid"), col("gid_n"))
      .agg(count(lit(1)).as("ov"))
      .filter(col("ov") >= ConvoyK.toLong)
      .select((col("hr") * Enc + col("gid")).as("a_id"),
        ((col("hr") + 1L) * Enc + col("gid_n")).as("b_id"))
    val metaLab =
      Dedup.withAqeOff(s)(Dedup.connectedComponents(metaEdges)._1)
        .withColumnRenamed("id", "node")
    perHr.join(metaLab, (col("hr") * Enc + col("gid")) === col("node"))
      .select(col("label").as("meta"), col("hr"), col("gid"), col("member"))
      .as[ConvoyHourRow]
      .groupByKey(_.meta)
      .flatMapGroups((_, it) => convoyCoreEpisodes(it, ConvoyK, ConvoyM))
      .toDF()
  }

  val geoConvoyGroupsCore = OracleQuery(
    "ltss_geo_convoy_groups_core",
    (s, d) => convoyGroupsCoreFrame(s, d)
      .orderBy(col("group_id"), col("hr_start"), col("members")),
    Some("""WITH RECURSIVE pts AS (
      |  SELECT user_id, ts, event_id,
      |         CAST(user_id % 180 - 90 AS DOUBLE) + 0.5 AS lat,
      |         CAST(event_id % 360 - 180 AS DOUBLE) + 0.5 AS lon,
      |         epoch_us(ts) AS tus
      |  FROM events WHERE user_id IS NOT NULL AND event_id IS NOT NULL),
      |ev AS (
      |  SELECT a.user_id AS user_a, b.user_id AS user_b, a.tus AS tus_a
      |  FROM pts a JOIN pts b
      |    ON b.tus BETWEEN a.tus AND a.tus + 7200000000
      |   AND (a.tus, a.user_id, a.event_id) < (b.tus, b.user_id, b.event_id)
      |   AND a.user_id <> b.user_id
      |   AND (a.lat-b.lat)*(a.lat-b.lat) + (a.lon-b.lon)*(a.lon-b.lon) <= 64.0),
      |hrs AS (
      |  SELECT DISTINCT least(user_a, user_b) AS id_lo,
      |         greatest(user_a, user_b) AS id_hi,
      |         tus_a // 3600000000 AS hr
      |  FROM ev),
      |sym AS (SELECT hr, id_lo AS src, id_hi AS dst FROM hrs
      |        UNION ALL SELECT hr, id_hi, id_lo FROM hrs),
      |nodes AS (SELECT DISTINCT hr, src AS id FROM sym),
      |r(hr, id, rid) AS (
      |  SELECT hr, id, id FROM nodes
      |  UNION
      |  SELECT s.hr, s.src, r.rid
      |  FROM sym s JOIN r ON s.hr = r.hr AND s.dst = r.id),
      |lab AS (SELECT hr, id AS member, min(rid) AS gid FROM r GROUP BY hr, id),
      |cand(start_hr, hr, members) AS (
      |  SELECT hr, hr, string_agg(member, ',' ORDER BY member)
      |  FROM lab GROUP BY hr, gid
      |  HAVING count(*) >= 3
      |  UNION
      |  SELECT c.start_hr, l.hr, string_agg(l.member, ',' ORDER BY l.member)
      |  FROM cand c
      |  JOIN lab l ON l.hr = c.hr + 1
      |   AND list_contains(string_split(c.members, ','), CAST(l.member AS VARCHAR))
      |  GROUP BY c.start_hr, c.hr, c.members, l.hr, l.gid
      |  HAVING count(*) >= 3),
      |closed AS (
      |  SELECT c.start_hr, c.hr, c.members FROM cand c
      |  WHERE NOT EXISTS (SELECT 1 FROM cand c2
      |     WHERE c2.start_hr = c.start_hr AND c2.hr = c.hr + 1
      |       AND c2.members = c.members)),
      |eps AS (
      |  SELECT members, hr AS hr_end, min(start_hr) AS hr_start
      |  FROM closed GROUP BY members, hr)
      |SELECT CAST(string_split(members, ',')[1] AS BIGINT) AS group_id,
      |       CAST(len(string_split(members, ',')) AS BIGINT) AS n_members,
      |       members,
      |       CAST(hr_start AS BIGINT) AS hr_start,
      |       CAST(hr_end - hr_start + 1 AS BIGINT) AS n_hours,
      |       CAST(hr_end AS BIGINT) AS hr_end
      |FROM eps
      |WHERE hr_end - hr_start + 1 >= 2
      |ORDER BY group_id, hr_start, members""".stripMargin))

  /** EXPOSURE CHAINS over the contact graph — the contact-tracing
    * deliverable [[geoContactPairs]] stops short of: if A contacted B
    * and B contacted C, then C is in A's exposure chain even though A
    * and C never met (the TRANSITIVE closure, the first question asked
    * of a contact log). Per entity: its connected COMPONENT over the
    * pair edges (labeled by the component's min id — the seed), the
    * component's member count, the entity's HOP distance from the seed
    * (BFS shortest path — "how many intermediate contacts separate you
    * from the index case"), and the component's first/last contact
    * span. At 100 TB the graph is
    * |entity pairs that MET| — fleet-bounded, not corpus-bounded.
    * Oracle: the DuckDB recursive-CTE closure (the `dedup_clusters`
    * precedent) over the same band-join edges, plus a hop-bounded
    * recursive BFS — both different constructions than the Spark
    * engine they check.
    * ([[exposureFrame]] below is the engine; [[geoExposure]] presents
    * it unfiltered, [[geoExposureFiltered]] with practice thresholds.)
    *
    * Shared engine of [[geoExposure]] and [[geoExposureFiltered]]:
    * labels + hops over the contact-pair graph, parameterized by an
    * optional EDGE predicate (evaluated on the pair rollup's columns —
    * n_contacts, min_d2, first/last_contact — epidemiological practice
    * thresholds edges before tracing: repeated contact, close
    * approach, time-boxed).
    *
    * Routed by [[graft.Routes.Exposure]] on the edge count the engine
    * already takes (`nEdges`, the loop-width input), which bounds one
    * task's memory:
    *  - at or under the cap: ONE task computes labels and hops
    *    ([[localGraphNodes]] — min-root union-find, then BFS per
    *    component root), the local algorithm the DuckDB oracle's
    *    recursive CTEs run.
    *  - above the cap: the distributed CC labels the graph, then each
    *    component within the cap gets an in-task BFS
    *    (`groupByKey(label)`) and only OVERSIZED components pay the
    *    layered distributed BFS, restricted to their edges.
    * Both routes produce bit-identical rows: labels are min member ids
    * and hops shortest paths — both unique. */
  private[graft] def exposureFrame(
      s: SparkSession, d: String,
      edgeFilter: Option[Column] = None): DataFrame = {
      // ONE contact-join compute: the pair rollup materializes once
      // and every consumer below — the CC edges, the BFS's sym frame,
      // the span join — reads its blocks instead of replaying the
      // bucketed contact join per consumer. It reads the SESSION-SHARED
      // persisted frame ([[contactPairFrame]] — both exposure variants
      // and the pair query serve from one build), and the filtered
      // projection is cut eagerly (r21, r20 VERDICT item 8): an
      // eviction of the shared MEMORY_ONLY cache can no longer force
      // the single-task coalesce(1) route below to replay the whole
      // contact fold inside one task
      val pairs = GraftLineage.cut(
        edgeFilter.foldLeft(contactPairFrame(s, d))((f, c) => f.filter(c))
          .select(col("id_lo"), col("id_hi"), col("first_contact"),
            col("last_contact")), eager = true)
      val edges = pairs.select(col("id_lo"), col("id_hi"))
      // Materialize the (filtered) pair frame — and, through it, the
      // session-shared contact-pair build — BEFORE any AQE toggle: on a
      // cold session the first action on the frame executes the bucketed
      // contact join, which must plan ADAPTIVELY (r18 ADVICE: moving the
      // count inside withAqeOff made unwarmed callers pay the heaviest
      // join in the family without AQE). Also the ROUTE input.
      val nEdges = pairs.count()
      val nodes =
        if (Routes.local(Routes.Exposure, nEdges)) {
          // single-task route: labels + hops in ONE pass over the whole
          // graph. coalesce(1) merges the materialized pair blocks into
          // one task — no shuffle, no iteration jobs; the eager cut
          // materializes the pass once for the three consumers below.
          import s.implicits._
          GraftLineage.cut(edges.as[(Long, Long)].coalesce(1)
            .mapPartitions(localGraphNodes)
            .toDF("id", "label", "hops"), eager = true)
        } else distributedGraphNodes(s, edges, nEdges)
      val comp = nodes.groupBy(col("label"))
        .agg(count(lit(1)).as("n_members"))
      val span = pairs
        .join(nodes.select(col("id").as("id_lo"), col("label")), "id_lo")
        .groupBy(col("label"))
        .agg(min(col("first_contact")).as("first_contact"),
          max(col("last_contact")).as("last_contact"))
      nodes.join(comp, "label").join(span, "label")
        .select(col("id").as("user_id"), col("label").as("component"),
          col("n_members"), col("hops"), col("first_contact"),
          col("last_contact"))
        .orderBy(col("user_id"))
  }

  /** Labels + hops over a streamed edge list, one pass: min-root
    * union-find ([[minRootComponents]] — the convoyHourLabels kernel)
    * for component labels, then one multi-source BFS from every root
    * (components are disjoint, so a single frontier serves all seeds)
    * for hop counts. One (id, label, hops) row per node. The edge
    * stream is decoded ONCE into two primitive Array[Long]s (no boxed
    * tuple array is retained — r21, the r20 ADVICE footprint item);
    * with the CSR adjacency below the retained task memory is
    * ~32 B/edge + O(nodes), so the 4 M-edge cap
    * ([[graft.Routes.Exposure]]) costs ~128 MB with margin. */
  private[graft] def localGraphNodes(
      es: Iterator[(Long, Long)]): Iterator[(Long, Long, Long)] = {
    val ab = new scala.collection.mutable.ArrayBuilder.ofLong
    val bb = new scala.collection.mutable.ArrayBuilder.ofLong
    es.foreach { case (a, b) => ab += a; bb += b }
    val ea = ab.result()
    val eb = bb.result()
    val labelOf = minRootComponents(
      Iterator.range(0, ea.length).map(i => (ea(i), eb(i))))
    val hops = localBfsHopsArr(ea, eb,
      labelOf.iterator.collect { case (m, root) if m == root => m })
    hops.iterator.map { case (id, h) => (id, labelOf(id), h) }
  }

  /** Multi-source BFS hop counts over an edge iterator: settles every
    * node at its SHORTEST distance from the nearest seed (seeds sit in
    * distinct components here, so "nearest" is "its component's").
    * Decodes the stream into primitive arrays and delegates to the CSR
    * core ([[localBfsHopsArr]]). */
  private[graft] def localBfsHops(
      edges: Iterator[(Long, Long)], seeds: Iterator[Long])
      : scala.collection.mutable.LongMap[Long] = {
    val ab = new scala.collection.mutable.ArrayBuilder.ofLong
    val bb = new scala.collection.mutable.ArrayBuilder.ofLong
    edges.foreach { case (a, b) => ab += a; bb += b }
    localBfsHopsArr(ab.result(), bb.result(), seeds)
  }

  /** CSR-core multi-source BFS (r21): node ids are interned to dense
    * ints, the undirected adjacency is two primitive passes (degree
    * count + fill) into one Array[Int], and the frontier queue is a
    * primitive int array (every node enqueues at most once, so length
    * = node count). Replaces the boxed ArrayBuffer-adjacency +
    * ArrayDeque form whose real footprint was ~2–3× the 48 B/edge the
    * cap was sized for. Returns the same id → hops map as before;
    * seeds absent from the edge list still appear at hop 0 (the old
    * `hops(r) = 0` behavior). */
  private[graft] def localBfsHopsArr(
      ea: Array[Long], eb: Array[Long], seeds: Iterator[Long])
      : scala.collection.mutable.LongMap[Long] = {
    val m = ea.length
    val idx = scala.collection.mutable.LongMap.empty[Int]
    val idsB = new scala.collection.mutable.ArrayBuilder.ofLong
    def intern(x: Long): Int = idx.getOrElseUpdate(x, {
      idsB += x; idx.size
    })
    val ia = new Array[Int](m)
    val ib = new Array[Int](m)
    var i = 0
    while (i < m) { ia(i) = intern(ea(i)); ib(i) = intern(eb(i)); i += 1 }
    val ids = idsB.result()
    val n = ids.length
    val off = new Array[Int](n + 1)
    i = 0
    while (i < m) { off(ia(i) + 1) += 1; off(ib(i) + 1) += 1; i += 1 }
    i = 0
    while (i < n) { off(i + 1) += off(i); i += 1 }
    val adj = new Array[Int](2 * m)
    val cur = java.util.Arrays.copyOf(off, n)
    i = 0
    while (i < m) {
      adj(cur(ia(i))) = ib(i); cur(ia(i)) += 1
      adj(cur(ib(i))) = ia(i); cur(ib(i)) += 1
      i += 1
    }
    val dist = new Array[Long](n)
    java.util.Arrays.fill(dist, -1L)
    val queue = new Array[Int](n)
    var qh = 0
    var qt = 0
    val hops = scala.collection.mutable.LongMap.empty[Long]
    seeds.foreach { r =>
      idx.get(r) match {
        case Some(si) =>
          if (dist(si) < 0) { dist(si) = 0L; queue(qt) = si; qt += 1 }
        case None => hops(r) = 0L // isolated seed, no incident edges
      }
    }
    while (qh < qt) {
      val x = queue(qh); qh += 1
      val h = dist(x) + 1L
      var j = off(x)
      val end = off(x + 1)
      while (j < end) {
        val y = adj(j)
        if (dist(y) < 0) { dist(y) = h; queue(qt) = y; qt += 1 }
        j += 1
      }
    }
    i = 0
    while (i < n) {
      if (dist(i) >= 0) hops(ids(i)) = dist(i)
      i += 1
    }
    hops
  }

  /** The above-cap route of [[exposureFrame]]: distributed CC labels
    * the graph, then components route individually — in-task BFS for
    * components within the cap, the r19 layered distributed BFS only
    * for oversized ones, restricted to their edges. Returns one
    * (id, label, hops) row per node. */
  private def distributedGraphNodes(
      s: SparkSession, edges: DataFrame, nEdges: Long): DataFrame = {
    import s.implicits._
    val localCap = Routes.cap(Routes.Exposure)
    val partsKey = "spark.sql.shuffle.partitions"
    val partsWas = s.conf.get(partsKey, "32")
    Dedup.withAqeOff(s) {
      try {
        // loop parallelism sized to the EDGE frame (the CC
        // discipline): session-default-width stages would pay their
        // task launches per iteration for a graph orders of magnitude
        // smaller than the corpus. Session-global mutation caveat: a
        // query running concurrently on this SparkSession executes at
        // the edge-sized width — dedicated job/bench sessions only; a
        // shared session should run this on its own `spark.newSession()`.
        val maxParts = partsWas.toInt
        val parts = math.max(1L,
          math.min(maxParts.toLong, (2L * nEdges) / 100000L + 1L)).toInt
        s.conf.set(partsKey, parts.toString)
        val (lab, _) =
          graft.operators.Dedup.connectedComponents(edges)
        val labC = GraftLineage.cut(lab, eager = false)
        // attach each undirected edge to its component (edges never
        // cross components) — the per-component group key
        val edgeComp = GraftLineage.cut(edges
          .join(labC.select(col("id").as("id_lo"), col("label")), "id_lo")
          .select(col("label"), col("id_lo"), col("id_hi")), eager = false)
        val routed =
          if (localCap <= 0) {
            // a cap of 0 or below (a route forced in tests): EVERY
            // component is "oversized" by definition, so skip
            // the small/big split — collecting every component label
            // to the driver at cap <= 0 would be unbounded on a real
            // graph (r20 ADVICE)
            layeredBfsNodes(GraftLineage.cut(edgeComp, eager = false), parts)
          } else {
            // oversized components: at most nEdges / cap labels exist,
            // so the collected set is driver-bounded by construction
            // (2,500 labels at 10^10 edges under the default cap)
            val big = edgeComp.groupBy(col("label"))
              .agg(count(lit(1)).as("n_edges"))
              .filter(col("n_edges") > localCap)
              .select(col("label")).as[Long].collect().toSet
            val smallNodes = (if (big.isEmpty) edgeComp
              else edgeComp.filter(!col("label").isInCollection(big)))
              .as[(Long, Long, Long)]
              .groupByKey(_._1)
              .flatMapGroups { (lbl: Long, it: Iterator[(Long, Long, Long)]) =>
                val hops = localBfsHops(
                  it.map(e => (e._2, e._3)), Iterator.single(lbl))
                hops.iterator.map { case (id, h) => (id, lbl, h) }
              }
              .toDF("id", "label", "hops")
            if (big.isEmpty) smallNodes
            else smallNodes.union(
              layeredBfsNodes(GraftLineage.cut(
                edgeComp.filter(col("label").isInCollection(big)),
                eager = false), parts))
          }
        // materialize INSIDE the conf scope (r20 ADVICE: the returned
        // plan used to execute lazily after the finally restored AQE
        // and the shuffle width, so the final group-BFS/union jobs ran
        // outside the scope the comments describe)
        GraftLineage.cut(routed, eager = true)
      } finally s.conf.set(partsKey, partsWas)
    }
  }

  /** The r19 layered distributed BFS, retained for components too big
    * for one task: seeds are the component labels themselves (the
    * min-id members), each job expands [[exposureHopsPerJob]] layers —
    * layer h is exactly distance k+h because it anti-joins settled
    * (≤ k) plus this job's earlier layers — and ONE count per job
    * materializes the round and decides convergence. BFS rounds are
    * inherently O(seed eccentricity) driver round-trips (shortest
    * paths have no pointer-doubling shortcut on a general graph); the
    * 6-layer amortization bounds the round-trip count. Input is the
    * (label, id_lo, id_hi) edge frame of the routed components; the
    * label rides every frontier row, so the output is (id, label,
    * hops) like the in-task route. */
  private def layeredBfsNodes(edgeComp: DataFrame, parts: Int): DataFrame = {
    // sym's columns are ALIASED (slabel/src/dst): the seed frame below
    // shares edgeComp's lineage, and dataset-qualified refs across two
    // frames with common attribute ids trip the ambiguous-self-join
    // detector — fresh names + name-based refs keep the join resolvable
    val sym = GraftLineage.cut(
      edgeComp.select(col("label").as("slabel"), col("id_lo").as("src"),
          col("id_hi").as("dst"))
        .union(edgeComp.select(col("label"), col("id_hi"), col("id_lo")))
        .repartition(parts, col("src")), eager = false)
    var settled = GraftLineage.cut(edgeComp.select(col("label")).distinct()
      .select(col("label").as("id"), col("label"), lit(0L).as("hops"))
      .repartition(parts, col("id")), eager = false)
    var frontier = settled
    var more = settled.count() > 0
    val HopsPerJob = 6
    while (more) {
      var block = settled.select(col("id").as("seen"))
      var cur = frontier
      val layers = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      for (_ <- 1 to HopsPerJob) {
        val nxt = GraftLineage.cut(cur.join(sym, col("id") === col("src"))
          .select(col("dst").as("nid"), col("slabel").as("nlabel"),
            (col("hops") + 1L).as("nhops"))
          .groupBy(col("nid"), col("nlabel")).agg(min(col("nhops")).as("nhops"))
          .select(col("nid").as("id"), col("nlabel").as("label"),
            col("nhops").as("hops"))
          .join(block, col("id") === col("seen"), "left_anti"), eager = false)
        layers += nxt
        block = block.union(nxt.select(col("id").as("seen")))
        cur = nxt
      }
      val roundNew = GraftLineage.cut(layers.reduce(_ union _)
        .repartition(parts, col("id")), eager = false)
      // an empty TRAILING layer with earlier layers non-empty costs
      // exactly one extra (empty, cheap) round before the count reads
      // zero and the loop stops
      more = roundNew.count() > 0
      if (more) {
        settled = GraftLineage.cut(settled.union(roundNew), eager = false)
        frontier = layers.last
      }
    }
    settled.select(col("id"), col("label"), col("hops"))
  }

  val geoExposure = OracleQuery(
    "ltss_geo_exposure",
    (s, d) => exposureFrame(s, d),
    Some("""WITH RECURSIVE pts AS (
      |  SELECT user_id, ts, event_id,
      |         CAST(user_id % 180 - 90 AS DOUBLE) + 0.5 AS lat,
      |         CAST(event_id % 360 - 180 AS DOUBLE) + 0.5 AS lon,
      |         epoch_us(ts) AS tus
      |  FROM events WHERE user_id IS NOT NULL AND event_id IS NOT NULL),
      |ev AS (
      |  SELECT a.ts AS time_a, a.user_id AS user_a,
      |         b.ts AS time_b, b.user_id AS user_b
      |  FROM pts a JOIN pts b
      |    ON b.tus BETWEEN a.tus AND a.tus + 7200000000
      |   AND (a.tus, a.user_id, a.event_id) < (b.tus, b.user_id, b.event_id)
      |   AND a.user_id <> b.user_id
      |   AND (a.lat-b.lat)*(a.lat-b.lat) + (a.lon-b.lon)*(a.lon-b.lon) <= 64.0),
      |pairs AS (
      |  SELECT least(user_a, user_b) AS id_lo, greatest(user_a, user_b) AS id_hi,
      |         min(time_a) AS first_contact, max(time_b) AS last_contact
      |  FROM ev GROUP BY 1, 2),
      |sym AS (SELECT id_lo AS src, id_hi AS dst FROM pairs
      |        UNION ALL SELECT id_hi, id_lo FROM pairs),
      |nodes AS (SELECT DISTINCT src AS id FROM sym),
      |r(id, rid) AS (
      |  SELECT id, id FROM nodes
      |  UNION
      |  SELECT sym.src, r.rid FROM sym JOIN r ON sym.dst = r.id
      |),
      |labels AS (SELECT id, min(rid) AS label FROM r GROUP BY id),
      |walk(id, hops) AS (
      |  SELECT id, 0 FROM labels WHERE id = label
      |  UNION
      |  SELECT s.dst, w.hops + 1
      |  FROM sym s JOIN walk w ON s.src = w.id
      |  WHERE w.hops < (SELECT count(*) FROM nodes)
      |),
      |hops AS (SELECT id, CAST(min(hops) AS BIGINT) AS hops FROM walk GROUP BY id),
      |comp AS (SELECT label, CAST(count(*) AS BIGINT) AS n_members
      |         FROM labels GROUP BY label),
      |span AS (
      |  SELECT l.label, min(p.first_contact) AS first_contact,
      |         max(p.last_contact) AS last_contact
      |  FROM pairs p JOIN labels l ON l.id = p.id_lo
      |  GROUP BY l.label)
      |SELECT l.id AS user_id, l.label AS component, c.n_members, h.hops,
      |       sp.first_contact, sp.last_contact
      |FROM labels l
      |JOIN hops h ON h.id = l.id
      |JOIN comp c ON c.label = l.label
      |JOIN span sp ON sp.label = l.label
      |ORDER BY user_id""".stripMargin))

  /** [[geoExposure]] with the edge thresholds epidemiological practice
    * applies BEFORE tracing (r17 VERDICT's optional #7): an edge
    * qualifies only with REPEATED contact (n_contacts ≥ 2 — a single
    * co-location is noise at fleet scale) at CLOSE approach
    * (min_d² ≤ 32, half the contact join's R² = 64). The pair rollup
    * already carries both columns, so the filter costs a predicate on
    * the materialize-once frame — the CC + BFS machinery, hop
    * semantics, and output shape are [[exposureFrame]]'s verbatim; the
    * traced GRAPH just gets sparser (components split where their only
    * bridge was a weak edge — the reason the filtered trace is a
    * separate deliverable, not a WHERE on the unfiltered one: hop
    * counts and component labels both change). Oracle: the same
    * recursive closure + hop walk with the thresholds as a HAVING on
    * the pair rollup. */
  val geoExposureFiltered = OracleQuery(
    "ltss_geo_exposure_filtered",
    (s, d) => exposureFrame(s, d,
      edgeFilter = Some(col("n_contacts") >= 2L && col("min_d2") <= 32.0)),
    Some("""WITH RECURSIVE pts AS (
      |  SELECT user_id, ts, event_id,
      |         CAST(user_id % 180 - 90 AS DOUBLE) + 0.5 AS lat,
      |         CAST(event_id % 360 - 180 AS DOUBLE) + 0.5 AS lon,
      |         epoch_us(ts) AS tus
      |  FROM events WHERE user_id IS NOT NULL AND event_id IS NOT NULL),
      |ev AS (
      |  SELECT a.ts AS time_a, a.user_id AS user_a,
      |         b.ts AS time_b, b.user_id AS user_b,
      |         (a.lat-b.lat)*(a.lat-b.lat) + (a.lon-b.lon)*(a.lon-b.lon) AS d2
      |  FROM pts a JOIN pts b
      |    ON b.tus BETWEEN a.tus AND a.tus + 7200000000
      |   AND (a.tus, a.user_id, a.event_id) < (b.tus, b.user_id, b.event_id)
      |   AND a.user_id <> b.user_id
      |   AND (a.lat-b.lat)*(a.lat-b.lat) + (a.lon-b.lon)*(a.lon-b.lon) <= 64.0),
      |pairs AS (
      |  SELECT least(user_a, user_b) AS id_lo, greatest(user_a, user_b) AS id_hi,
      |         min(time_a) AS first_contact, max(time_b) AS last_contact
      |  FROM ev GROUP BY 1, 2
      |  HAVING count(*) >= 2 AND min(d2) <= 32.0),
      |sym AS (SELECT id_lo AS src, id_hi AS dst FROM pairs
      |        UNION ALL SELECT id_hi, id_lo FROM pairs),
      |nodes AS (SELECT DISTINCT src AS id FROM sym),
      |r(id, rid) AS (
      |  SELECT id, id FROM nodes
      |  UNION
      |  SELECT sym.src, r.rid FROM sym JOIN r ON sym.dst = r.id
      |),
      |labels AS (SELECT id, min(rid) AS label FROM r GROUP BY id),
      |walk(id, hops) AS (
      |  SELECT id, 0 FROM labels WHERE id = label
      |  UNION
      |  SELECT s.dst, w.hops + 1
      |  FROM sym s JOIN walk w ON s.src = w.id
      |  WHERE w.hops < (SELECT count(*) FROM nodes)
      |),
      |hops AS (SELECT id, CAST(min(hops) AS BIGINT) AS hops FROM walk GROUP BY id),
      |comp AS (SELECT label, CAST(count(*) AS BIGINT) AS n_members
      |         FROM labels GROUP BY label),
      |span AS (
      |  SELECT l.label, min(p.first_contact) AS first_contact,
      |         max(p.last_contact) AS last_contact
      |  FROM pairs p JOIN labels l ON l.id = p.id_lo
      |  GROUP BY l.label)
      |SELECT l.id AS user_id, l.label AS component, c.n_members, h.hops,
      |       sp.first_contact, sp.last_contact
      |FROM labels l
      |JOIN hops h ON h.id = l.id
      |JOIN comp c ON c.label = l.label
      |JOIN span sp ON sp.label = l.label
      |ORDER BY user_id""".stripMargin))

  /** CONTACT-DENSITY AUDIT panel — the forecast a deployment consults
    * BEFORE paying [[geoContacts]]: contacts and trajectory pairs are
    * output/density-driven at scale (SCALING.md r16 measured 868 M
    * contacts at the folded 100×), so the operator needs to SEE hot
    * cells first. Per (time-bucket, home cell): fix count, distinct
    * entities, the within-key all-pairs bound k·(k−1)/2, and the EXACT
    * candidate-row count the contact join would enumerate at this key
    * (early-exploded rows × late home rows — the early side's count at
    * a key is the sum of the 18 source keys' home counts, computed by
    * exploding the COUNT frame, 18 rows per KEY, never per fix). The
    * whole panel is one combinable aggregate over the bucketed fixes
    * plus a key-sized count self-join: O(fixes) scan + O(keys)
    * arithmetic — NEVER O(pairs); the emitted-contact count per cell
    * is deliberately NOT a column, because counting emissions costs
    * the very join this panel exists to forecast (it is the join
    * output's own rollup, available post-hoc from `ltss_geo_contacts`).
    * Cell/bucket derivations are [[geoContacts]]'s verbatim, so the
    * forecast prices the join actually run. */
  val geoContactCells = OracleQuery(
    "ltss_geo_contact_cells",
    (s, d) => {
      val Tus = 7200000000L
      val cell = 8.0
      val pts = Tables.events(s, d)
        .filter(col("user_id").isNotNull && col("event_id").isNotNull)
        .select(col("user_id"),
          ((col("user_id") % 180 - 90).cast("double") + 0.5).as("lat"),
          ((col("event_id") % 360 - 180).cast("double") + 0.5).as("lon"),
          unix_micros(col("ts")).as("tus"))
        .withColumn("cx", floor((col("lat") + lit(90.0)) / lit(cell)).cast("long"))
        .withColumn("cy", floor((col("lon") + lit(180.0)) / lit(cell)).cast("long"))
        .withColumn("tb", expr(s"tus div $Tus"))
      val home = pts.groupBy(col("tb"), col("cx"), col("cy"))
        .agg(count(lit(1)).as("k"), countDistinct(col("user_id")).as("nu"))
      val early = home.select(col("tb"), col("cx"), col("cy"), col("k"))
        .withColumn("dtb", explode(expr("sequence(0, 1)")))
        .withColumn("dx", explode(expr("sequence(-1, 1)")))
        .withColumn("dy", explode(expr("sequence(-1, 1)")))
        .groupBy((col("tb") + col("dtb")).as("tb"),
          (col("cx") + col("dx")).as("cx"), (col("cy") + col("dy")).as("cy"))
        .agg(sum(col("k")).as("ek"))
      home.join(early, Seq("tb", "cx", "cy"))
        .select(col("tb"), col("cx"), col("cy"),
          col("k").as("n_fixes"), col("nu").as("n_users"),
          expr("k * (k - 1) div 2").as("n_pairs_within"),
          (col("ek") * col("k")).as("n_candidates"))
        .orderBy(col("tb"), col("cx"), col("cy"))
    },
    Some("""WITH pts AS (
      |  SELECT user_id,
      |         CAST(user_id % 180 - 90 AS DOUBLE) + 0.5 AS lat,
      |         CAST(event_id % 360 - 180 AS DOUBLE) + 0.5 AS lon,
      |         epoch_us(ts) AS tus
      |  FROM events WHERE user_id IS NOT NULL AND event_id IS NOT NULL),
      |keyed AS (
      |  SELECT user_id,
      |         CAST(floor((lat + 90.0) / 8.0) AS BIGINT) AS cx,
      |         CAST(floor((lon + 180.0) / 8.0) AS BIGINT) AS cy,
      |         tus // 7200000000 AS tb
      |  FROM pts),
      |home AS (
      |  SELECT tb, cx, cy, CAST(count(*) AS BIGINT) AS k,
      |         CAST(count(DISTINCT user_id) AS BIGINT) AS nu
      |  FROM keyed GROUP BY 1, 2, 3),
      |early AS (
      |  SELECT h.tb + t.dtb AS tb, h.cx + xs.dx AS cx, h.cy + ys.dy AS cy,
      |         sum(h.k) AS ek
      |  FROM home h
      |  CROSS JOIN (VALUES (0), (1)) t(dtb)
      |  CROSS JOIN (VALUES (-1), (0), (1)) xs(dx)
      |  CROSS JOIN (VALUES (-1), (0), (1)) ys(dy)
      |  GROUP BY 1, 2, 3)
      |SELECT h.tb, h.cx, h.cy, h.k AS n_fixes, h.nu AS n_users,
      |       CAST(h.k * (h.k - 1) // 2 AS BIGINT) AS n_pairs_within,
      |       CAST(e.ek * h.k AS BIGINT) AS n_candidates
      |FROM home h JOIN early e ON e.tb = h.tb AND e.cx = h.cx AND e.cy = h.cy
      |ORDER BY h.tb, h.cx, h.cy""".stripMargin))

  /** The literal test polygon for [[geoPolygon]] — NON-convex (the
    * (15,18) vertex dents inward, so convex-hull shortcuts would get it
    * wrong) with no horizontal edge (a horizontal edge never crosses a
    * horizontal ray and its slope division is 0/0 — excluding them at
    * CONSTRUCTION keeps the crossing arithmetic NaN-free by design).
    * Vertices are (lon, lat) on the integer lattice while every fixture
    * point sits at half-integer coordinates, so "exactly on an edge
    * endpoint" cannot occur. */
  val PolygonVerts: Seq[(Double, Double)] =
    Seq((0.0, 0.0), (40.0, 10.0), (15.0, 18.0), (30.0, 40.0), (-10.0, 25.0))

  private def polygonEdges: Seq[(Double, Double, Double, Double)] =
    (PolygonVerts :+ PolygonVerts.head).sliding(2).collect {
      case Seq((x1, y1), (x2, y2)) if y1 != y2 => (x1, y1, x2, y2)
    }.toSeq

  /** Point-in-polygon containment (the PostGIS `ST_Within(point, poly)`
    * analog, closing part of SURVEY §7.4's polygon cut): the standard
    * even-odd ray cast — a point is inside iff a horizontal ray crosses
    * an odd number of edges. Because the polygon is a LITERAL, the
    * crossing count compiles to a per-row sum of one CASE per edge —
    * NO join, NO shuffle, a pure codegen scan→project→filter that is
    * embarrassingly parallel at any scale (the polygon rides along as
    * a constant, the way real geo engines broadcast geometry). Parity:
    * each crossing test is integer-exact up to one IEEE multiply +
    * divide on identical inputs ((x2−x1)·(lat−y1)/(y2−y1), both engines
    * evaluate the identical expression tree), and the even-odd rule
    * consumes only the resulting booleans. */
  val geoPolygon = OracleQuery(
    "ltss_geo_polygon",
    (s, d) => {
      val lat = col("lat")
      val lon = col("lon")
      val crossings = polygonEdges.map { case (x1, y1, x2, y2) =>
        when(
          (lit(y1) > lat) =!= (lit(y2) > lat) &&
            lon < (lit(x2) - lit(x1)) * (lat - lit(y1)) / (lit(y2) - lit(y1)) + lit(x1),
          1).otherwise(0)
      }.reduceLeft(_ + _)
      Tables.events(s, d)
        .filter(col("user_id").isNotNull && col("event_id").isNotNull)
        .withColumn("lat", (col("user_id") % 180 - 90).cast("double") + 0.5)
        .withColumn("lon", (col("event_id") % 360 - 180).cast("double") + 0.5)
        .withColumn("crossings", crossings)
        .filter(col("crossings") % 2 === 1)
        .select(col("event_id"), col("lat"), col("lon"))
        .orderBy(col("event_id"))
    },
    Some {
      val crossings = polygonEdges.map { case (x1, y1, x2, y2) =>
        s"""CASE WHEN ($y1 > lat) <> ($y2 > lat)
           |             AND lon < ($x2 - $x1) * (lat - $y1) / ($y2 - $y1) + $x1
           |        THEN 1 ELSE 0 END""".stripMargin
      }.mkString("\n      |     + ")
      s"""SELECT event_id, lat, lon FROM (
        |  SELECT event_id, lat, lon,
        |     $crossings AS crossings
        |  FROM (SELECT event_id,
        |               CAST(user_id % 180 - 90 AS DOUBLE) + 0.5 AS lat,
        |               CAST(event_id % 360 - 180 AS DOUBLE) + 0.5 AS lon
        |        FROM events
        |        WHERE user_id IS NOT NULL AND event_id IS NOT NULL))
        |WHERE crossings % 2 = 1
        |ORDER BY event_id""".stripMargin
    })

  /** The stored-zone fixture set (SHARED DATA between both engines, the
    * [[PolygonVerts]] convention): rings on the half-integer lattice,
    * zones 1 and 3 OVERLAPPING so multi-containment rows exist, and —
    * since r15 relaxed the write gate — zone 4 an AXIS-ALIGNED
    * RECTANGLE (the most common real zone) whose TOP edge sits at the
    * HALF-INTEGER latitude 10.5, so fixture points (always at
    * half-integer lats) land EXACTLY on a horizontal edge's latitude:
    * the degenerate case the straddle short-circuit must decide
    * deterministically (strict `>` excludes the top edge, includes the
    * bottom — the textbook half-open rule, identical in both engines).
    * Vertices are (x = lon, y = lat) in ring order. */
  val ZoneDefs: Seq[(Long, String, Seq[(Double, Double)])] = Seq(
    (1L, "atlantic", Seq((-60.0, -40.0), (20.0, -35.0), (25.0, 40.0),
      (-20.0, 45.0), (-65.0, 10.0))),
    (2L, "southern", Seq((-170.0, -85.0), (170.0, -80.0), (160.0, -50.0),
      (-150.0, -55.0), (-175.0, -70.0))),
    (3L, "equatorial_overlap", Seq((0.0, -10.0), (50.0, -5.0), (45.0, 30.0),
      (5.0, 25.0))),
    (4L, "rect_box", Seq((-30.0, 10.5), (10.0, 10.5), (10.0, -20.0),
      (-30.0, -20.0))))

  /** The stored-zone layout ([[graft.sources.LtssSink.writeZoneLayout]]),
    * materialized once per dataset. */
  def zoneLayoutPath(s: SparkSession, d: String): String =
    graft.ScratchDirs.materializedPath("geo_zone_layout", d) { p =>
      import s.implicits._
      val df = ZoneDefs.toDF("zone_id", "name", "verts")
        .withColumn("verts", expr("transform(verts, v -> struct(v._1 AS x, v._2 AS y))"))
      graft.sources.LtssSink.writeZoneLayout(df, p)
    }

  /** A deliberately REFLEX zone fixture set — its own layout, so the
    * shared convex [[ZoneDefs]] (whose containment/dwell/OD outputs
    * are hand-pinned across many specs) stays untouched: an L (one
    * reflex vertex), a U-notch (two reflex vertices, so the L∩U pair
    * is concave×concave and the true intersection region of the
    * U∩mid-box pair is the notch-subtracted band), a convex mid box
    * overlapping both (a reflex-CLIP × convex-subject pair), an inner
    * box fully inside the L's lower arm (containment through the fan
    * path), and the mid box EDGE-TOUCHING the inner box (a surviving
    * bbox pair whose true area is 0). All vertices on the integer
    * lattice; hand areas: L=400, U=470 (600 − 130 notch),
    * L∩U=150, L∩mid=116, L∩inner=36, U∩mid=250, U∩inner=9,
    * mid∩inner=0 — spec-pinned to 1e-9 (the fan's divided
    * intersection coordinates are non-dyadic rationals). */
  val ZoneDefsConcave: Seq[(Long, String, Seq[(Double, Double)])] = Seq(
    (1L, "l_shape", Seq((0.0, 0.0), (20.0, 0.0), (20.0, 10.0), (10.0, 10.0),
      (10.0, 30.0), (0.0, 30.0))),
    (2L, "u_notch", Seq((5.0, 5.0), (35.0, 5.0), (35.0, 25.0), (25.0, 25.0),
      (25.0, 12.0), (15.0, 12.0), (15.0, 25.0), (5.0, 25.0))),
    (3L, "mid_box", Seq((8.0, 2.0), (30.0, 2.0), (30.0, 20.0), (8.0, 20.0))),
    (4L, "inner_box", Seq((2.0, 2.0), (8.0, 2.0), (8.0, 8.0), (2.0, 8.0))))

  /** The concave-zone layout, materialized once per dataset like
    * [[zoneLayoutPath]]. */
  def zoneLayoutConcavePath(s: SparkSession, d: String): String =
    graft.ScratchDirs.materializedPath("geo_zone_layout_concave", d) { p =>
      import s.implicits._
      val df = ZoneDefsConcave.toDF("zone_id", "name", "verts")
        .withColumn("verts", expr("transform(verts, v -> struct(v._1 AS x, v._2 AS y))"))
      graft.sources.LtssSink.writeZoneLayout(df, p)
    }

  /** MULTI-GEOFENCE spatial join — `ST_Within(point, zone.geom)` against
    * a TABLE of stored polygons (closing §7.4's polygon-STORAGE cut;
    * [[geoPolygon]] is the single-LITERAL form): which zones contain
    * each entity's latest fix. The plan is the canonical dimension
    * spatial join at any scale — zones BROADCAST (a deployment has
    * thousands of zones, not billions), the bbox columns materialized
    * at write time prune candidates BEFORE any exact test (the
    * prune-then-exact contract of `HaversineBoxRule`; the bbox is a
    * strict superset of its ring, so the prune cannot change the
    * answer), and the even-odd ray cast runs as an `aggregate` over
    * the ring array per surviving (point, zone) pair — map-side, no
    * shuffle beyond the latest-fix window. Each crossing test NESTS
    * under the straddle gate (explicit `when`/CASE short-circuit —
    * [[geoPolygon]]'s flat form is equivalent only because its literal
    * ring drops horizontal edges at construction; stored zones accept
    * them, so the nesting is load-bearing here); the oracle
    * deliberately SKIPS the bbox prune and ray-casts every (point,
    * zone) pair from unrolled vertex VALUES with the same CASE
    * nesting, so the two sides agree the prune is semantics-free, not
    * just fast. */
  /** The (zone, latest fix) containment frame shared by [[geoZones]]
    * (which presents it) and [[zonesOverlap]] (which pairs it):
    * broadcast zones, bbox prune, then the exact nested-gate ray cast. */
  /** Even-odd ring crossings of the row's `verts` array against the
    * point (`lat`, `lon`) — the stored-zone ray cast shared by every
    * zone-containment consumer. The straddle gate NESTS the crossing
    * test (explicit CASE short-circuit): a horizontal edge fails the
    * gate for every ray, so its 0/0 slope is never evaluated —
    * axis-aligned zones (zone 4) are first-class, not banned at
    * write. */
  private def ringCrossings(lat: Column, lon: Column): Column = {
    val nxt = concat(expr("slice(verts, 2, size(verts) - 1)"),
      expr("slice(verts, 1, 1)"))
    aggregate(
      zip_with(col("verts"), nxt, (a, b) =>
        when((a("y") > lat) =!= (b("y") > lat),
          when(lon < (b("x") - a("x")) * (lat - a("y")) /
            (b("y") - a("y")) + a("x"), 1).otherwise(0)).otherwise(0)),
      lit(0), (acc, x) => acc + x)
  }

  private[graft] def zoneLatestHits(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    val fixes = Tables.events(s, d)
      .filter(col("user_id").isNotNull && col("event_id").isNotNull)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .withColumn("lat", (col("user_id") % 180 - 90).cast("double") + 0.5)
      .withColumn("lon", (col("event_id") % 360 - 180).cast("double") + 0.5)
      .select(col("user_id"), col("lat"), col("lon"))
    // bound: the zone dimension (writeZoneLayout's contract: thousands of zones, not rows)
    val zones = broadcast(s.read.parquet(zoneLayoutPath(s, d)))
    val crossings = ringCrossings(col("lat"), col("lon"))
    fixes.join(zones,
        col("lat") >= col("lat_min") && col("lat") <= col("lat_max") &&
          col("lon") >= col("lon_min") && col("lon") <= col("lon_max"))
      .withColumn("crossings", crossings)
      .filter(col("crossings") % 2 === 1)
      .select(col("zone_id"), col("name"), col("user_id"),
        col("lat"), col("lon"))
  }

  /** The latest-fix→zones containment CTE chain shared by the
    * [[geoZones]] and [[zonesOverlap]] oracles — SHARED DATA/semantics
    * the [[staypointVisitsSql]] way; each consumer remains a different
    * construction than the Spark side it checks (no bbox prune here:
    * every (point, zone) pair ray-casts from the VALUES rows). */
  private def zoneLatestHitsSql: String =
    s"""latest AS (
      |  SELECT user_id, event_id FROM (
      |    SELECT user_id, event_id,
      |           row_number() OVER (PARTITION BY user_id
      |                              ORDER BY ts DESC, event_id DESC) AS rn
      |    FROM events WHERE user_id IS NOT NULL AND event_id IS NOT NULL)
      |  WHERE rn = 1
      |), pts AS (
      |  SELECT user_id,
      |         CAST(user_id % 180 - 90 AS DOUBLE) + 0.5 AS lat,
      |         CAST(event_id % 360 - 180 AS DOUBLE) + 0.5 AS lon
      |  FROM latest
      |), zv(zone_id, name, idx, x, y) AS (VALUES
      |  $zoneVertsValues
      |), $zoneEdgesCte, hits AS (
      |  SELECT p.user_id, e.zone_id, e.name, p.lat, p.lon,
      |         sum(CASE WHEN (e.y1 > p.lat) <> (e.y2 > p.lat)
      |             THEN CASE WHEN p.lon < (e.x2 - e.x1) * (p.lat - e.y1)
      |                                    / (e.y2 - e.y1) + e.x1
      |                  THEN 1 ELSE 0 END
      |             ELSE 0 END) AS crossings
      |  FROM pts p CROSS JOIN edges e
      |  GROUP BY p.user_id, e.zone_id, e.name, p.lat, p.lon
      |)""".stripMargin

  val geoZones = OracleQuery(
    "ltss_geo_zones",
    (s, d) => zoneLatestHits(s, d).orderBy(col("zone_id"), col("user_id")),
    Some(s"""WITH $zoneLatestHitsSql
      |SELECT zone_id, name, user_id, lat, lon
      |FROM hits WHERE crossings % 2 = 1
      |ORDER BY zone_id, user_id""".stripMargin))

  /** ZONE OVERLAP audit — which stored zones share population: for each
    * zone pair, how many entities' LATEST fixes sit inside BOTH (the
    * `ST_Intersects`-by-evidence panel a deployment runs to find
    * redundant or nested geofences). One self-join of the containment
    * frame on the entity key (zone_a < zone_b for the unordered pair) +
    * one combinable count — the frame is (entities × containing zones),
    * already tiny; no polygon–polygon geometry is computed, so the
    * audit is exact and scale-free where a clipping-based intersection
    * area would be neither. */
  val zonesOverlap = OracleQuery(
    "ltss_geo_zones_overlap",
    (s, d) => {
      val h = zoneLatestHits(s, d).select(col("zone_id"), col("user_id"))
      h.as("a").join(h.as("b"),
          col("a.user_id") === col("b.user_id") &&
            col("a.zone_id") < col("b.zone_id"))
        .groupBy(col("a.zone_id").as("zone_a"), col("b.zone_id").as("zone_b"))
        .agg(count(lit(1)).as("n_shared"))
        .orderBy(col("zone_a"), col("zone_b"))
    },
    Some(s"""WITH $zoneLatestHitsSql, inz AS (
      |  SELECT zone_id, user_id FROM hits WHERE crossings % 2 = 1
      |)
      |SELECT CAST(a.zone_id AS BIGINT) AS zone_a,
      |       CAST(b.zone_id AS BIGINT) AS zone_b,
      |       CAST(count(*) AS BIGINT) AS n_shared
      |FROM inz a JOIN inz b
      |  ON a.user_id = b.user_id AND a.zone_id < b.zone_id
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin))

  /** ZONE CENTROID (`ST_Centroid` over the stored polygons) — the
    * label-anchor/navigation point every zone consumer eventually asks
    * for, computed by the closed-form polygon centroid: cx = Σ(x1+x2)·c
    * / (3·Σc), cy likewise, with c the per-edge cross product. Every
    * SUM is exact on the fixture lattice (eighth-integer granularity),
    * so the two closing divisions are the only IEEE ops and both
    * engines produce identical bits. The `inside_own_ring` flag ray-
    * casts the centroid against its own ring — a CONSISTENCY CHECK
    * between two independent kernels (the signed-area centroid and the
    * even-odd crossing test), and a real datum: a concave zone's
    * centroid can land outside. Map-side over the broadcast-sized
    * dimension, like [[zoneStats]]. */
  private def zoneCentroidQuery(
      qname: String,
      layout: (SparkSession, String) => String,
      vertsValues: => String): OracleQuery = OracleQuery(
    qname,
    (s, d) => {
      val zones = s.read.parquet(layout(s, d))
      val nxt = concat(expr("slice(verts, 2, size(verts) - 1)"),
        expr("slice(verts, 1, 1)"))
      def crossTerm(a: Column, b: Column): Column =
        a("x") * b("y") - b("x") * a("y")
      def sumOf(f: (Column, Column) => Column): Column = aggregate(
        zip_with(col("verts"), nxt, f), lit(0.0), (acc, x) => acc + x)
      val withC = zones
        .withColumn("a2", sumOf(crossTerm))
        .withColumn("cx",
          sumOf((a, b) => (a("x") + b("x")) * crossTerm(a, b)) /
            (lit(3.0) * col("a2")))
        .withColumn("cy",
          sumOf((a, b) => (a("y") + b("y")) * crossTerm(a, b)) /
            (lit(3.0) * col("a2")))
      val crossings = aggregate(
        zip_with(col("verts"), nxt, (a, b) =>
          when((a("y") > col("cy")) =!= (b("y") > col("cy")),
            when(col("cx") < (b("x") - a("x")) * (col("cy") - a("y")) /
              (b("y") - a("y")) + a("x"), 1).otherwise(0)).otherwise(0)),
        lit(0), (acc, x) => acc + x)
      withC
        .withColumn("inside_own_ring", (crossings % 2).cast("int"))
        .select(col("zone_id"), col("name"), col("cx"), col("cy"),
          col("inside_own_ring"))
        .orderBy(col("zone_id"))
    },
    Some(s"""WITH zv(zone_id, name, idx, x, y) AS (VALUES
      |  $vertsValues
      |), $zoneEdgesCte, cent AS (
      |  SELECT zone_id, name,
      |         sum((x1 + x2) * (x1 * y2 - x2 * y1))
      |           / (3.0 * sum(x1 * y2 - x2 * y1)) AS cx,
      |         sum((y1 + y2) * (x1 * y2 - x2 * y1))
      |           / (3.0 * sum(x1 * y2 - x2 * y1)) AS cy
      |  FROM edges GROUP BY zone_id, name
      |)
      |SELECT c.zone_id, c.name, c.cx, c.cy,
      |       CAST(sum(CASE WHEN (e.y1 > c.cy) <> (e.y2 > c.cy)
      |            THEN CASE WHEN c.cx < (e.x2 - e.x1) * (c.cy - e.y1)
      |                                   / (e.y2 - e.y1) + e.x1
      |                 THEN 1 ELSE 0 END
      |            ELSE 0 END) % 2 AS INT) AS inside_own_ring
      |FROM cent c JOIN edges e ON e.zone_id = c.zone_id
      |GROUP BY c.zone_id, c.name, c.cx, c.cy
      |ORDER BY c.zone_id""".stripMargin))

  val zoneCentroid: OracleQuery =
    zoneCentroidQuery("ltss_geo_zone_centroid", zoneLayoutPath, zoneVertsValues)

  /** [[zoneCentroid]] over the REFLEX fixture layout — the query where
    * the `inside_own_ring` consistency flag earns its keep: a CONVEX
    * polygon's centroid is always inside (the convex fixture can never
    * exercise the 0 branch), but the U-notch zone's centroid lands
    * INSIDE ITS OWN NOTCH — outside the ring (cy = 6595/470 ≈ 14.03,
    * within the notch's [15, 25] × [12, 25] (x × y)) — so this fixture
    * pins
    * the flag's 0 branch end to end in both engines. */
  val zoneCentroidConcave: OracleQuery =
    zoneCentroidQuery("ltss_geo_zone_centroid_concave",
      zoneLayoutConcavePath, zoneVertsValuesOf(ZoneDefsConcave))

  /** Intersection AREA of two rings (planar degree²) — the
    * `ST_Area(ST_Intersection(a, b))` kernel. The clip ring is
    * normalized CCW by its exact shoelace sign; a CONVEX clip takes
    * ONE Sutherland–Hodgman pass (the r16 path, bit-unchanged), and a
    * REFLEX clip (r17, closing the convexity-REQUIRED cut) decomposes
    * into its SIGNED FAN from vertex 0 — the generalized-shoelace
    * identity χ_P = Σᵢ sign(Tᵢ)·χ_{Tᵢ} for Tᵢ = (v₀, vᵢ, vᵢ₊₁) holds
    * a.e. for ANY simple ring, so area(S ∩ P) = Σᵢ signᵢ·area(S ∩ Tᵢ)
    * with each triangle a convex S–H clip (CCW-oriented; negative
    * triangles clip the reversed ring and subtract). The subject may
    * be any simple ring in either branch (S–H's zero-width bridge
    * edges cancel in the shoelace). Arithmetic discipline: every
    * operand chain is the IDENTICAL IEEE expression tree the DuckDB
    * oracle evaluates (the ray-cast precedent — divided intersection
    * coordinates feed later crossings in both engines alike), the
    * shoelace folds left-associatively in ring order, the signed fan
    * folds in triangle order with a closing `+ 0.0` (normalizing a
    * possible −0.0 from an empty negative triangle), and the single
    * closing `/ 2.0` is correctly rounded — bit-stable cross-engine.
    * Exposed for the closed-form and sampling adversary specs. */
  private[graft] def clipIntersectionArea(
      subject: IndexedSeq[(Double, Double)],
      clip: IndexedSeq[(Double, Double)]): Double = {
    val ring = if (shoelaceSum(clip) > 0) clip else clip.reverse
    val m = ring.length
    var convex = true
    var c = 0
    while (c < m) {
      val (ax, ay) = ring(c)
      val (bx, by) = ring((c + 1) % m)
      val (cx, cy) = ring((c + 2) % m)
      if ((bx - ax) * (cy - ay) - (by - ay) * (cx - ax) < 0) convex = false
      c += 1
    }
    if (convex) shPassArea(subject, ring)
    else {
      val (x0, y0) = ring(0)
      var acc = 0.0
      var i = 1
      while (i < m - 1) {
        val (xi, yi) = ring(i)
        val (xj, yj) = ring(i + 1)
        val cr = (xi - x0) * (yj - y0) - (yi - y0) * (xj - x0)
        if (cr > 0)
          acc = acc + shPassArea(subject, Vector((x0, y0), (xi, yi), (xj, yj)))
        else if (cr < 0)
          acc = acc - shPassArea(subject, Vector((x0, y0), (xj, yj), (xi, yi)))
        i += 1
      }
      acc + 0.0
    }
  }

  /** Left-associative shoelace fold in ring order — shared by the S–H
    * pass and the clip normalization, one IEEE tree cross-engine. */
  private[graft] def shoelaceSum(p: IndexedSeq[(Double, Double)]): Double = {
    var s = 0.0
    var i = 0
    val n = p.length
    while (i < n) {
      val (x1, y1) = p(i)
      val (x2, y2) = p((i + 1) % n)
      s = s + (x1 * y2 - x2 * y1)
      i += 1
    }
    s
  }

  /** One Sutherland–Hodgman pass of `subject` against a CCW CONVEX
    * `ring`, returning abs(shoelace)/2 of the output chain. */
  private def shPassArea(
      subject: IndexedSeq[(Double, Double)],
      ring: IndexedSeq[(Double, Double)]): Double = {
    val m = ring.length
    var out = subject
    var e = 0
    while (e < m && out.nonEmpty) {
      val (ax, ay) = ring(e)
      val (bx, by) = ring((e + 1) % m)
      val inp = out
      val n = inp.length
      val buf = Vector.newBuilder[(Double, Double)]
      var i = 0
      while (i < n) {
        val (px, py) = inp(i)
        val (qx, qy) = inp((i + 1) % n)
        val pin = (bx - ax) * (py - ay) - (by - ay) * (px - ax) >= 0.0
        val qin = (bx - ax) * (qy - ay) - (by - ay) * (qx - ax) >= 0.0
        def cross(): (Double, Double) = {
          val c1 = px * qy - py * qx
          val c2 = ax * by - ay * bx
          val dd = (px - qx) * (ay - by) - (py - qy) * (ax - bx)
          ((c1 * (ax - bx) - (px - qx) * c2) / dd,
            (c1 * (ay - by) - (py - qy) * c2) / dd)
        }
        if (pin && qin) buf += ((qx, qy))
        else if (pin && !qin) buf += cross()
        else if (!pin && qin) { buf += cross(); buf += ((qx, qy)) }
        i += 1
      }
      out = buf.result()
      e += 1
    }
    if (out.length < 3) 0.0 else math.abs(shoelaceSum(out)) / 2.0
  }

  /** EXACT ZONE-PAIR INTERSECTION AREA — the true
    * `ST_Area(ST_Intersection)` analog over the stored zone dimension
    * ([[zonesOverlap]] finds shared POPULATION by evidence; this
    * computes the geometric overlap itself, the number a coverage
    * planner wants). Pairs come from the materialized bbox columns
    * (SARGABLE prune — only rings whose boxes meet are clipped), each
    * survivor clipped by ONE [[clipIntersectionArea]] pass:
    * dimension-sized work end to end (thousands of zones, a handful
    * of box-overlapping pairs — never data-sized), broadcast-joined
    * like every zone consumer. A fully-contained ring reports its own
    * area (zone 4 inside zone 1 → exactly 1220.0, spec-pinned);
    * disjoint-but-box-touching pairs report 0. r17: a REFLEX clip
    * ring no longer refuses — [[clipIntersectionArea]]'s signed-fan
    * decomposition handles any simple ring (exercised end-to-end by
    * the concave sibling `ltss_geo_zones_intersect_concave`, whose
    * fixture set is deliberately reflex). Oracle: the SAME clip
    * replayed in SQL — each clip piece (the whole ring when convex,
    * the signed fan triangles when reflex) advances one clip edge per
    * recursive-CTE step, carrying the subject polygon as coordinate
    * lists rebuilt by a flatten/list_transform comprehension with the
    * identical IEEE trees, over the unrolled vertex VALUES (never the
    * layout). Adversaries: the rectangle-overlap closed form (exact)
    * and brute-force point sampling (tolerance), both spec-pinned. */
  val zonesIntersect = OracleQuery(
    "ltss_geo_zones_intersect",
    (s, d) => {
      import s.implicits._
      val z = s.read.parquet(zoneLayoutPath(s, d))
      val a = z.select(col("zone_id").as("zone_a"), col("name").as("name_a"),
        col("verts").as("va"), col("lat_min").as("ay0"), col("lat_max").as("ay1"),
        col("lon_min").as("ax0"), col("lon_max").as("ax1"))
      val b = z.select(col("zone_id").as("zone_b"), col("name").as("name_b"),
        col("verts").as("vb"), col("lat_min").as("by0"), col("lat_max").as("by1"),
        col("lon_min").as("bx0"), col("lon_max").as("bx1"))
      a.join(b, col("zone_a") < col("zone_b")
          && col("ax0") <= col("bx1") && col("bx0") <= col("ax1")
          && col("ay0") <= col("by1") && col("by0") <= col("ay1"))
        .select(col("zone_a"), col("name_a"), col("zone_b"), col("name_b"),
          col("va"), col("vb"))
        .as[(Long, String, Long, String, Seq[ZoneVert], Seq[ZoneVert])]
        .map { case (za, na, zb, nb, va, vb) =>
          (za, na, zb, nb, clipIntersectionArea(
            vb.map(v => (v.x, v.y)).toIndexedSeq,
            va.map(v => (v.x, v.y)).toIndexedSeq))
        }
        .toDF("zone_a", "name_a", "zone_b", "name_b", "area_deg2")
        .orderBy(col("zone_a"), col("zone_b"))
    },
    Some(zonesIntersectOracleSql(zoneVertsValues)))

  /** [[zonesIntersect]] over the REFLEX fixture layout — the query
    * that exercises the signed-fan branch end to end (plan, layout
    * read, bbox prune, kernel, oracle): every clip ring here except
    * the boxes is concave, including a concave×concave pair and a
    * containment resolved entirely through fan triangles. Identical
    * plan shape and oracle construction to the convex sibling —
    * dimension-sized, broadcast, SARGABLE bbox prune. */
  val zonesIntersectConcave = OracleQuery(
    "ltss_geo_zones_intersect_concave",
    (s, d) => {
      import s.implicits._
      val z = s.read.parquet(zoneLayoutConcavePath(s, d))
      val a = z.select(col("zone_id").as("zone_a"), col("name").as("name_a"),
        col("verts").as("va"), col("lat_min").as("ay0"), col("lat_max").as("ay1"),
        col("lon_min").as("ax0"), col("lon_max").as("ax1"))
      val b = z.select(col("zone_id").as("zone_b"), col("name").as("name_b"),
        col("verts").as("vb"), col("lat_min").as("by0"), col("lat_max").as("by1"),
        col("lon_min").as("bx0"), col("lon_max").as("bx1"))
      a.join(b, col("zone_a") < col("zone_b")
          && col("ax0") <= col("bx1") && col("bx0") <= col("ax1")
          && col("ay0") <= col("by1") && col("by0") <= col("ay1"))
        .select(col("zone_a"), col("name_a"), col("zone_b"), col("name_b"),
          col("va"), col("vb"))
        .as[(Long, String, Long, String, Seq[ZoneVert], Seq[ZoneVert])]
        .map { case (za, na, zb, nb, va, vb) =>
          (za, na, zb, nb, clipIntersectionArea(
            vb.map(v => (v.x, v.y)).toIndexedSeq,
            va.map(v => (v.x, v.y)).toIndexedSeq))
        }
        .toDF("zone_a", "name_a", "zone_b", "name_b", "area_deg2")
        .orderBy(col("zone_a"), col("zone_b"))
    },
    Some(zonesIntersectOracleSql(zoneVertsValuesOf(ZoneDefsConcave))))

  /** The zone-pair intersection ORACLE, shared by the convex and
    * concave fixture queries — parameterized only by the unrolled
    * vertex VALUES. Mirrors [[clipIntersectionArea]] branch for
    * branch: a `pieces` stage expands each box-surviving pair into
    * its clip pieces (the whole CCW ring when convex — sign 1.0 — or
    * the signed fan triangles from vertex 1 when reflex, zero-area
    * fan triangles skipped), the recursive `walk` advances one clip
    * edge of the PIECE per step with the kernel's IEEE trees
    * verbatim, and per pair the signed piece areas fold in triangle
    * order with the closing `+ 0.0` the kernel applies. */
  private def zonesIntersectOracleSql(vertsValues: String): String = {
    // the clip step's comprehension body: vertex i's successor is
    // i % len + 1 (ring wrap); inside flags and the two-line
    // determinant intersection are the kernel's IEEE trees verbatim
    val pin = "(bx - ax) * (ys[i] - ay) - (by - ay) * (xs[i] - ax) >= 0.0"
    val qin = "(bx - ax) * (ys[i % len(ys) + 1] - ay) " +
      "- (by - ay) * (xs[i % len(xs) + 1] - ax) >= 0.0"
    val ix = "((xs[i] * ys[i % len(ys) + 1] - ys[i] * xs[i % len(xs) + 1]) * (ax - bx) " +
      "- (xs[i] - xs[i % len(xs) + 1]) * (ax * by - ay * bx)) " +
      "/ ((xs[i] - xs[i % len(xs) + 1]) * (ay - by) " +
      "- (ys[i] - ys[i % len(ys) + 1]) * (ax - bx))"
    val iy = "((xs[i] * ys[i % len(ys) + 1] - ys[i] * xs[i % len(xs) + 1]) * (ay - by) " +
      "- (ys[i] - ys[i % len(ys) + 1]) * (ax * by - ay * bx)) " +
      "/ ((xs[i] - xs[i % len(xs) + 1]) * (ay - by) " +
      "- (ys[i] - ys[i % len(ys) + 1]) * (ax - bx))"
    s"""WITH RECURSIVE zv(zone_id, name, idx, x, y) AS (VALUES
      |  $vertsValues
      |),
      |rings AS (
      |  SELECT zone_id, name, count(*) AS n,
      |         list(CAST(x AS DOUBLE) ORDER BY idx) AS xs,
      |         list(CAST(y AS DOUBLE) ORDER BY idx) AS ys,
      |         min(x) AS x0, max(x) AS x1, min(y) AS y0, max(y) AS y1
      |  FROM zv GROUP BY zone_id, name
      |),
      |ccw AS (
      |  SELECT zone_id, name, n, x0, x1, y0, y1,
      |         CASE WHEN sl > 0 THEN xs ELSE list_reverse(xs) END AS xs,
      |         CASE WHEN sl > 0 THEN ys ELSE list_reverse(ys) END AS ys
      |  FROM (
      |    SELECT *, list_reduce(list_transform(range(1, n + 1), i ->
      |        xs[i] * ys[i % n + 1] - xs[i % n + 1] * ys[i]),
      |      (a, b) -> a + b) AS sl
      |    FROM rings)
      |),
      |pairs AS (
      |  SELECT a.zone_id AS zone_a, a.name AS name_a,
      |         b.zone_id AS zone_b, b.name AS name_b,
      |         a.xs AS cxs, a.ys AS cys, a.n AS cn,
      |         list_reduce(list_transform(range(1, a.n + 1), i ->
      |           CASE WHEN (a.xs[i % a.n + 1] - a.xs[i])
      |                       * (a.ys[(i % a.n + 1) % a.n + 1] - a.ys[i])
      |                   - (a.ys[i % a.n + 1] - a.ys[i])
      |                       * (a.xs[(i % a.n + 1) % a.n + 1] - a.xs[i]) >= 0
      |                THEN 1 ELSE 0 END),
      |           (s, t) -> s * t) = 1 AS convex,
      |         b.xs AS sxs, b.ys AS sys
      |  FROM ccw a JOIN rings b ON a.zone_id < b.zone_id
      |   AND a.x0 <= b.x1 AND b.x0 <= a.x1 AND a.y0 <= b.y1 AND b.y0 <= a.y1
      |),
      |pieces AS (
      |  SELECT zone_a, name_a, zone_b, name_b, 0 AS t, 1.0 AS sgn,
      |         cxs AS pxs, cys AS pys, cn AS pcn, sxs, sys
      |  FROM pairs WHERE convex
      |  UNION ALL
      |  SELECT zone_a, name_a, zone_b, name_b, t,
      |         CASE WHEN cr > 0 THEN 1.0 ELSE -1.0 END AS sgn,
      |         CASE WHEN cr > 0 THEN [cxs[1], cxs[t + 1], cxs[t + 2]]
      |              ELSE [cxs[1], cxs[t + 2], cxs[t + 1]] END AS pxs,
      |         CASE WHEN cr > 0 THEN [cys[1], cys[t + 1], cys[t + 2]]
      |              ELSE [cys[1], cys[t + 2], cys[t + 1]] END AS pys,
      |         3 AS pcn, sxs, sys
      |  FROM (
      |    SELECT *, (cxs[t + 1] - cxs[1]) * (cys[t + 2] - cys[1])
      |            - (cys[t + 1] - cys[1]) * (cxs[t + 2] - cxs[1]) AS cr
      |    FROM (SELECT *, unnest(range(1, cn - 1)) AS t
      |          FROM pairs WHERE NOT convex))
      |  WHERE cr <> 0
      |),
      |walk(zone_a, name_a, zone_b, name_b, t, sgn, pxs, pys, pcn, e, xs, ys) AS (
      |  SELECT zone_a, name_a, zone_b, name_b, t, sgn, pxs, pys, pcn, 0, sxs, sys
      |  FROM pieces
      |  UNION ALL
      |  SELECT zone_a, name_a, zone_b, name_b, t, sgn, pxs, pys, pcn, e + 1,
      |         list_transform(pts, p -> p.px), list_transform(pts, p -> p.py)
      |  FROM (
      |    SELECT *, flatten(list_transform(range(1, len(xs) + 1), i ->
      |      CASE
      |        WHEN $pin AND $qin
      |        THEN [{'px': xs[i % len(xs) + 1], 'py': ys[i % len(ys) + 1]}]
      |        WHEN $pin
      |        THEN [{'px': $ix, 'py': $iy}]
      |        WHEN $qin
      |        THEN [{'px': $ix, 'py': $iy},
      |              {'px': xs[i % len(xs) + 1], 'py': ys[i % len(ys) + 1]}]
      |        ELSE CAST([] AS STRUCT(px DOUBLE, py DOUBLE)[])
      |      END)) AS pts
      |    FROM (
      |      SELECT *, pxs[e + 1] AS ax, pys[e + 1] AS ay,
      |             pxs[(e + 1) % pcn + 1] AS bx, pys[(e + 1) % pcn + 1] AS by
      |      FROM walk WHERE e < pcn AND len(xs) > 0)
      |  )
      |),
      |done AS (
      |  SELECT zone_a, name_a, zone_b, name_b, t, sgn, xs, ys, len(xs) AS n
      |  FROM walk WHERE e = pcn OR (len(xs) = 0 AND e < pcn)
      |),
      |areas AS (
      |  SELECT zone_a, name_a, zone_b, name_b, t,
      |    sgn * (CASE WHEN n < 3 THEN 0.0 ELSE abs(list_reduce(
      |      list_transform(range(1, n + 1), i ->
      |        xs[i] * ys[i % n + 1] - xs[i % n + 1] * ys[i]),
      |      (a, b) -> a + b)) / 2.0 END) AS sa
      |  FROM done
      |)
      |SELECT zone_a, name_a, zone_b, name_b,
      |       list_reduce(list(sa ORDER BY t), (a, b) -> a + b) + 0.0 AS area_deg2
      |FROM areas
      |GROUP BY zone_a, name_a, zone_b, name_b
      |ORDER BY zone_a, zone_b""".stripMargin
  }

  /** The [[ZoneDefs]] rings as unrolled SQL VALUES rows — SHARED DATA
    * between both engines for every stored-zone oracle (the
    * [[PolygonVerts]] convention); each consumer remains a different
    * CONSTRUCTION than the Spark side it checks. */
  private def zoneVertsValues: String = zoneVertsValuesOf(ZoneDefs)

  private def zoneVertsValuesOf(
      defs: Seq[(Long, String, Seq[(Double, Double)])]): String =
    defs.flatMap { case (id, nm, vs) =>
      vs.zipWithIndex.map { case ((x, y), i) => s"($id, '$nm', $i, $x, $y)" }
    }.mkString(",\n      |  ")

  /** The ring→edges CTE shared by the zone oracles: each vertex pairs
    * with its successor (wrap via `first_value`) — the SQL mirror of
    * the Spark side's `zip_with(verts, rotate(verts))`. */
  // def, not val: [[geoZones]] interpolates this during object init
  // BEFORE this line's val would have initialized (the ltssBase lesson)
  private def zoneEdgesCte: String =
    """edges AS (
      |  SELECT zone_id, name, x AS x1, y AS y1,
      |         coalesce(lead(x) OVER w, first_value(x) OVER w) AS x2,
      |         coalesce(lead(y) OVER w, first_value(y) OVER w) AS y2
      |  FROM zv WINDOW w AS (PARTITION BY zone_id ORDER BY idx)
      |)""".stripMargin

  /** ZONE-TO-ZONE OD MATRIX — [[geoOdMatrix]] with the analyst's
    * vocabulary: flows between NAMED stored zones, not grid cells.
    * Stay-point visits (the already-tiny frame the stay-point fold
    * produced once) anchor to the zone dimension by the canonical
    * dimension spatial join — broadcast zones, SARGABLE bbox prune,
    * then the exact even-odd ray cast ([[ringCrossings]], the
    * [[zoneLatestHits]] kernel) — with OVERLAPPING zones resolved to
    * the SMALLEST containing zone_id (deterministic, the
    * [[zoneNearest]] tie rule) and visits outside every zone bucketed
    * as zone 0 "outside" (flows leak off the geofence map; hiding them
    * would misreport totals). Consecutive visits per entity pair into
    * trips (one lag window over the visit frame), flows aggregate per
    * (origin zone, destination zone) with the origin-dwell sum. Scale:
    * every stage after the stay-point fold is visit-sized — the zone
    * join is dimension-broadcast, the window and rollup run on visits,
    * never fixes. Oracle: the shared visits CTE chain + the unrolled
    * vertex VALUES ray cast (no bbox prune — the prune is proven
    * semantics-free by the comparison) + the same lag/rollup. */
  val geoOdZones = OracleQuery(
    "ltss_geo_od_zones",
    (s, d) => {
      import s.implicits._
      // visits materialize once (r21, guide §2.4/§5): the stay-point
      // fold over the track layout otherwise re-plans for BOTH consumers
      // below (the zone-hit leg and the anchor join) — the visit frame
      // is tiny (314 rows at sf0.1) while the fold it truncates is a
      // full track-layout pass
      val visits = GraftLineage.cut(staypointVisits(s, d), eager = true)
      val zonesDim = s.read.parquet(zoneLayoutPath(s, d))
      // bound: the zone dimension (writeZoneLayout's contract: thousands of zones, not rows)
      val hit = visits.join(broadcast(zonesDim),
          col("lat") >= col("lat_min") && col("lat") <= col("lat_max") &&
            col("lon") >= col("lon_min") && col("lon") <= col("lon_max"))
        .withColumn("crossings", ringCrossings(col("lat"), col("lon")))
        .filter(col("crossings") % 2 === 1)
        .groupBy(col("user_id"), col("t_start"), col("t_end"))
        .agg(min(col("zone_id")).as("zid"))
      val anch = visits.join(hit, Seq("user_id", "t_start", "t_end"), "left")
        .withColumn("zone", coalesce(col("zid"), lit(0L)))
      val zn = zonesDim.select(col("zone_id"), col("name"))
        .unionByName(Seq((0L, "outside")).toDF("zone_id", "name"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("t_start"), col("t_end"))
      val flows = anch
        .withColumn("o_zone", lag(col("zone"), 1).over(w))
        .withColumn("o_dwell", lag(col("dwell_us"), 1).over(w))
        .filter(col("o_zone").isNotNull)
        .groupBy(col("o_zone"), col("zone").as("d_zone"))
        .agg(count(lit(1)).as("n_trips"),
          sum(col("o_dwell")).as("origin_dwell_us"))
      // no explicit hint on the name joins: zn is a dimension-sized
      // union AQE broadcasts on its own, and a hint on the union's
      // projection does not attach to the join (HintErrorLogger warns)
      flows
        .join(zn.select(col("zone_id").as("o_zone"),
          col("name").as("o_zone_name")), "o_zone")
        .join(zn.select(col("zone_id").as("d_zone"),
          col("name").as("d_zone_name")), "d_zone")
        .select(col("o_zone"), col("o_zone_name"), col("d_zone"),
          col("d_zone_name"), col("n_trips"), col("origin_dwell_us"))
        .orderBy(col("o_zone"), col("d_zone"))
    },
    Some(s"""WITH RECURSIVE $staypointVisitsSql,
      |zv(zone_id, name, idx, x, y) AS (VALUES
      |  $zoneVertsValues
      |), $zoneEdgesCte,
      |vhits AS (
      |  SELECT v.user_id, v.t_start, v.t_end, e.zone_id,
      |         sum(CASE WHEN (e.y1 > v.lat) <> (e.y2 > v.lat)
      |             THEN CASE WHEN v.lon < (e.x2 - e.x1) * (v.lat - e.y1)
      |                                    / (e.y2 - e.y1) + e.x1
      |                  THEN 1 ELSE 0 END
      |             ELSE 0 END) AS crossings
      |  FROM visits v CROSS JOIN edges e
      |  GROUP BY v.user_id, v.t_start, v.t_end, e.zone_id
      |),
      |inz AS (
      |  SELECT user_id, t_start, t_end, min(zone_id) AS zid
      |  FROM vhits WHERE crossings % 2 = 1
      |  GROUP BY 1, 2, 3
      |),
      |anch AS (
      |  SELECT v.user_id, v.t_start, v.t_end, v.dwell_us,
      |         coalesce(i.zid, 0) AS zone
      |  FROM visits v LEFT JOIN inz i
      |    ON i.user_id = v.user_id AND i.t_start = v.t_start
      |   AND i.t_end = v.t_end
      |),
      |zn AS (
      |  SELECT DISTINCT zone_id, name FROM zv
      |  UNION ALL SELECT 0, 'outside'
      |),
      |flows AS (
      |  SELECT o_zone, zone AS d_zone,
      |         CAST(count(*) AS BIGINT) AS n_trips,
      |         CAST(sum(o_dwell) AS BIGINT) AS origin_dwell_us
      |  FROM (
      |    SELECT user_id, zone, dwell_us,
      |           lag(zone) OVER w AS o_zone, lag(dwell_us) OVER w AS o_dwell
      |    FROM anch WINDOW w AS (PARTITION BY user_id ORDER BY t_start, t_end))
      |  WHERE o_zone IS NOT NULL
      |  GROUP BY 1, 2
      |)
      |SELECT CAST(f.o_zone AS BIGINT) AS o_zone, zo.name AS o_zone_name,
      |       CAST(f.d_zone AS BIGINT) AS d_zone, zd.name AS d_zone_name,
      |       f.n_trips, f.origin_dwell_us
      |FROM flows f
      |JOIN zn zo ON zo.zone_id = f.o_zone
      |JOIN zn zd ON zd.zone_id = f.d_zone
      |ORDER BY o_zone, d_zone""".stripMargin))

  /** ZONE STATISTICS — the `ST_Area` / `ST_Perimeter` / `ST_NPoints`
    * panel over the stored-zone dimension (the audit a deployment runs
    * after loading its geofence table): per zone, vertex count, the
    * planar shoelace area in degree² (EXACT arithmetic — the fixture's
    * lattice coordinates make every cross product a quarter-integer,
    * so the double sum is exact in both engines and the single closing
    * `/2.0` is correctly rounded), the haversine ring perimeter through
    * the SHARED kernel with each edge FLOORED TO INTEGER METERS before
    * the sum (the [[travelDist]] determinism contract), and the
    * write-materialized bbox columns — re-deriving them from the ring
    * in the oracle proves [[graft.sources.LtssSink.writeZoneLayout]]'s
    * materialization, not just its storage. Scale: the zone table is a
    * broadcast-sized dimension; the whole panel is one map-side pass
    * over arrays — no shuffle at any deployment size. */
  val zoneStats = OracleQuery(
    "ltss_geo_zone_stats",
    (s, d) => {
      val zones = s.read.parquet(zoneLayoutPath(s, d))
      val nxt = concat(expr("slice(verts, 2, size(verts) - 1)"),
        expr("slice(verts, 1, 1)"))
      val shoelace = aggregate(
        zip_with(col("verts"), nxt, (a, b) => a("x") * b("y") - b("x") * a("y")),
        lit(0.0), (acc, x) => acc + x)
      val perim = aggregate(
        zip_with(col("verts"), nxt, (a, b) =>
          floor(graft.functions.Haversine.haversineKm(
            a("y"), a("x"), b("y"), b("x")) * 1000.0).cast("long")),
        lit(0L), (acc, x) => acc + x)
      zones.select(col("zone_id"), col("name"),
          size(col("verts")).cast("long").as("n_vertices"),
          (abs(shoelace) / 2.0).as("area_deg2"),
          perim.as("perimeter_m"),
          col("lat_min"), col("lat_max"), col("lon_min"), col("lon_max"))
        .orderBy(col("zone_id"))
    },
    Some(s"""WITH zv(zone_id, name, idx, x, y) AS (VALUES
      |  $zoneVertsValues
      |), $zoneEdgesCte
      |SELECT zone_id, name,
      |       CAST(count(*) AS BIGINT) AS n_vertices,
      |       abs(sum(x1 * y2 - x2 * y1)) / 2.0 AS area_deg2,
      |       CAST(sum(CAST(floor(2 * 6371.0088 * asin(least(1.0, sqrt(
      |         pow(sin(radians(y2 - y1) / 2), 2)
      |         + cos(radians(y1)) * cos(radians(y2))
      |           * pow(sin(radians(x2 - x1) / 2), 2)))) * 1000.0)
      |         AS BIGINT)) AS BIGINT) AS perimeter_m,
      |       min(y1) AS lat_min, max(y1) AS lat_max,
      |       min(x1) AS lon_min, max(x1) AS lon_max
      |FROM edges GROUP BY zone_id, name
      |ORDER BY zone_id""".stripMargin))

  /** MULTI-ZONE DWELL — [[zoneDwell]] generalized from one literal
    * fence to the STORED zone table (the accounting [[geoZones]]'s
    * containment join and `geoZonesStream`'s transition log both
    * imply): per (zone, entity), total held µs inside, visit count,
    * and the inside observation span. Containment is the stored-zone
    * ray cast ([[geoZones]]'s exact nested-CASE arithmetic); the held
    * interval is the state_agg `lead` device computed ONCE on the
    * entity's full fix series BEFORE the zone join (a fix inside holds
    * until the entity's NEXT fix, wherever that is; the final fix
    * holds nothing — [[zoneDwell]]'s conventions verbatim).
    *
    * The shape is deliberately INSIDE-ROWS-ONLY: visits need no
    * outside rows because a visit boundary is a GAP in the entity's
    * observation sequence numbers among inside rows — `rn − lag(rn) ≠
    * 1` — so the join output carries only bbox-surviving fixes that
    * pass the ray cast, never the (fixes × zones) cross frame. Scale:
    * one keyed window on the fix stream, a broadcast bbox-pruned zone
    * join, one keyed window + combinable aggregate on the (much
    * smaller) inside frame. The oracle skips the prune and ray-casts
    * every (fix, zone) pair from the shared VALUES rows. */
  val zonesDwell = OracleQuery(
    "ltss_zones_dwell",
    (s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val fixes = Tables.events(s, d)
        .filter(col("user_id").isNotNull && col("event_id").isNotNull)
        .withColumn("lat", (col("user_id") % 180 - 90).cast("double") + 0.5)
        .withColumn("lon", (col("event_id") % 360 - 180).cast("double") + 0.5)
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("held_us",
          coalesce(unix_micros(lead(col("ts"), 1).over(w)) - unix_micros(col("ts")),
            lit(0L)))
        .select(col("user_id"), col("ts"), col("rn"), col("held_us"),
          col("lat"), col("lon"))
      // bound: the zone dimension (writeZoneLayout's contract: thousands of zones, not rows)
      val zones = broadcast(s.read.parquet(zoneLayoutPath(s, d)))
      val nxt = concat(expr("slice(verts, 2, size(verts) - 1)"),
        expr("slice(verts, 1, 1)"))
      val crossings = aggregate(
        zip_with(col("verts"), nxt, (a, b) =>
          when((a("y") > col("lat")) =!= (b("y") > col("lat")),
            when(col("lon") < (b("x") - a("x")) * (col("lat") - a("y")) /
              (b("y") - a("y")) + a("x"), 1).otherwise(0)).otherwise(0)),
        lit(0), (acc, x) => acc + x)
      val inside = fixes.join(zones,
          col("lat") >= col("lat_min") && col("lat") <= col("lat_max") &&
            col("lon") >= col("lon_min") && col("lon") <= col("lon_max"))
        .withColumn("crossings", crossings)
        .filter(col("crossings") % 2 === 1)
      val wz = Window.partitionBy(col("user_id"), col("zone_id")).orderBy(col("rn"))
      inside
        .withColumn("prn", lag(col("rn"), 1).over(wz))
        .withColumn("entered",
          when(col("prn").isNull || col("prn") =!= col("rn") - 1L, 1L)
            .otherwise(0L))
        .groupBy(col("zone_id"), col("name"), col("user_id"))
        .agg(count(lit(1)).as("n_inside_obs"),
          sum(col("held_us")).as("dwell_us"),
          sum(col("entered")).as("n_visits"),
          min(col("ts")).as("first_inside"), max(col("ts")).as("last_inside"))
        .orderBy(col("zone_id"), col("user_id"))
    },
    Some(s"""WITH pts AS (
      |  SELECT user_id, ts,
      |         CAST(user_id % 180 - 90 AS DOUBLE) + 0.5 AS lat,
      |         CAST(event_id % 360 - 180 AS DOUBLE) + 0.5 AS lon,
      |         CAST(row_number() OVER w AS BIGINT) AS rn,
      |         COALESCE(epoch_us(lead(ts) OVER w) - epoch_us(ts), 0) AS held_us
      |  FROM events WHERE user_id IS NOT NULL AND event_id IS NOT NULL
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), zv(zone_id, name, idx, x, y) AS (VALUES
      |  $zoneVertsValues
      |), $zoneEdgesCte, hits AS (
      |  SELECT p.user_id, e.zone_id, e.name, p.rn, p.ts, p.held_us,
      |         sum(CASE WHEN (e.y1 > p.lat) <> (e.y2 > p.lat)
      |             THEN CASE WHEN p.lon < (e.x2 - e.x1) * (p.lat - e.y1)
      |                                    / (e.y2 - e.y1) + e.x1
      |                  THEN 1 ELSE 0 END
      |             ELSE 0 END) AS crossings
      |  FROM pts p CROSS JOIN edges e
      |  GROUP BY p.user_id, e.zone_id, e.name, p.rn, p.ts, p.held_us
      |), ins AS (
      |  SELECT user_id, zone_id, name, rn, ts, held_us,
      |         lag(rn) OVER (PARTITION BY user_id, zone_id ORDER BY rn) AS prn
      |  FROM hits WHERE crossings % 2 = 1
      |)
      |SELECT zone_id, name, user_id,
      |       CAST(count(*) AS BIGINT) AS n_inside_obs,
      |       CAST(sum(held_us) AS BIGINT) AS dwell_us,
      |       CAST(sum(CASE WHEN prn IS NULL OR prn <> rn - 1
      |                THEN 1 ELSE 0 END) AS BIGINT) AS n_visits,
      |       min(ts) AS first_inside, max(ts) AS last_inside
      |FROM ins GROUP BY zone_id, name, user_id
      |ORDER BY zone_id, user_id""".stripMargin))

  /** NEAREST ZONE (`ST_Distance(point, zone.geom)` + argmin — the
    * "which geofence is this tracker closest to, and how far" panel):
    * each entity's latest fix against EVERY stored zone (the argmin
    * needs all of them, so no bbox prune — the zone table is a
    * broadcast dimension and the per-pair work is map-side), distance
    * = 0 when inside (the even-odd cast), else the min over ring edges
    * of the point-to-SEGMENT distance in planar degrees. Per-edge d²
    * uses the projection identity d² = |p−a|² − t²/len² under the
    * clamp CASE (t ≤ 0 → |p−a|², t ≥ len² → |p−b|², degenerate edge →
    * |p−a|²): every operand is EXACT on the lattice and the one
    * division is correctly rounded, so both engines produce identical
    * bits; mins over identical bit-sets are order-free, the (dist,
    * zone_id) argmin is a struct-MIN, and the closing `sqrt` is the
    * single final IEEE op. Coordinate contract: PLANAR degrees — the
    * `ST_Distance`-on-GEOMETRY semantics the reference's geometry
    * column gets (models.py:44); like PostGIS geometry (vs geography)
    * it does not wrap the antimeridian, so a zone hugging ±180°
    * measures far from a point just across it. */
  val zoneNearest = OracleQuery(
    "ltss_geo_zone_nearest",
    (s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").desc, col("event_id").desc)
      val fixes = Tables.events(s, d)
        .filter(col("user_id").isNotNull && col("event_id").isNotNull)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .withColumn("lat", (col("user_id") % 180 - 90).cast("double") + 0.5)
        .withColumn("lon", (col("event_id") % 360 - 180).cast("double") + 0.5)
        .select(col("user_id"), col("lat"), col("lon"))
      // bound: the zone dimension (writeZoneLayout's contract: thousands of zones, not rows)
      val zones = broadcast(s.read.parquet(zoneLayoutPath(s, d))
        .select(col("zone_id"), col("name"), col("verts")))
      val nxt = concat(expr("slice(verts, 2, size(verts) - 1)"),
        expr("slice(verts, 1, 1)"))
      def d2Of(a: Column, b: Column): Column = {
        val dx = b("x") - a("x")
        val dy = b("y") - a("y")
        val len2 = dx * dx + dy * dy
        val tn = (col("lon") - a("x")) * dx + (col("lat") - a("y")) * dy
        val pa2 = (col("lon") - a("x")) * (col("lon") - a("x")) +
          (col("lat") - a("y")) * (col("lat") - a("y"))
        val pb2 = (col("lon") - b("x")) * (col("lon") - b("x")) +
          (col("lat") - b("y")) * (col("lat") - b("y"))
        when(len2 === 0.0 || tn <= 0.0, pa2)
          .when(tn >= len2, pb2)
          .otherwise(pa2 - tn * tn / len2)
      }
      val d2b = aggregate(
        zip_with(col("verts"), nxt, (a, b) => d2Of(a, b)),
        lit(Double.MaxValue), (acc, x) => least(acc, x))
      val crossings = aggregate(
        zip_with(col("verts"), nxt, (a, b) =>
          when((a("y") > col("lat")) =!= (b("y") > col("lat")),
            when(col("lon") < (b("x") - a("x")) * (col("lat") - a("y")) /
              (b("y") - a("y")) + a("x"), 1).otherwise(0)).otherwise(0)),
        lit(0), (acc, x) => acc + x)
      fixes.crossJoin(zones)
        .withColumn("eff",
          when(crossings % 2 === 1, lit(0.0)).otherwise(d2b))
        .groupBy(col("user_id"))
        .agg(min(struct(col("eff"), col("zone_id"), col("name"))).as("best"))
        .select(col("user_id"), col("best.zone_id").as("zone_id"),
          col("best.name").as("name"),
          (col("best.eff") === 0.0).cast("int").as("inside"),
          sqrt(col("best.eff")).as("dist_deg"))
        .orderBy(col("user_id"))
    },
    Some(s"""WITH latest AS (
      |  SELECT user_id, event_id FROM (
      |    SELECT user_id, event_id,
      |           row_number() OVER (PARTITION BY user_id
      |                              ORDER BY ts DESC, event_id DESC) AS rn
      |    FROM events WHERE user_id IS NOT NULL AND event_id IS NOT NULL)
      |  WHERE rn = 1
      |), pts AS (
      |  SELECT user_id,
      |         CAST(user_id % 180 - 90 AS DOUBLE) + 0.5 AS lat,
      |         CAST(event_id % 360 - 180 AS DOUBLE) + 0.5 AS lon
      |  FROM latest
      |), zv(zone_id, name, idx, x, y) AS (VALUES
      |  $zoneVertsValues
      |), $zoneEdgesCte, pz AS (
      |  SELECT p.user_id, e.zone_id, e.name,
      |         min(CASE
      |           WHEN ((e.x2 - e.x1) * (e.x2 - e.x1)
      |                 + (e.y2 - e.y1) * (e.y2 - e.y1)) = 0.0
      |             OR ((p.lon - e.x1) * (e.x2 - e.x1)
      |                 + (p.lat - e.y1) * (e.y2 - e.y1)) <= 0.0
      |           THEN (p.lon - e.x1) * (p.lon - e.x1)
      |                + (p.lat - e.y1) * (p.lat - e.y1)
      |           WHEN ((p.lon - e.x1) * (e.x2 - e.x1)
      |                 + (p.lat - e.y1) * (e.y2 - e.y1))
      |                >= ((e.x2 - e.x1) * (e.x2 - e.x1)
      |                    + (e.y2 - e.y1) * (e.y2 - e.y1))
      |           THEN (p.lon - e.x2) * (p.lon - e.x2)
      |                + (p.lat - e.y2) * (p.lat - e.y2)
      |           ELSE (p.lon - e.x1) * (p.lon - e.x1)
      |                + (p.lat - e.y1) * (p.lat - e.y1)
      |                - ((p.lon - e.x1) * (e.x2 - e.x1)
      |                   + (p.lat - e.y1) * (e.y2 - e.y1))
      |                  * ((p.lon - e.x1) * (e.x2 - e.x1)
      |                     + (p.lat - e.y1) * (e.y2 - e.y1))
      |                  / ((e.x2 - e.x1) * (e.x2 - e.x1)
      |                     + (e.y2 - e.y1) * (e.y2 - e.y1))
      |         END) AS d2b,
      |         sum(CASE WHEN (e.y1 > p.lat) <> (e.y2 > p.lat)
      |             THEN CASE WHEN p.lon < (e.x2 - e.x1) * (p.lat - e.y1)
      |                                    / (e.y2 - e.y1) + e.x1
      |                  THEN 1 ELSE 0 END
      |             ELSE 0 END) AS crossings
      |  FROM pts p CROSS JOIN edges e
      |  GROUP BY p.user_id, e.zone_id, e.name
      |), eff AS (
      |  SELECT user_id, zone_id, name,
      |         CASE WHEN crossings % 2 = 1 THEN 0.0 ELSE d2b END AS eff,
      |         row_number() OVER (
      |           PARTITION BY user_id
      |           ORDER BY CASE WHEN crossings % 2 = 1 THEN 0.0 ELSE d2b END,
      |                    zone_id) AS rk
      |  FROM pz
      |)
      |SELECT user_id, CAST(zone_id AS BIGINT) AS zone_id, name,
      |       CAST(eff = 0.0 AS INT) AS inside,
      |       sqrt(eff) AS dist_deg
      |FROM eff WHERE rk = 1
      |ORDER BY user_id""".stripMargin))

  /** Top movers — the "biggest changes" dashboard panel: per entity,
    * the first and last observed values (by the deterministic
    * (time, value) order), ranked by absolute net change. ONE hash
    * aggregate (lexicographic struct MIN/MAX — map-side combinable,
    * same shape as [[latest]]) + a TakeOrdered; the ordering key stays
    * exact DECIMAL so rank ties are engine-identical. */
  val topMovers = OracleQuery(
    "ltss_top_movers",
    (s, d) => {
      val sv = expr("try_cast(state as decimal(12,2))")
      ltss(s, d)
        .withColumn("sv", sv)
        .groupBy(col("entity_id"))
        .agg(min(struct(col("time"), col("sv"))).getField("sv").as("first_dec"),
          max(struct(col("time"), col("sv"))).getField("sv").as("last_dec"),
          count(lit(1)).as("n"))
        .withColumn("delta_dec", col("last_dec") - col("first_dec"))
        .orderBy(abs(col("delta_dec")).desc, col("entity_id"))
        .limit(10)
        .select(col("entity_id"),
          col("first_dec").cast("double").as("first_sv"),
          col("last_dec").cast("double").as("last_sv"),
          col("delta_dec").cast("double").as("delta"),
          col("n"))
    },
    Some(s"""$ltssCte
      |SELECT entity_id,
      |       CAST(first_dec AS DOUBLE) AS first_sv,
      |       CAST(last_dec AS DOUBLE) AS last_sv,
      |       CAST(last_dec - first_dec AS DOUBLE) AS delta,
      |       n
      |FROM (
      |  SELECT entity_id,
      |         (min({'time': time, 'sv': sv})).sv AS first_dec,
      |         (max({'time': time, 'sv': sv})).sv AS last_dec,
      |         CAST(count(*) AS BIGINT) AS n
      |  FROM (SELECT entity_id, time, CAST(state AS DECIMAL(12,2)) AS sv FROM ltss)
      |  GROUP BY entity_id)
      |ORDER BY abs(last_dec - first_dec) DESC, entity_id
      |LIMIT 10""".stripMargin))

  /** Cohort retention matrix — the other canonical product-analytics
    * panel over an event stream: entities grouped by FIRST-SEEN week,
    * counted distinct in each later week they stayed active. All-integer
    * output (distinct entity counts), so parity is structural.
    *
    * Shape: first-seen is one combinable MIN per entity; activity
    * reduces to DISTINCT (entity, week) pairs BEFORE the cohort join
    * (shrinking the join input to one row per entity-week); the final
    * rollup groups by (cohort, offset) — |weeks|² cells, render-scale.
    * Every shuffle keys on entity or the tiny cell key; nothing fans
    * out quadratically at any corpus size. */
  val retention = OracleQuery(
    "ltss_retention",
    (s, d) => {
      val WeekUs = 7L * 86400000000L
      def week(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        unix_micros(c) - pmod(unix_micros(c), lit(WeekUs))
      val l = ltss(s, d)
      val weekly = l.select(col("entity_id"), week(col("time")).as("wk")).distinct()
      val cohorts = weekly.groupBy(col("entity_id")).agg(min(col("wk")).as("cw"))
      weekly.join(cohorts, "entity_id")
        .groupBy(col("cw"), ((col("wk") - col("cw")) / lit(WeekUs)).cast("long").as("week_offset"))
        .agg(count(lit(1)).as("n_active"))
        .select(timestamp_micros(col("cw")).as("cohort_week"),
          col("week_offset"), col("n_active"))
        .orderBy(col("cohort_week"), col("week_offset"))
    },
    Some(s"""$ltssCte,
      |weekly AS (
      |  SELECT DISTINCT entity_id,
      |         (epoch_us(time) // ${7L * 86400000000L}) * ${7L * 86400000000L} AS wk
      |  FROM ltss
      |), cohorts AS (
      |  SELECT entity_id, min(wk) AS cw FROM weekly GROUP BY entity_id
      |)
      |SELECT make_timestamp(cw) AS cohort_week,
      |       CAST((wk - cw) // ${7L * 86400000000L} AS BIGINT) AS week_offset,
      |       CAST(count(*) AS BIGINT) AS n_active
      |FROM weekly JOIN cohorts USING (entity_id)
      |GROUP BY cw, week_offset
      |ORDER BY cohort_week, week_offset""".stripMargin))

  /** Ordered funnel conversion (view → click → purchase) — the classic
    * product-analytics panel: per user, the first view, the first click
    * AT OR AFTER that view, the first purchase at or after that click;
    * reported as per-step user counts with step-over-step conversion.
    * Each step is one combinable MIN per user + one uid equi-join (the
    * inequality is a post-join filter, never a join condition — no
    * range-join blowup); the 3-row rollup divides exact BIGINTs. */
  /** The funnel's per-user step times over ONE scan of the events
    * source: first view t1, first click at-or-after it t2, first
    * purchase at-or-after that t3. A click qualifies iff a view exists
    * at or before it (⟺ time ≥ t1, since t1 is the MIN view time), so
    * the step dependency is a running MIN over the uid partitioning —
    * the default RANGE frame includes same-instant rows, preserving the
    * ≥ tie rule — never a re-scan + self-join per step. Two window
    * passes and the final aggregate all share the one uid exchange.
    * Shared by the query and its fixture spec.
    *
    * Warm A/B (sf0.1, local[32], 3-run median, full ltss_funnel):
    * three-scan join shape 1.27 s → this one-scan shape 0.45 s, and at
    * 100 TB the saving is two scans of the corpus plus two joins. */
  private[graft] def funnelTimes(ltssDf: DataFrame): DataFrame = {
    val parts = split(col("entity_id"), "\\.")
    val l = ltssDf
      .filter(parts.getItem(0).isin("view", "click", "purchase"))
      .select(parts.getItem(0).as("domain"),
        parts.getItem(1).cast("long").as("uid"), col("time"))
    val w = Window.partitionBy(col("uid")).orderBy(col("time"))
    val isView = col("domain") === "view"
    val withV = l.withColumn("rv", min(when(isView, col("time"))).over(w))
    val qualClick = when(col("domain") === "click" && col("rv").isNotNull, col("time"))
    val withC = withV.withColumn("rc", min(qualClick).over(w))
    val qualPurchase =
      when(col("domain") === "purchase" && col("rc").isNotNull, col("time"))
    withC.groupBy(col("uid")).agg(
      min(when(isView, col("time"))).as("t1"),
      min(qualClick).as("t2"),
      min(qualPurchase).as("t3"))
  }

  /** The (v, c, p) step frames, derived from [[funnelTimes]]'s single
    * pass — kept for the fixture spec and any caller wanting per-step
    * user sets. */
  private[graft] def funnelSteps(
      ltssDf: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val t = funnelTimes(ltssDf)
    (t.filter(col("t1").isNotNull).select(col("uid"), col("t1")),
      t.filter(col("t2").isNotNull).select(col("uid"), col("t2")),
      t.filter(col("t3").isNotNull).select(col("uid"), col("t3")))
  }

  val funnel = OracleQuery(
    "ltss_funnel",
    (s, d) => {
      val t = funnelTimes(ltss(s, d))
      // count(col) skips nulls: the three step counts fall out of the
      // per-uid frame in ONE aggregate over the same scan
      val n = t.agg(count(col("t1")).as("n1"), count(col("t2")).as("n2"),
        count(col("t3")).as("n3"))
      n.select(explode(array(
        struct(lit("1_view").as("step"), col("n1").as("n_users"),
          lit(null).cast("double").as("conv_rate")),
        struct(lit("2_click").as("step"), col("n2").as("n_users"),
          (col("n2").cast("double") / col("n1").cast("double")).as("conv_rate")),
        struct(lit("3_purchase").as("step"), col("n3").as("n_users"),
          (col("n3").cast("double") / col("n2").cast("double")).as("conv_rate"))))
        .as("r"))
        .select(col("r.step").as("step"), col("r.n_users").as("n_users"),
          col("r.conv_rate").as("conv_rate"))
        .orderBy(col("step"))
    },
    Some(s"""$ltssCte,
      |l AS (
      |  SELECT split_part(entity_id, '.', 1) AS domain,
      |         CAST(split_part(entity_id, '.', 2) AS BIGINT) AS uid, time
      |  FROM ltss
      |), v AS (
      |  SELECT uid, min(time) AS t1 FROM l WHERE domain = 'view' GROUP BY uid
      |), c AS (
      |  SELECT l.uid, min(l.time) AS t2
      |  FROM l JOIN v USING (uid)
      |  WHERE l.domain = 'click' AND l.time >= v.t1 GROUP BY l.uid
      |), p AS (
      |  SELECT l.uid, min(l.time) AS t3
      |  FROM l JOIN c USING (uid)
      |  WHERE l.domain = 'purchase' AND l.time >= c.t2 GROUP BY l.uid
      |), n AS (
      |  SELECT '1_view' AS step, CAST(count(*) AS BIGINT) AS n_users FROM v
      |  UNION ALL SELECT '2_click', CAST(count(*) AS BIGINT) FROM c
      |  UNION ALL SELECT '3_purchase', CAST(count(*) AS BIGINT) FROM p
      |)
      |SELECT step, n_users,
      |       CAST(n_users AS DOUBLE)
      |         / CAST(lag(n_users) OVER (ORDER BY step) AS DOUBLE) AS conv_rate
      |FROM n ORDER BY step""".stripMargin))

  /** Skew-safe aggregation patterns over a HOT grouping key (5 domains
    * fan into 32+ reducers → one reducer per domain would be quadratic-
    * hot at 100 TB):
    * exact distinct-count is decomposed into distinct-pairs (shuffle on
    * (domain, state) — no hot key) then a count per domain; the additive
    * stats run through an explicit salt phase (groupBy(domain, salt) →
    * partial, then merge) — results provably identical to the direct
    * GROUP BY the oracle runs. */
  val domainStatsSalted = OracleQuery(
    "ltss_domain_stats_salted",
    (s, d) => {
      val l = ltss(s, d)
        .withColumn("domain", split(col("entity_id"), "\\.").getItem(0))
        .withColumn("sv", expr("try_cast(state as decimal(12,2))"))
        .withColumn("salt", pmod(crc32(col("entity_id")), lit(16)))
      val partial = l.groupBy(col("domain"), col("salt"))
        .agg(count(lit(1)).as("pn"), sum(col("sv")).as("psum"),
          min(col("sv")).as("pmin"), max(col("sv")).as("pmax"))
      val stats = partial.groupBy(col("domain"))
        .agg(sum(col("pn")).as("n"), sum(col("psum")).as("sum_dec"),
          min(col("pmin")).as("min_state"), max(col("pmax")).as("max_state"))
      val distinctStates = l.select(col("domain"), col("state")).distinct()
        .groupBy(col("domain")).agg(count(lit(1)).as("n_distinct_states"))
      stats.join(distinctStates, "domain")
        .select(col("domain"), col("n"),
          col("sum_dec").cast("double").as("sum_state"),
          col("min_state").cast("double").as("min_state"),
          col("max_state").cast("double").as("max_state"),
          col("n_distinct_states"))
        .orderBy(col("domain"))
    },
    Some(s"""$ltssCte
      |SELECT split_part(entity_id, '.', 1) AS domain,
      |       CAST(count(*) AS BIGINT) AS n,
      |       CAST(SUM(CAST(state AS DECIMAL(12,2))) AS DOUBLE) AS sum_state,
      |       CAST(MIN(CAST(state AS DECIMAL(12,2))) AS DOUBLE) AS min_state,
      |       CAST(MAX(CAST(state AS DECIMAL(12,2))) AS DOUBLE) AS max_state,
      |       CAST(count(DISTINCT state) AS BIGINT) AS n_distinct_states
      |FROM ltss GROUP BY 1 ORDER BY domain""".stripMargin))

  /** As-of join — THE time-series join Spark lacks natively: for every
    * `click` event, the latest `purchase` state of the same user at or
    * before the click. Implemented as the scalable merge shape: union
    * the two sides, ONE shuffle on the join key, and a running
    * last-non-null window — no per-row range probe, no point lookups.
    * At 100 TB this is one hash exchange + a sort within partitions,
    * the same cost class as any windowed query. */
  /** The batch backward-as-of core on any (time, entity_id, state)
    * frame — shared by the oracle query and the spec that pins the
    * composed dedup→asof STREAM against it on one fixture. */
  private[graft] def asofBackward(events: DataFrame): DataFrame = {
    val parts = split(col("entity_id"), "\\.")
    val evs = events
      .withColumn("domain", parts.getItem(0))
      .withColumn("uid", parts.getItem(1).cast("long"))
      .filter(col("domain").isin("click", "purchase"))
      // purchases sort before clicks at the same instant (<= semantics)
      .withColumn("ord", when(col("domain") === "purchase", 0).otherwise(1))
      .withColumn("pstate", when(col("domain") === "purchase", col("state")))
      .withColumn("ptime", when(col("domain") === "purchase", col("time")))
    val w = Window.partitionBy(col("uid")).orderBy(col("time"), col("ord"), col("state"))
    evs
      .withColumn("asof_state", last(col("pstate"), ignoreNulls = true).over(w))
      .withColumn("asof_time", last(col("ptime"), ignoreNulls = true).over(w))
      .filter(col("domain") === "click")
      .select(col("uid"), col("time"), col("state").as("click_state"),
        col("asof_time"), col("asof_state"))
      .orderBy(col("uid"), col("time"), col("click_state"))
  }

  val asofJoin = OracleQuery(
    "ltss_asof_join",
    (s, d) => asofBackward(ltss(s, d)),
    Some(s"""$ltssCte
      |SELECT uid, time, click_state, asof_time, asof_state FROM (
      |  SELECT uid, time, state AS click_state, domain,
      |         last_value(ptime IGNORE NULLS)
      |           OVER (PARTITION BY uid ORDER BY time, ord, state) AS asof_time,
      |         last_value(pstate IGNORE NULLS)
      |           OVER (PARTITION BY uid ORDER BY time, ord, state) AS asof_state
      |  FROM (
      |    SELECT time, state,
      |           split_part(entity_id, '.', 1) AS domain,
      |           CAST(split_part(entity_id, '.', 2) AS BIGINT) AS uid,
      |           CASE WHEN split_part(entity_id, '.', 1) = 'purchase' THEN 0 ELSE 1 END AS ord,
      |           CASE WHEN split_part(entity_id, '.', 1) = 'purchase' THEN state END AS pstate,
      |           CASE WHEN split_part(entity_id, '.', 1) = 'purchase' THEN time END AS ptime
      |    FROM ltss
      |    WHERE split_part(entity_id, '.', 1) IN ('click', 'purchase')))
      |WHERE domain = 'click'
      |ORDER BY uid, time, click_state""".stripMargin))

  /** FORWARD as-of join — the other direction pandas' `merge_asof`
    * (direction='forward') serves: for every click, the EARLIEST
    * purchase of the same user at or after it. Same scalable merge
    * shape as [[asofJoin]] — union, one shuffle on the key, and a
    * first-non-null window over the [current, unbounded following)
    * frame; clicks sort before purchases at the same instant so the
    * ≥ tie rule holds. */
  val asofJoinFwd = OracleQuery(
    "ltss_asof_join_fwd",
    (s, d) => {
      val parts = split(col("entity_id"), "\\.")
      val evs = ltss(s, d)
        .withColumn("domain", parts.getItem(0))
        .withColumn("uid", parts.getItem(1).cast("long"))
        .filter(col("domain").isin("click", "purchase"))
        // clicks sort before purchases at the same instant (>= semantics)
        .withColumn("ord", when(col("domain") === "click", 0).otherwise(1))
        .withColumn("pstate", when(col("domain") === "purchase", col("state")))
        .withColumn("ptime", when(col("domain") === "purchase", col("time")))
      val w = Window.partitionBy(col("uid"))
        .orderBy(col("time"), col("ord"), col("state"))
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      evs
        .withColumn("next_state", first(col("pstate"), ignoreNulls = true).over(w))
        .withColumn("next_time", first(col("ptime"), ignoreNulls = true).over(w))
        .filter(col("domain") === "click")
        .select(col("uid"), col("time"), col("state").as("click_state"),
          col("next_time"), col("next_state"))
        .orderBy(col("uid"), col("time"), col("click_state"))
    },
    Some(s"""$ltssCte
      |SELECT uid, time, click_state, next_time, next_state FROM (
      |  SELECT uid, time, state AS click_state, domain,
      |         first_value(ptime IGNORE NULLS)
      |           OVER (PARTITION BY uid ORDER BY time, ord, state
      |                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_time,
      |         first_value(pstate IGNORE NULLS)
      |           OVER (PARTITION BY uid ORDER BY time, ord, state
      |                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_state
      |  FROM (
      |    SELECT time, state,
      |           split_part(entity_id, '.', 1) AS domain,
      |           CAST(split_part(entity_id, '.', 2) AS BIGINT) AS uid,
      |           CASE WHEN split_part(entity_id, '.', 1) = 'click' THEN 0 ELSE 1 END AS ord,
      |           CASE WHEN split_part(entity_id, '.', 1) = 'purchase' THEN state END AS pstate,
      |           CASE WHEN split_part(entity_id, '.', 1) = 'purchase' THEN time END AS ptime
      |    FROM ltss
      |    WHERE split_part(entity_id, '.', 1) IN ('click', 'purchase')))
      |WHERE domain = 'click'
      |ORDER BY uid, time, click_state""".stripMargin))

  /** Range (interval) join — clicks within one hour AFTER a purchase by
    * the same user. A naive `ON uid = uid AND time BETWEEN ...` plans as
    * a nested-loop at scale; this is the BUCKETED form: each purchase
    * window [t, t+1h] explodes into its (at most 2) hour buckets, the
    * join is a plain equi-join on (uid, bucket) — one hash shuffle —
    * and the exact containment predicate filters after. Each matching
    * pair lands in exactly one bucket (the click's), so no dedup pass
    * is needed. */
  val rangeJoin = {
    val hourUs = 3600000000L
    OracleQuery(
      "ltss_range_join",
      (s, d) => {
        val parts = split(col("entity_id"), "\\.")
        val base = ltss(s, d)
          .withColumn("domain", parts.getItem(0))
          .withColumn("uid", parts.getItem(1).cast("long"))
        val pBucket = expr(s"unix_micros(time) div $hourUs")
        val purchases = base.filter(col("domain") === "purchase")
          .select(col("uid"), col("time").as("p_time"), col("state").as("p_state"),
            explode(array(pBucket, pBucket + 1)).as("bucket"))
        val clicks = base.filter(col("domain") === "click")
          .select(col("uid"), col("time").as("c_time"), col("state").as("c_state"),
            expr(s"unix_micros(time) div $hourUs").as("bucket"))
        clicks.join(purchases, Seq("uid", "bucket"))
          .filter(unix_micros(col("c_time")) >= unix_micros(col("p_time")) &&
            unix_micros(col("c_time")) <= unix_micros(col("p_time")) + hourUs)
          .select(col("uid"), col("p_time"), col("c_time"), col("p_state"), col("c_state"))
          .orderBy(col("uid"), col("p_time"), col("c_time"), col("p_state"), col("c_state"))
      },
      Some(s"""$ltssCte
        |SELECT p.uid, p.p_time, c.c_time, p.p_state, c.c_state FROM (
        |  SELECT CAST(split_part(entity_id, '.', 2) AS BIGINT) AS uid,
        |         time AS p_time, state AS p_state
        |  FROM ltss WHERE split_part(entity_id, '.', 1) = 'purchase') p
        |JOIN (
        |  SELECT CAST(split_part(entity_id, '.', 2) AS BIGINT) AS uid,
        |         time AS c_time, state AS c_state
        |  FROM ltss WHERE split_part(entity_id, '.', 1) = 'click') c
        |  ON c.uid = p.uid
        | AND epoch_us(c.c_time) >= epoch_us(p.p_time)
        | AND epoch_us(c.c_time) <= epoch_us(p.p_time) + $hourUs
        |ORDER BY p.uid, p_time, c_time, p_state, c_state""".stripMargin))
  }

  /** Sketch-based rollups — the approximate forms a 100 TB deployment
    * reaches for when exact is too expensive: HLL++ distinct counts (one
    * map-side sketch per partition, merged — no distinct-pair shuffle)
    * and approximate quantiles (Greenwald-Khanna, single pass). Sketch
    * INTERNALS are engine-specific, so the raw estimates can never
    * hash-match DuckDB; instead this query is the sketch ACCURACY AUDIT:
    * it emits the exact per-domain answers (hash-checked) plus one
    * boolean per sketch asserting the estimate landed inside its
    * published error bound — HLL++ at rsd 0.01 within a generous 5%
    * (floor 2), GK at accuracy 10000 within the exact [p-1%, p+1%] rank
    * envelope. The DuckDB oracle recomputes the exact answers and pins
    * every boolean to TRUE, so a sketch regression flips a row and
    * fails the hash gate instead of hiding in a rows-only check. The
    * exact twins computed here are the audit's yardstick, not the scale
    * path — at 100 TB the audit runs on a sample while production reads
    * use the sketches alone. Exact production twins:
    * `ltss_domain_stats_salted` (distinct), `ltss_percentiles`. */
  val sketches = OracleQuery(
    "ltss_sketches",
    (s, d) => {
      def withinPct(approx: Column, exact: Column): Column =
        abs(approx - exact) <= greatest(lit(2.0), exact * 0.05)
      ltss(s, d)
        .withColumn("domain", split(col("entity_id"), "\\.").getItem(0))
        .withColumn("sv", col("state").cast("double"))
        .groupBy(col("domain"))
        .agg(
          count_distinct(col("state")).as("distinct_states"),
          count_distinct(col("entity_id")).as("distinct_entities"),
          approx_count_distinct(col("state"), 0.01).as("hll_states"),
          approx_count_distinct(col("entity_id"), 0.01).as("hll_entities"),
          percentile_approx(col("sv"), lit(0.5), lit(10000)).as("p50a"),
          percentile_approx(col("sv"), lit(0.95), lit(10000)).as("p95a"),
          expr("percentile(sv, 0.49)").as("p49e"),
          expr("percentile(sv, 0.51)").as("p51e"),
          expr("percentile(sv, 0.94)").as("p94e"),
          expr("percentile(sv, 0.96)").as("p96e"))
        .select(
          col("domain"),
          col("distinct_states"),
          col("distinct_entities"),
          withinPct(col("hll_states"), col("distinct_states"))
            .as("hll_states_ok"),
          withinPct(col("hll_entities"), col("distinct_entities"))
            .as("hll_entities_ok"),
          (col("p50a") >= col("p49e") && col("p50a") <= col("p51e"))
            .as("p50_ok"),
          (col("p95a") >= col("p94e") && col("p95a") <= col("p96e"))
            .as("p95_ok"))
        .orderBy(col("domain"))
    },
    Some(s"""$ltssCte
      |SELECT split_part(entity_id, '.', 1) AS domain,
      |       COUNT(DISTINCT state) AS distinct_states,
      |       COUNT(DISTINCT entity_id) AS distinct_entities,
      |       TRUE AS hll_states_ok, TRUE AS hll_entities_ok,
      |       TRUE AS p50_ok, TRUE AS p95_ok
      |FROM ltss GROUP BY 1 ORDER BY 1""".stripMargin))

  /** KMV tracked-set size: estimates carry ~1/√K relative error (~12%
    * at 64) — the HLL-accuracy class — while the sketch stays 64 longs
    * per group. */
  val KmvK = 64

  /** Distinct-count estimation via a K-MINIMUM-VALUES sketch — the
    * ENGINE-PORTABLE companion to [[sketches]]' HLL++ rows (whose
    * internals keep that query rows-only): per domain, hash every
    * value to a 60-bit md5-prefix long, keep the [[KmvK]] smallest,
    * and estimate |distinct| = (K−1)·2⁶⁰ / h_K (exact count when the
    * tracked set never fills). Every input to the one closing IEEE
    * division is an exact integer on both engines, so unlike HLL the
    * estimate itself hash-checks bit-exactly against DuckDB.
    *
    * Scale shape: the candidate set reduces to (domain, target, h)
    * DISTINCT — combinable map-side, 8-byte keys — and the top-K
    * window runs over |domains|·|targets| groups of pre-deduped
    * hashes; nothing after the distinct touches a raw row. KMV merges
    * by union+retop (associative), which is why real pipelines ship
    * it for partitioned distinct counts. */
  val kmvDistinct = OracleQuery(
    "ltss_kmv_distinct",
    (s, d) => {
      import org.apache.spark.sql.GraftColumns.{columnOf, expressionOf}
      val base = ltss(s, d)
        .withColumn("domain", split(col("entity_id"), "\\.").getItem(0))
      def side(tag: String, c: org.apache.spark.sql.Column) =
        base.select(col("domain"), lit(tag).as("target"),
          columnOf(graft.functions.Md5Prefix64(expressionOf(c))).as("h"))
      val u = side("entities", col("entity_id"))
        .union(side("states", col("state")))
        .distinct()
      val w = Window.partitionBy(col("domain"), col("target")).orderBy(col("h"))
      u.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= KmvK)
        .groupBy(col("domain"), col("target"))
        .agg(count(lit(1)).as("n_tracked"), max(col("h")).as("kth_min"))
        .select(col("domain"), col("target"), col("n_tracked"), col("kth_min"),
          when(col("n_tracked") < KmvK, col("n_tracked").cast("double"))
            .otherwise(
              (lit((KmvK - 1).toDouble) * lit(1152921504606846976.0d))
                / col("kth_min").cast("double"))
            .as("est_distinct"))
        .orderBy(col("domain"), col("target"))
    },
    Some(s"""$ltssCte,
      |u AS (
      |  SELECT DISTINCT domain, target, h FROM (
      |    SELECT split_part(entity_id, '.', 1) AS domain, 'entities' AS target,
      |           CAST(concat('0x', substring(md5(entity_id), 1, 15)) AS BIGINT) AS h
      |    FROM ltss
      |    UNION ALL
      |    SELECT split_part(entity_id, '.', 1) AS domain, 'states' AS target,
      |           CAST(concat('0x', substring(md5(state), 1, 15)) AS BIGINT) AS h
      |    FROM ltss)
      |), topk AS (
      |  SELECT domain, target, h FROM (
      |    SELECT domain, target, h,
      |           row_number() OVER (PARTITION BY domain, target ORDER BY h) AS rn
      |    FROM u)
      |  WHERE rn <= $KmvK
      |)
      |SELECT domain, target,
      |       CAST(count(*) AS BIGINT) AS n_tracked,
      |       max(h) AS kth_min,
      |       CASE WHEN count(*) < $KmvK THEN CAST(count(*) AS DOUBLE)
      |            ELSE (CAST(${KmvK - 1} AS DOUBLE) * 1152921504606846976.0)
      |                 / CAST(max(h) AS DOUBLE) END AS est_distinct
      |FROM topk GROUP BY domain, target
      |ORDER BY domain, target""".stripMargin))

  /** JSON attribute SCHEMA PROFILE — the report the adaptive-DDL path
    * (D1) and the materialized-key layout (`ltss_json_attr_layout`)
    * are tuned from: per attribute key, how often it occurs and what
    * TYPE its values take (number/string/bool/array classified from
    * the raw JSON text by engine-identical rules), plus its share of
    * all rows. A key that is near-universal and mono-typed is the one
    * a migration tool promotes to a typed column. The fixture's
    * attributes carry a single key, so the frame is deterministically
    * ENRICHED in-query (the `url_stats` device — extra keys keyed on
    * epoch-µs residues, replayed by both engines as part of the
    * contract) so the profile exercises every type class. One explode
    * + one combinable count; output is |keys| rows. */
  val attrProfile = OracleQuery(
    "ltss_attr_profile",
    (s, d) => {
      val us = unix_micros(col("time"))
      val enriched = concat(
        lit("{\"k\": "), get_json_object(col("attributes"), "$.k"),
        when(us % 3 === 0, lit(", \"unit\": \"w\"")).otherwise(lit("")),
        when(us % 5 === 0, lit(", \"loc\": [1.5, 2.5]")).otherwise(lit("")),
        when(us % 7 === 0, lit(", \"flag\": true")).otherwise(lit("")),
        lit("}"))
      val rows = ltss(s, d).select(enriched.as("attrs"))
      val tot = rows.agg(count(lit(1)).as("n_rows"))
      val cls = when(col("v").startsWith("["), "array")
        .when(col("v").isin("true", "false"), "bool")
        .when(col("v").rlike("^-?[0-9]+(\\.[0-9]+)?$"), "number")
        .otherwise("string")
      rows
        .select(col("attrs"), explode(expr("json_object_keys(attrs)")).as("key"))
        .withColumn("v", expr("get_json_object(attrs, concat('$.', key))"))
        .withColumn("cls", cls)
        .groupBy(col("key"))
        .agg(count(lit(1)).as("n_present"),
          sum(when(col("cls") === "number", 1L).otherwise(0L)).as("n_number"),
          sum(when(col("cls") === "string", 1L).otherwise(0L)).as("n_string"),
          sum(when(col("cls") === "bool", 1L).otherwise(0L)).as("n_bool"),
          sum(when(col("cls") === "array", 1L).otherwise(0L)).as("n_array"))
        // bound: a one-row aggregate
        .crossJoin(broadcast(tot))
        .withColumn("share",
          col("n_present").cast("double") / col("n_rows").cast("double"))
        .select(col("key"), col("n_present"), col("n_number"), col("n_string"),
          col("n_bool"), col("n_array"), col("share"))
        .orderBy(col("key"))
    },
    Some(s"""$ltssCte,
      |en AS (
      |  SELECT '{"k": ' || json_extract_string(attributes, '$$.k')
      |      || CASE WHEN epoch_us(time) % 3 = 0 THEN ', "unit": "w"' ELSE '' END
      |      || CASE WHEN epoch_us(time) % 5 = 0 THEN ', "loc": [1.5, 2.5]' ELSE '' END
      |      || CASE WHEN epoch_us(time) % 7 = 0 THEN ', "flag": true' ELSE '' END
      |      || '}' AS attrs
      |  FROM ltss
      |), tot AS (SELECT CAST(count(*) AS BIGINT) AS n_rows FROM en),
      |kv AS (
      |  SELECT key, CAST(json_extract(attrs, '$$.' || key) AS VARCHAR) AS v
      |  FROM (SELECT attrs, unnest(json_keys(attrs)) AS key FROM en)
      |)
      |SELECT key, CAST(count(*) AS BIGINT) AS n_present,
      |       CAST(sum(CASE WHEN v LIKE '[%' THEN 0
      |                     WHEN v IN ('true','false') THEN 0
      |                     WHEN regexp_matches(v, '^-?[0-9]+(\\.[0-9]+)?$$') THEN 1
      |                     ELSE 0 END) AS BIGINT) AS n_number,
      |       CAST(sum(CASE WHEN v LIKE '[%' THEN 0
      |                     WHEN v IN ('true','false') THEN 0
      |                     WHEN regexp_matches(v, '^-?[0-9]+(\\.[0-9]+)?$$') THEN 0
      |                     ELSE 1 END) AS BIGINT) AS n_string,
      |       CAST(sum(CASE WHEN v LIKE '[%' THEN 0
      |                     WHEN v IN ('true','false') THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_bool,
      |       CAST(sum(CASE WHEN v LIKE '[%' THEN 1 ELSE 0 END) AS BIGINT) AS n_array,
      |       CAST(count(*) AS DOUBLE) / CAST(any_value(tot.n_rows) AS DOUBLE) AS share
      |FROM kv, tot
      |GROUP BY key
      |ORDER BY key""".stripMargin))

  private val GeohashAlphabet = "0123456789bcdefghjkmnpqrstuvwxyz"

  /** Shared builders for the precision-6 geohash closed form — used by
    * the Spark plan (via `expr`) and, with `div`→`//`, by the DuckDB
    * oracle, and tested against an independent textbook bisection
    * encoder in `GeoBoxPropertySpec`. `q` is the integer div operator
    * spelling. Standard geohash: 30 bits alternating lon (15, even
    * positions from the MSB) and lat (15, odd), base32 in the
    * 0-9 b-z (no a,i,l,o) alphabet. */
  private[graft] def geohashBitsSql(
      q: String, axisBits: Int = 15, lon: String = "lonq", lat: String = "latq",
      out: String = ""): String =
    ((0 until axisBits).map { k =>
      s"(($lon $q ${1L << (axisBits - 1 - k)}) % 2) * ${1L << (2 * axisBits - 1 - 2 * k)}"
    } ++ (0 until axisBits).map { k =>
      s"(($lat $q ${1L << (axisBits - 1 - k)}) % 2) * ${1L << (2 * axisBits - 2 - 2 * k)}"
    }).mkString(" + ")

  private[graft] def geohashCharsSql(
      q: String, chars: Int = 6, gh: String = "gh"): String =
    (0 until chars).map { j =>
      val p = math.pow(32, chars - 1 - j).toLong
      s"substring('$GeohashAlphabet', CAST(($gh $q $p) % 32 AS INT) + 1, 1)"
    }.mkString(" || ")

  /** GEOHASH cell rollup — the PostGIS `ST_GeoHash` surface (the other
    * standard geo-bucketing a dashboard asks of a located LTSS table,
    * alongside [[geoGrid]]'s degree tiles): each point's precision-6
    * geohash (±0.61 km cell), aggregated to per-cell event/user counts.
    * The encode is the textbook quantize-and-interleave in CLOSED
    * INTEGER FORM: the fixture's half-degree coordinates make
    * latq = ⌊(lat+90)/180·2¹⁵⌋ an exact integer expression of the ids
    * (no float ever forms), the 30-bit interleave is a sum of 30
    * shift-mask terms, and base32 is six substring picks — all
    * generated from ONE shared builder so Spark and DuckDB evaluate
    * the same formula, while `GeoBoxPropertySpec` checks the closed
    * form against an independent bisection encoder (catching a shared
    * formula error the oracle alone would miss).
    *
    * Scale shape: encode is map-side arithmetic in whole-stage codegen;
    * the one shuffle is the combinable per-cell aggregate — cell
    * cardinality is bounded by the 2³⁰ geohash space, in practice by
    * the fleet's footprint. A prefix truncation of the SAME string
    * gives every coarser rollup without re-encoding. */
  val geohashQ = OracleQuery(
    "ltss_geohash",
    (s, d) =>
      Tables.events(s, d)
        .filter(col("user_id").isNotNull && col("event_id").isNotNull)
        .withColumn("latq", expr("((pmod(user_id, 180) * 2 + 1) * 32768) div 360"))
        .withColumn("lonq", expr("((pmod(event_id, 360) * 2 + 1) * 32768) div 720"))
        .withColumn("gh", expr(geohashBitsSql("div")))
        .withColumn("geohash", expr(geohashCharsSql("div")))
        .groupBy(col("geohash"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("geohash")),
    Some(s"""WITH q AS (
      |  SELECT user_id, event_id,
      |         ((((user_id % 180 + 180) % 180) * 2 + 1) * 32768) // 360 AS latq,
      |         ((((event_id % 360 + 360) % 360) * 2 + 1) * 32768) // 720 AS lonq
      |  FROM events WHERE user_id IS NOT NULL AND event_id IS NOT NULL
      |), g AS (
      |  SELECT user_id, ${geohashBitsSql("//")} AS gh FROM q
      |), h AS (
      |  SELECT user_id, ${geohashCharsSql("//")} AS geohash FROM g
      |)
      |SELECT geohash, CAST(count(*) AS BIGINT) AS n_events,
      |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
      |FROM h GROUP BY 1 ORDER BY geohash""".stripMargin))

  /** KMV MERGE ALGEBRA — the property that makes sketches the cagg
    * citizen they are: per-HOUR KMV sketches of distinct entities,
    * merged up to the day by union+retop, must equal the day sketch
    * computed directly from raw rows — top-k of a union IS the top-k
    * of the union of per-part top-ks, so the merge is LOSSLESS, and
    * this query hash-proves it instead of asserting it (the oracle
    * pins `merge_exact` = 1 per day; a broken merge rule flips the bit
    * or moves the kth-min). This is the maintenance story for a
    * distinct-count continuous aggregate at 100 TB: hour sketches
    * update incrementally (64 longs each), day/week/month views merge
    * without ever rescanning raw rows. Per day the report carries both
    * estimates and the exactness bit. One distinct shuffle on
    * (bucket, hash); everything after runs on sketch-sized frames. */
  val kmvMerge = OracleQuery(
    "ltss_kmv_merge",
    (s, d) => {
      import org.apache.spark.sql.GraftColumns.{columnOf, expressionOf}
      val HourUs = 3600000000L
      val DayUs = 86400000000L
      def est(n: Column, kth: Column): Column =
        when(n < KmvK, n.cast("double"))
          .otherwise((lit((KmvK - 1).toDouble) * lit(1152921504606846976.0d))
            / kth.cast("double"))
      val base = ltss(s, d)
        .withColumn("h", columnOf(graft.functions.Md5Prefix64(expressionOf(col("entity_id")))))
        .withColumn("bus", unix_micros(col("time")) - pmod(unix_micros(col("time")), lit(HourUs)))
        .withColumn("day", unix_micros(col("time")) - pmod(unix_micros(col("time")), lit(DayUs)))
      val wHour = Window.partitionBy(col("bus")).orderBy(col("h"))
      // The shared (day, bus, h) distinct MATERIALIZES once (r21, guide
      // §2.4/§5): the optimizer proves distinct(project(distinct(x))) =
      // distinct(project(x)) (RemoveRedundantAggregates) and therefore
      // planned each of the three consumer legs (hour sketches, direct
      // day leg, hour counter) as its OWN corpus-sized scan+distinct —
      // the r20 comment priced that as intrinsic, but hash-proving
      // merged == direct only needs both sides to read the SAME deduped
      // frame, which is orders of magnitude below the corpus (distinct
      // entities × hours). One corpus distinct remains — the audit's
      // real intrinsic cost. Measured at sf0.1: 3.9 → ~1.3 s warm.
      val dbh = GraftLineage.cut(
        base.select(col("day"), col("bus"), col("h")).distinct(), eager = true)
      val hourSk = dbh
        .withColumn("rn", row_number().over(wHour)).filter(col("rn") <= KmvK)
      val wDay = Window.partitionBy(col("day")).orderBy(col("h"))
      val merged = hourSk.select(col("day"), col("h")).distinct()
        .withColumn("rn", row_number().over(wDay)).filter(col("rn") <= KmvK)
        .groupBy(col("day"))
        .agg(count(lit(1)).as("n_merged"), max(col("h")).as("kth_merged"))
      val direct = dbh.select(col("day"), col("h")).distinct()
        .withColumn("rn", row_number().over(wDay)).filter(col("rn") <= KmvK)
        .groupBy(col("day"))
        .agg(count(lit(1)).as("n_direct"), max(col("h")).as("kth_direct"))
      val hours = hourSk.groupBy(col("day"))
        .agg(countDistinct(col("bus")).as("n_hours"))
      merged.join(direct, "day").join(hours, "day")
        .select(timestamp_micros(col("day")).as("day"), col("n_hours"),
          col("n_direct"), est(col("n_direct"), col("kth_direct")).as("est_direct"),
          est(col("n_merged"), col("kth_merged")).as("est_merged"),
          (col("n_merged") === col("n_direct")
            && col("kth_merged") === col("kth_direct")).cast("int").as("merge_exact"))
        .orderBy(col("day"))
    },
    Some(s"""$ltssCte,
      |base AS (
      |  SELECT CAST(concat('0x', substring(md5(entity_id), 1, 15)) AS BIGINT) AS h,
      |         (epoch_us(time) // 3600000000) * 3600000000 AS bus,
      |         (epoch_us(time) // 86400000000) * 86400000000 AS day
      |  FROM ltss
      |), hour_sk AS (
      |  SELECT day, bus, h FROM (
      |    SELECT DISTINCT day, bus, h FROM base)
      |  QUALIFY row_number() OVER (PARTITION BY bus ORDER BY h) <= $KmvK
      |), merged AS (
      |  SELECT day, CAST(count(*) AS BIGINT) AS n_merged, max(h) AS kth_merged FROM (
      |    SELECT day, h FROM (SELECT DISTINCT day, h FROM hour_sk)
      |    QUALIFY row_number() OVER (PARTITION BY day ORDER BY h) <= $KmvK)
      |  GROUP BY day
      |), direct AS (
      |  SELECT day, CAST(count(*) AS BIGINT) AS n_direct, max(h) AS kth_direct FROM (
      |    SELECT day, h FROM (SELECT DISTINCT day, h FROM base)
      |    QUALIFY row_number() OVER (PARTITION BY day ORDER BY h) <= $KmvK)
      |  GROUP BY day
      |), hours AS (
      |  SELECT day, CAST(count(DISTINCT bus) AS BIGINT) AS n_hours FROM hour_sk GROUP BY day
      |)
      |SELECT make_timestamp(m.day) AS day, hs.n_hours, d.n_direct,
      |       CASE WHEN d.n_direct < $KmvK THEN CAST(d.n_direct AS DOUBLE)
      |            ELSE (CAST(${KmvK - 1} AS DOUBLE) * 1152921504606846976.0)
      |                 / CAST(d.kth_direct AS DOUBLE) END AS est_direct,
      |       CASE WHEN m.n_merged < $KmvK THEN CAST(m.n_merged AS DOUBLE)
      |            ELSE (CAST(${KmvK - 1} AS DOUBLE) * 1152921504606846976.0)
      |                 / CAST(m.kth_merged AS DOUBLE) END AS est_merged,
      |       CAST(m.n_merged = d.n_direct AND m.kth_merged = d.kth_direct AS INT)
      |         AS merge_exact
      |FROM merged m JOIN direct d USING (day) JOIN hours hs USING (day)
      |ORDER BY day""".stripMargin))

  /** GEOHASH PREFIX ALGEBRA — the claim the [[geohashQ]] scaladoc
    * makes ("a prefix truncation of the SAME string gives every
    * coarser rollup without re-encoding") hash-PROVEN instead of
    * asserted, completing the algebra trio ([[kmvMerge]]'s sketch
    * merge, the cagg ladder): for every point, the first 4 chars of
    * the precision-6 geohash must equal the DIRECT precision-4 encode
    * (10-bit quantization = the 15-bit quantization floor-divided by
    * 2⁵ — nested floor division is exact, so the property is an
    * identity, and a violation count the oracle pins to 0 would catch
    * any interleave/base32 mis-derivation). The report also carries
    * the cell counts at both precisions — the rollup-fanout a
    * dashboard zoom actually reads. */
  val geohashPrefixQ = OracleQuery(
    "ltss_geohash_prefix",
    (s, d) =>
      Tables.events(s, d)
        .filter(col("user_id").isNotNull && col("event_id").isNotNull)
        .withColumn("latq", expr("((pmod(user_id, 180) * 2 + 1) * 32768) div 360"))
        .withColumn("lonq", expr("((pmod(event_id, 360) * 2 + 1) * 32768) div 720"))
        .withColumn("latq4", expr("latq div 32"))
        .withColumn("lonq4", expr("lonq div 32"))
        .withColumn("gh", expr(geohashBitsSql("div")))
        .withColumn("gh4", expr(geohashBitsSql("div", 10, "lonq4", "latq4")))
        .withColumn("geohash6", expr(geohashCharsSql("div")))
        .withColumn("geohash4", expr(geohashCharsSql("div", 4, "gh4")))
        .agg(count(lit(1)).as("n_points"),
          sum((substring(col("geohash6"), 1, 4) =!= col("geohash4")).cast("long"))
            .as("violations"),
          countDistinct(col("geohash4")).as("n_cells4"),
          countDistinct(col("geohash6")).as("n_cells6")),
    Some(s"""WITH q AS (
      |  SELECT ((((user_id % 180 + 180) % 180) * 2 + 1) * 32768) // 360 AS latq,
      |         ((((event_id % 360 + 360) % 360) * 2 + 1) * 32768) // 720 AS lonq
      |  FROM events WHERE user_id IS NOT NULL AND event_id IS NOT NULL
      |), g AS (
      |  SELECT latq // 32 AS latq4, lonq // 32 AS lonq4,
      |         ${geohashBitsSql("//")} AS gh
      |  FROM q
      |), g2 AS (
      |  SELECT gh, ${geohashBitsSql("//", 10, "lonq4", "latq4")} AS gh4 FROM g
      |), h AS (
      |  SELECT ${geohashCharsSql("//")} AS geohash6,
      |         ${geohashCharsSql("//", 4, "gh4")} AS geohash4
      |  FROM g2
      |)
      |SELECT CAST(count(*) AS BIGINT) AS n_points,
      |       CAST(sum(CASE WHEN substring(geohash6, 1, 4) <> geohash4
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS violations,
      |       CAST(count(DISTINCT geohash4) AS BIGINT) AS n_cells4,
      |       CAST(count(DISTINCT geohash6) AS BIGINT) AS n_cells6
      |FROM h""".stripMargin))

  private val CmsDepth = 4
  private val CmsWidth = 64

  /** COUNT-MIN SKETCH frequency estimation (Cormode & Muthukrishnan
    * 2005; the TimescaleDB toolkit ships it as `count_min_sketch` /
    * `approx_count`) — the heavy-hitter companion to [[kmvDistinct]]'s
    * KMV rows: a D×W = 4×64 grid of counters where cell (d, w) sums the
    * counts of every state whose d-th hash lands in bucket w, and
    * est(x) = min_d cell(d, h_d(x)). Hashes are the engine's
    * [[graft.functions.Md5Prefix64]] over "d:state" (the same 60-bit
    * md5-prefix device as KMV), so DuckDB replays the exact sketch and
    * the audit is hash-checked, not asserted: for the top-20 true
    * states the output carries est, true, the overcount, and the CMS
    * hard invariant est ≥ true (a point-wise `never_under` bit — CMS
    * can only overcount, so any 0 is an implementation bug, not
    * sketch noise).
    *
    * Scale shape: ONE map-combinable shuffle (groupBy state — needed by
    * the audit's truth column anyway); the sketch cells are derived
    * from the truth frame, which is algebraically identical to hashing
    * raw rows. A production build that wants no truth table folds raw
    * rows straight into the 256 cells — a partial aggregation whose
    * reduce side is 256 rows regardless of data size, which is the
    * whole point of the sketch at 100 TB. */
  val cmsFreq = OracleQuery(
    "ltss_cms_freq",
    (s, d) => {
      import org.apache.spark.sql.GraftColumns.{columnOf, expressionOf}
      val truth = ltss(s, d).groupBy(col("state")).agg(count(lit(1)).as("true_c"))
      val hashed = truth
        .withColumn("d", explode(sequence(lit(0), lit(CmsDepth - 1))))
        .withColumn("h", columnOf(graft.functions.Md5Prefix64(expressionOf(
          concat(col("d").cast("string"), lit(":"), col("state"))))))
        .withColumn("bucket", pmod(col("h"), lit(CmsWidth.toLong)))
      val cells = hashed.groupBy(col("d"), col("bucket"))
        .agg(sum(col("true_c")).as("cell"))
      hashed.join(cells, Seq("d", "bucket"))
        .groupBy(col("state"), col("true_c"))
        .agg(min(col("cell")).as("est_c"))
        .select(col("state"), col("true_c"), col("est_c"),
          (col("est_c") - col("true_c")).as("overcount"),
          (col("est_c") >= col("true_c")).cast("int").as("never_under"))
        .orderBy(col("true_c").desc, col("state"))
        .limit(20)
    },
    Some(s"""$ltssCte,
      |truth AS (
      |  SELECT state, CAST(count(*) AS BIGINT) AS true_c FROM ltss GROUP BY 1
      |), hashed AS (
      |  SELECT state, true_c, d,
      |         CAST(concat('0x', substring(md5(CAST(d AS VARCHAR) || ':' || state), 1, 15))
      |              AS BIGINT) % $CmsWidth AS bucket
      |  FROM truth CROSS JOIN (SELECT unnest(generate_series(0, ${CmsDepth - 1})) AS d) ds
      |), cells AS (
      |  SELECT d, bucket, CAST(sum(true_c) AS BIGINT) AS cell
      |  FROM hashed GROUP BY 1, 2
      |), est AS (
      |  SELECT h.state, h.true_c, min(c.cell) AS est_c
      |  FROM hashed h JOIN cells c ON c.d = h.d AND c.bucket = h.bucket
      |  GROUP BY 1, 2
      |)
      |SELECT state, true_c, est_c, est_c - true_c AS overcount,
      |       CAST(est_c >= true_c AS INT) AS never_under
      |FROM est
      |ORDER BY true_c DESC, state
      |LIMIT 20""".stripMargin))

  val all: Seq[OracleQuery] = Seq(
    project, entityFilterQ, history, historyLayout, zorderLayout, latest, transitions,
    timeBucketAgg, jsonAttr, jsonAttrLayout, jsonAttrVariant, geoWkt, sessionize, dedupPk,
    projectLocation, geoDistance, geoRadiusLayout, geoBbox, timeBucketSqlQ,
    domainStatsSalted, asofJoin, asofJoinFwd, rangeJoin, percentiles, histogram, pivotHours,
    retention, funnel, topMovers, geoGrid, geoPairs, geoPolygon, geoZones, anomalyMad,
    histogram2d, sketches, kmvDistinct, attrProfile, cmsFreq, geohashQ,
    histEqdepth, timeBucketMonth, compressPlan, chunkStats, geofence, zoneDwell,
    kmvMerge, geohashPrefixQ, travelDist, geoSpeed, geoKnn, geoDbscan,
    geoDbscanLatLon, geoTrack, geoSimplify, geoStaypoints, geoOdMatrix, geoMercator, geoHeading,
    zoneStats, zonesDwell, geoDouglasPeucker, zonesOverlap, zoneCentroid, zoneNearest,
    geoHull, geoFrechet, zonesIntersect, geoOdSensitivity, geoContacts,
    geoContactPairs, geoHausdorff, geoExposure, geoContactCells,
    geoOdZones, zonesIntersectConcave, geoDtw, zoneCentroidConcave,
    geoConvoys, geoConvoyGroups, geoConvoyGroupsCore, geoExposureFiltered,
    geoDtwBand)
}
