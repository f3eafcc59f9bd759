package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** The TimescaleDB hyperfunction surface — the continuous-aggregate /
  * Grafana query vocabulary an LTSS deployment actually points at its
  * hypertable (`time_bucket_gapfill` + `locf` + `interpolate`,
  * `time_weight`, `counter_agg`/`rate`; reference delegates ALL query
  * processing to PostgreSQL+TimescaleDB — custom_components/ltss
  * /__init__.py:337-344 creates the hypertable, README.md points users at
  * Grafana for querying). Re-expressed as declarative Spark plans:
  *
  *  - **gap-fill grid**: per-entity dense bucket axis via
  *    `sequence(min_bucket, max_bucket, width)` + `explode` — generated
  *    WHERE the entity's data lives (one groupBy for the bounds), never a
  *    driver-side loop, never a cross join against a calendar table;
  *  - **LOCF / interpolation**: one window per direction
  *    (`last(_, ignoreNulls)` ascending, `first(_, ignoreNulls)` on a
  *    [current, unbounded-following) frame) — no per-gap probes;
  *  - **time-weighted average**: `lead` duration + exact DECIMAL
  *    weighted sums (order-independent partial aggregation; the ONE
  *    double division happens at the end, identically on both engines);
  *  - **counter delta/rate**: `lag` + reset rule, then a map-side
  *    combinable decimal sum per bucket.
  *
  * Every frame shuffles on (entity_id[, bucket]) only — the same key
  * class as any windowed LTSS query, skew-free at 100 TB (entity
  * cardinality grows with the fleet, buckets with time).
  */
object TimeSeries {

  private val HourUs = 3600000000L
  private val DayUs = 86400000000L

  /** Epoch-µs hour bucket (non-negative timestamps; pmod keeps the
    * arithmetic exact — see [[graft.functions.DetMath.timeBucket]]). */
  private def bucketUs(ts: Column, widthUs: Long): Column =
    unix_micros(ts) - pmod(unix_micros(ts), lit(widthUs))

  // ------------------------------------------------------------ library API

  /** Last observation per (entity, bucket): the downsample step every
    * gap-fill starts from. Survivor is deterministic — the max
    * (time, value) tuple per bucket — computed as ONE hash aggregate
    * over a struct MAX: partials combine map-side and no per-bucket sort
    * runs, unlike a row_number window (same shape argument as
    * [[Transform.dedupPrimaryKey]]). */
  def bucketLast(ltss: DataFrame, widthUs: Long): DataFrame =
    ltss
      .withColumn("sv", expr("try_cast(state as decimal(12,2))"))
      .withColumn("bus", bucketUs(col("time"), widthUs))
      .groupBy(col("entity_id"), col("bus"))
      .agg(max(struct(col("time"), col("sv"))).getField("sv").as("sv"))

  /** Dense per-entity bucket grid spanning each entity's own observed
    * range, left-joined to the observations: rows with null `sv` are the
    * gaps. The series axis is generated per entity from its (min, max)
    * bounds — `sequence` + `explode`, distributed with the entities. */
  def gapGrid(obs: DataFrame, widthUs: Long): DataFrame = {
    val bounds = obs.groupBy(col("entity_id"))
      .agg(min(col("bus")).as("lo"), max(col("bus")).as("hi"))
    // `sequence` materializes the whole axis as ONE array per row; for a
    // sub-minute width over a multi-year entity that is a
    // hundreds-of-MB allocation. When the width divides a day, explode
    // the DAY axis first and generate in-day buckets per day row — the
    // per-row array is bounded at max(86400s/width, span-days) and the
    // fan-out distributes across the day rows. Alignment: lo/hi and the
    // day starts are all multiples of widthUs (widthUs | DayUs), so the
    // two-level axis enumerates exactly the single-level buckets.
    val grid =
      if (DayUs % widthUs == 0)
        bounds
          .select(col("entity_id"), col("lo"), col("hi"),
            explode(sequence(
              col("lo") - pmod(col("lo"), lit(DayUs)),
              col("hi") - pmod(col("hi"), lit(DayUs)),
              lit(DayUs))).as("day"))
          .select(col("entity_id"),
            explode(sequence(
              greatest(col("lo"), col("day")),
              least(col("hi"), col("day") + lit(DayUs - widthUs)),
              lit(widthUs))).as("bus"))
      else
        bounds.select(col("entity_id"),
          explode(sequence(col("lo"), col("hi"), lit(widthUs))).as("bus"))
    grid.join(obs, Seq("entity_id", "bus"), "left")
  }

  /** LOCF gap-fill: carry the last observed value forward across gap
    * buckets (TimescaleDB `locf(last(...))`). One ascending window. */
  def gapfillLocf(ltss: DataFrame, widthUs: Long = HourUs): DataFrame = {
    val w = Window.partitionBy(col("entity_id")).orderBy(col("bus"))
    gapGrid(bucketLast(ltss, widthUs), widthUs)
      .withColumn("filled", last(col("sv"), ignoreNulls = true).over(w))
      .select(col("entity_id"), timestamp_micros(col("bus")).as("bucket"),
        col("sv").cast("double").as("observed"),
        col("filled").cast("double").as("locf"),
        col("sv").isNull.cast("int").as("is_gap"))
  }

  /** Linear-interpolation gap-fill (TimescaleDB `interpolate`): each gap
    * bucket draws the line between its nearest observations on either
    * side. Two windows — previous via the default ascending frame, next
    * via a [current row, unbounded following) frame — then one IEEE
    * expression evaluated identically by the oracle. Grid endpoints are
    * observations by construction, so interior gaps always have both
    * neighbors. */
  def gapfillInterpolate(ltss: DataFrame, widthUs: Long = HourUs): DataFrame = {
    val wPrev = Window.partitionBy(col("entity_id")).orderBy(col("bus"))
    val wNext = Window.partitionBy(col("entity_id")).orderBy(col("bus"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val obsBus = when(col("sv").isNotNull, col("bus"))
    val frac = (col("bus") - col("pb")).cast("double") /
      (col("nb") - col("pb")).cast("double")
    gapGrid(bucketLast(ltss, widthUs), widthUs)
      .withColumn("pv", last(col("sv"), ignoreNulls = true).over(wPrev))
      .withColumn("pb", last(obsBus, ignoreNulls = true).over(wPrev))
      .withColumn("nv", first(col("sv"), ignoreNulls = true).over(wNext))
      .withColumn("nb", first(obsBus, ignoreNulls = true).over(wNext))
      .select(col("entity_id"), timestamp_micros(col("bus")).as("bucket"),
        col("sv").cast("double").as("observed"),
        when(col("sv").isNotNull, col("sv").cast("double"))
          .otherwise(col("pv").cast("double") +
            (col("nv").cast("double") - col("pv").cast("double")) * frac)
          .as("interp"),
        col("sv").isNull.cast("int").as("is_gap"))
  }

  /** Time-weighted average per (entity, day) — TimescaleDB
    * `time_weight('LOCF', ...)`: each observation holds until the next
    * one, the interval is attributed to its STARTING bucket, and the
    * average weights values by held duration. Weighted sums stay exact
    * DECIMAL×BIGINT (order-independent, map-side combinable); the one
    * double division is the final expression. */
  def timeWeightedAvg(ltss: DataFrame, bucketWidthUs: Long = DayUs): DataFrame = {
    val w = Window.partitionBy(col("entity_id")).orderBy(col("time"), col("sv"))
    ltss
      .withColumn("sv", expr("try_cast(state as decimal(12,2))"))
      .withColumn("tus", unix_micros(col("time")))
      .withColumn("nt", lead(col("tus"), 1).over(w))
      .filter(col("nt").isNotNull)
      .withColumn("dur", col("nt") - col("tus"))
      .withColumn("bucket",
        timestamp_micros(col("tus") - pmod(col("tus"), lit(bucketWidthUs))))
      .groupBy(col("entity_id"), col("bucket"))
      .agg(sum(col("sv") * col("dur")).as("wsum"), sum(col("dur")).as("dursum"))
      // wsum exceeds 2^53 in cent-µs units, and DECIMAL→DOUBLE rounding
      // differs between engines there (Spark converts the exact decimal,
      // DuckDB scales an int128 through double ops). INT64→DOUBLE is
      // correctly rounded everywhere, so the division inputs go through
      // an exact BIGINT cents hop (|wsum| < 9.2e16 — guaranteed by the
      // upstream |value| < 1e16 policy at any realistic duration).
      .select(col("entity_id"), col("bucket"),
        ((col("wsum") * 100).cast("long").cast("double") /
          col("dursum").cast("double") / lit(100.0)).as("twa"),
        col("dursum").as("covered_us"))
  }

  /** Counter delta/rate per (entity, hour) — TimescaleDB `counter_agg` +
    * `delta`/`rate` semantics: a decrease means the counter reset, so the
    * new reading counts in full. `lag` per entity, then one map-side
    * combinable decimal sum per bucket; rate is the final double
    * division by the bucket width. */
  def counterRate(ltss: DataFrame, widthUs: Long = HourUs): DataFrame = {
    val w = Window.partitionBy(col("entity_id")).orderBy(col("time"), col("sv"))
    ltss
      .withColumn("sv", expr("try_cast(state as decimal(12,2))"))
      .withColumn("pv", lag(col("sv"), 1).over(w))
      .filter(col("pv").isNotNull)
      .withColumn("delta",
        when(col("sv") >= col("pv"), col("sv") - col("pv")).otherwise(col("sv")))
      .withColumn("bucket", timestamp_micros(bucketUs(col("time"), widthUs)))
      .groupBy(col("entity_id"), col("bucket"))
      .agg(sum(col("delta")).as("dsum"), count(lit(1)).as("n"))
      .select(col("entity_id"), col("bucket"),
        col("dsum").cast("double").as("delta_sum"),
        (col("dsum").cast("double") / lit(widthUs / 1000000L).cast("double"))
          .as("rate_per_s"),
        col("n"))
  }

  /** OHLC (candlestick) downsample per (entity, bucket) — the other
    * standard Grafana panel over a hypertable (TimescaleDB
    * `candlestick_agg`): open/close are the first/last observations by
    * (time, value) order, high/low the extremes. ONE hash aggregate —
    * open and close ride min/max STRUCT aggregates (map-side
    * combinable, no window, no per-bucket sort). */
  def ohlc(ltss: DataFrame, widthUs: Long = HourUs): DataFrame =
    ltss
      .withColumn("sv", expr("try_cast(state as decimal(12,2))"))
      .withColumn("bucket", timestamp_micros(bucketUs(col("time"), widthUs)))
      .groupBy(col("entity_id"), col("bucket"))
      .agg(
        min(struct(col("time"), col("sv"))).getField("sv").cast("double").as("open"),
        max(col("sv")).cast("double").as("high"),
        min(col("sv")).cast("double").as("low"),
        max(struct(col("time"), col("sv"))).getField("sv").cast("double").as("close"),
        count(lit(1)).as("n"))

  /** Discretized state-duration rollup (TimescaleDB `state_agg` +
    * `duration_in`): each observation HOLDS until the next one (the
    * hypertable's LOCF reading of a state change), and the held duration
    * accumulates per (entity, state class). The reference's table stores
    * HA states — binary sensors, climate modes — where "how long in each
    * state" is the canonical dashboard panel; the synthetic values are
    * continuous, so the class boundary is an explicit threshold CASE
    * (exact DECIMAL compares — no float in the classification).
    *
    * Shape: one `lead` window per entity closes the intervals, then ONE
    * map-side-combinable BIGINT sum per (entity, class) — the same key
    * class as every LTSS rollup. The per-entity fraction is a window
    * over the AGGREGATED frame (|entities|·|classes| rows), so the
    * second pass is over render-scale data, never raw observations. */
  def stateAgg(ltss: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("entity_id")).orderBy(col("time"), col("sv"))
    val we = Window.partitionBy(col("entity_id"))
    ltss
      .withColumn("sv", expr("try_cast(state as decimal(12,2))"))
      .withColumn("tus", unix_micros(col("time")))
      .withColumn("nt", lead(col("tus"), 1).over(w))
      .filter(col("nt").isNotNull)
      .withColumn("state_class",
        // NULL sv (a non-numeric state string) classifies 'high'
        // EXPLICITLY — the same rule stateAggStream applies to an
        // unparseable state, rather than falling there via otherwise
        when(col("sv").isNull, lit("high"))
          .when(col("sv") < 20, lit("low"))
          .when(col("sv") < 60, lit("mid"))
          .otherwise(lit("high")))
      .groupBy(col("entity_id"), col("state_class"))
      .agg(sum(col("nt") - col("tus")).as("duration_us"),
        count(lit(1)).as("n_intervals"))
      // fraction = two exact BIGINTs through one IEEE division —
      // identical on both engines.
      .withColumn("fraction", col("duration_us").cast("double") /
        sum(col("duration_us")).over(we).cast("double"))
  }

  /** Liveness/uptime rollup (TimescaleDB `heartbeat_agg` + `uptime`/
    * `downtime`/`interpolated_uptime`): every event is a heartbeat that
    * keeps the entity "live" for `livenessUs`; a longer silence is an
    * outage. Within each entity's own observed span, live time is
    * Σ min(gap, liveness) over consecutive heartbeats — the closed-form
    * union of the overlapping liveness intervals, needing only the
    * `lead` pair, never an interval merge. One window + one combinable
    * aggregate per entity; entities with a single heartbeat have no
    * span and drop out (TimescaleDB reports NULL uptime there). */
  def heartbeat(ltss: DataFrame, livenessUs: Long): DataFrame = {
    val w = Window.partitionBy(col("entity_id")).orderBy(col("time"), col("sv"))
    ltss
      .withColumn("sv", expr("try_cast(state as decimal(12,2))"))
      .withColumn("tus", unix_micros(col("time")))
      .withColumn("nt", lead(col("tus"), 1).over(w))
      .filter(col("nt").isNotNull)
      .withColumn("gap", col("nt") - col("tus"))
      .groupBy(col("entity_id"))
      .agg(
        (count(lit(1)) + 1).as("n_heartbeats"),
        (max(col("nt")) - min(col("tus"))).as("span_us"),
        sum(least(col("gap"), lit(livenessUs))).as("uptime_us"),
        sum((col("gap") > livenessUs).cast("long")).as("n_outages"))
      .select(col("entity_id"), col("n_heartbeats"), col("span_us"),
        col("uptime_us"), (col("span_us") - col("uptime_us")).as("downtime_us"),
        (col("uptime_us").cast("double") / col("span_us").cast("double"))
          .as("uptime_ratio"),
        col("n_outages"))
  }

  /** Trailing moving average per entity — the Grafana smoothing panel
    * (TimescaleDB `rolling(avg(...)) OVER (ORDER BY ... RANGE '24h')`):
    * at each observation, the average of all values in the preceding
    * `windowUs` (inclusive). A RANGE frame over epoch-µs, so irregular
    * series weight by OBSERVATIONS in the window (the time-WEIGHTED
    * variant is `ltss_time_weighted`). Exact DECIMAL sum + count per
    * frame, one IEEE division at the end; range frames group peers
    * identically on both engines. One shuffle on entity_id. */
  def movingAvg(ltss: DataFrame, windowUs: Long = DayUs): DataFrame = {
    val w = Window.partitionBy(col("entity_id")).orderBy(col("tus"))
      .rangeBetween(-windowUs, Window.currentRow)
    ltss
      .withColumn("sv", expr("try_cast(state as decimal(12,2))"))
      .withColumn("tus", unix_micros(col("time")))
      .withColumn("msum", sum(col("sv")).over(w))
      .withColumn("mcnt", count(lit(1)).over(w))
      .select(col("entity_id"), col("time"), col("sv").cast("double").as("sv"),
        (col("msum").cast("double") / col("mcnt").cast("double")).as("ma"),
        col("mcnt").as("n_window"))
  }

  /** Continuous aggregate with REAL-TIME aggregation — the TimescaleDB
    * feature an LTSS dashboard actually leans on (`CREATE MATERIALIZED
    * VIEW ... WITH (timescaledb.continuous)` + real-time aggregation):
    * the hourly rollup is MATERIALIZED up to a refresh watermark, and a
    * query merges that artifact with an on-the-fly aggregate of only the
    * tail — reading the raw stream just for the slice the
    * materialization hasn't caught up to. Here the tail scan is a
    * chunk-pruned [[graft.sources.LtssSink.chunkScan]] over the sink
    * layout (chunk exclusion does the pruning, exactly like hypertable
    * chunks under a cagg), and the merge is one combinable aggregate
    * over partials — count and DECIMAL sum combine exactly, so the
    * result is indistinguishable from aggregating the full history (the
    * oracle IS the direct full aggregate). */
  private[operators] val CaggCutoffUs = 1705795200000000L // 2024-01-21T00Z, hour-aligned

  def caggLayoutPath(s: SparkSession, d: String): String =
    graft.ScratchDirs.materializedPath("cagg", d) { p =>
      Queries.ltss(s, d)
        .filter(unix_micros(col("time")) < CaggCutoffUs)
        .withColumn("sv", expr("try_cast(state as decimal(12,2))"))
        .withColumn("bus", bucketUs(col("time"), HourUs))
        .groupBy(col("entity_id"), col("bus"))
        .agg(count(lit(1)).as("cnt"), sum(col("sv")).as("ssum"))
        .write.mode("overwrite").parquet(p)
    }

  /** The merged hourly partials (entity, bus, n, DECIMAL msum) BEFORE
    * the render cast — shared by [[caggRealtime]] and the rollup
    * hierarchy, kept exact so re-aggregated day sums equal direct
    * sums. */
  private def caggHourlyPartials(s: SparkSession, d: String): DataFrame = {
    val mat = graft.Tables.parquet(s, caggLayoutPath(s, d))
      .select(col("entity_id"), col("bus"), col("cnt"),
        col("ssum").cast("decimal(32,2)").as("ssum"))
    val live = graft.sources.LtssSink.chunkScan(s, Queries.ltssLayoutPath(s, d),
        new java.sql.Timestamp(CaggCutoffUs / 1000L),
        java.sql.Timestamp.valueOf("2030-01-01 00:00:00"))
      .withColumn("sv", expr("try_cast(state as decimal(12,2))"))
      .withColumn("bus", bucketUs(col("time"), HourUs))
      .groupBy(col("entity_id"), col("bus"))
      .agg(count(lit(1)).as("cnt"), sum(col("sv")).cast("decimal(32,2)").as("ssum"))
    mat.unionByName(live)
      .groupBy(col("entity_id"), col("bus"))
      .agg(sum(col("cnt")).as("n"), sum(col("ssum")).as("msum"))
  }

  def caggRealtime(s: SparkSession, d: String): DataFrame =
    caggHourlyPartials(s, d)
      .select(col("entity_id"), timestamp_micros(col("bus")).as("bucket"),
        col("n"), col("msum").cast("double").as("state_sum"),
        graft.functions.DetMath.avgFromSum(col("msum"), col("n")).as("state_avg"))

  /** CAGG ROLLUP HIERARCHY — TimescaleDB's "cagg on cagg" (hourly →
    * daily continuous aggregates, the standard dashboard ladder): the
    * DAY report derives ONLY from the hourly partials — materialized
    * prefix + chunk-pruned live tail, never raw rows — while the
    * oracle is the DIRECT day aggregate over the full history, so the
    * hash gate proves the exact-partial hierarchy the way
    * [[graft.operators.Queries.kmvMerge]] proves the sketch's: count
    * and DECIMAL sum form a commutative monoid, so re-aggregated hour
    * partials are indistinguishable from the direct answer at ANY
    * nesting depth. At 100 TB each ladder level reads the level below
    * (render-scale), and only the hourly level ever touches raw data. */
  def caggRollup(s: SparkSession, d: String): DataFrame =
    caggHourlyPartials(s, d)
      .withColumn("day", col("bus") - pmod(col("bus"), lit(DayUs)))
      .groupBy(col("entity_id"), col("day"))
      .agg(count(lit(1)).as("n_hours"), sum(col("n")).as("n"),
        sum(col("msum")).as("dsum"))
      .select(col("entity_id"), timestamp_micros(col("day")).as("day"),
        col("n_hours"), col("n"), col("dsum").cast("double").as("state_sum"),
        graft.functions.DetMath.avgFromSum(col("dsum"), col("n")).as("state_avg"))
      .orderBy(col("entity_id"), col("day"))

  // lazy: interpolates [[ltssBase]], which initializes later in the file
  lazy val caggRollupQ = OracleQuery(
    "ltss_cagg_rollup",
    (s, d) => caggRollup(s, d),
    Some(s"""$ltssBase
      |SELECT entity_id, make_timestamp(day) AS day,
      |       CAST(count(DISTINCT bus) AS BIGINT) AS n_hours,
      |       CAST(count(*) AS BIGINT) AS n,
      |       CAST(sum(sv) AS DOUBLE) AS state_sum,
      |       CAST(sum(sv) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS state_avg
      |FROM (
      |  SELECT entity_id,
      |         (epoch_us(time) // $HourUs) * $HourUs AS bus,
      |         (epoch_us(time) // $DayUs) * $DayUs AS day,
      |         CAST(state AS DECIMAL(12,2)) AS sv
      |  FROM base)
      |GROUP BY entity_id, day
      |ORDER BY entity_id, day""".stripMargin))

  /** Late-data RECONCILIATION of the continuous aggregate — the replay
    * path every streaming scaladoc in this repo defers to ("late events
    * drop; the batch op is the replay"), made a first-class operator
    * (TimescaleDB's invalidation-driven cagg refresh: a late row
    * invalidates exactly its bucket, and the refresh recomputes ONLY
    * invalidated buckets). Correctness rests on the partials being a
    * commutative monoid: count and DECIMAL sum combine exactly, so
    * merging the materialized partial with the late slice's partial is
    * indistinguishable from re-aggregating the bucket's full history —
    * which is precisely what the oracle does (direct aggregate over
    * original ∪ late, restricted to touched buckets).
    *
    * Scale shape: the late frame aggregates once (combinable, map-side
    * partials); the materialization is read back FILTERED to touched
    * buckets by a semi-join that the broadcast threshold decides (per
    * refresh cycle the invalidation set is small, so it broadcasts; a
    * corpus-sized backlog of late rows shuffles instead, still never a
    * rescan of raw history); output is bounded by |touched buckets|.
    * No path re-reads the pre-cutoff raw stream. */
  private[graft] def reconcile(mat: DataFrame, late: DataFrame): DataFrame = {
    val lateAgg = late
      .withColumn("sv", expr("try_cast(state as decimal(12,2))"))
      .withColumn("bus", bucketUs(col("time"), HourUs))
      .groupBy(col("entity_id"), col("bus"))
      .agg(count(lit(1)).as("cnt"), sum(col("sv")).cast("decimal(32,2)").as("ssum"))
    val touched = lateAgg.select(col("entity_id"), col("bus"))
    mat.select(col("entity_id"), col("bus"), col("cnt"),
        col("ssum").cast("decimal(32,2)").as("ssum"))
      .join(touched, Seq("entity_id", "bus"), "left_semi")
      .unionByName(lateAgg)
      .groupBy(col("entity_id"), col("bus"))
      .agg(sum(col("cnt")).as("n"), sum(col("ssum")).as("msum"))
      .select(col("entity_id"), timestamp_micros(col("bus")).as("bucket"),
        col("n"), col("msum").cast("double").as("state_sum"),
        graft.functions.DetMath.avgFromSum(col("msum"), col("n")).as("state_avg"))
  }

  /** The deterministic late slice the registered query reconciles: the
    * final pre-cutoff day's first-ten-minute rows, re-stamped 3 days
    * earlier — a backfill landing in week-old buckets (the in-query
    * enrichment device `ltss_attr_profile` uses; integer µs shift, so
    * the oracle replays it bit-for-bit). */
  private[graft] def lateArrivals(s: SparkSession, d: String): DataFrame =
    Queries.ltss(s, d)
      .filter(unix_micros(col("time")) >= CaggCutoffUs - DayUs &&
        unix_micros(col("time")) < CaggCutoffUs &&
        minute(col("time")) < 10)
      .withColumn("time",
        timestamp_micros(unix_micros(col("time")) - lit(3L * DayUs)))

  /** Event-rate anomaly detection per (domain, bucket) — the monitoring
    * panel every ops dashboard runs over a hypertable ("is this hour's
    * event rate a spike?"): flag buckets whose count sits more than
    * `sigmas` standard deviations above the domain's mean rate.
    *
    * The z-test is kept in EXACT integer arithmetic: with n buckets,
    * S1 = Σc and S2 = Σc², the condition (c − μ) > k·σ is equivalent to
    * d = n·c − S1 > 0  AND  d² > k²·(n·S2 − S1²) — all BIGINT products
    * of counts, no float in the DECISION (z itself is reported as two
    * exact ints through one sqrt + one divide, NULL when σ = 0). The
    * per-domain moments are a window over the AGGREGATED frame
    * (|domains|·|buckets| rows — render-scale), so the raw events pay
    * only the one combinable count. */
  def rateAnomaly(ltss: DataFrame, widthUs: Long = HourUs, sigmas: Int = 3): DataFrame = {
    val we = Window.partitionBy(col("domain"))
    val d = col("nb") * col("c") - col("s1")
    val varn = col("nb") * col("s2") - col("s1") * col("s1")
    ltss
      .withColumn("domain", split(col("entity_id"), "\\.").getItem(0))
      .withColumn("bus", bucketUs(col("time"), widthUs))
      .groupBy(col("domain"), col("bus"))
      .agg(count(lit(1)).as("c"))
      .withColumn("nb", count(lit(1)).over(we))
      .withColumn("s1", sum(col("c")).over(we))
      .withColumn("s2", sum(col("c") * col("c")).over(we))
      .select(col("domain"), timestamp_micros(col("bus")).as("bucket"),
        col("c").as("n_events"),
        when(varn > 0, d.cast("double") / sqrt(varn.cast("double"))).as("z"),
        (d > 0 && d * d > lit(sigmas.toLong * sigmas) * varn).cast("int")
          .as("is_anomaly"))
  }

  final case class TsPoint(entity_id: String, time: java.sql.Timestamp, sv: Double)

  /** Largest-Triangle-Three-Buckets downsample (TimescaleDB `lttb`
    * hyperfunction — the dashboard renderer's downsample: keep the nOut
    * points that preserve the series' visual shape). Selection is
    * inherently SEQUENTIAL per series (each pick depends on the previous
    * pick), so it runs as one compiled pass per entity via
    * `groupByKey(entity).flatMapGroups` — parallelism scales with
    * |entities|, and the per-task memory bound is ONE entity's series
    * (the operator's contract: it renders a chart, so the input is a
    * chart-sized slice — pre-bucket with [[bucketLast]] first for
    * unbounded histories). Pinned by a hand-computed spec AND, for the
    * registered query, by a DuckDB recursive-CTE replay of the pick
    * (see [[lttbQ]]'s oracle). */
  def lttb(ltss: DataFrame, nOut: Int): DataFrame = lttbPick(
    ltss.select(col("entity_id"), col("time"),
      expr("try_cast(state as decimal(12,2))").cast("double").as("sv")), nOut)

  /** LTTB over an UNBOUNDED history: [[bucketLast]] first (one map-side
    * combinable aggregate bounds the per-entity series at span/width
    * buckets), then the sequential pick. This is the composition the
    * [[lttb]] contract prescribes for raw series — here it is enforced
    * in the operator itself, so the per-task buffer is bounded by the
    * bucket grid (render-scale), never by the raw observation count. */
  def lttbBucketed(ltss: DataFrame, widthUs: Long, nOut: Int): DataFrame =
    lttbPick(
      bucketLast(ltss, widthUs).select(col("entity_id"),
        timestamp_micros(col("bus")).as("time"),
        col("sv").cast("double").as("sv")), nOut)

  /** The distributed pick over a prepared (entity_id, time, sv) frame:
    * one compiled pass per entity, buffer = that entity's input rows. */
  private def lttbPick(pts: DataFrame, nOut: Int): DataFrame = {
    import pts.sparkSession.implicits._
    pts
      .as[TsPoint]
      .groupByKey(_.entity_id)
      .flatMapGroups { (_, it) =>
        lttbSelect(it.toArray.sortBy(p => (p.time.getTime, p.sv)), nOut)
      }
      .toDF()
  }

  /** The sequential LTTB pick over one sorted series: endpoints always
    * kept; each of the nOut−2 middle buckets contributes the point
    * maximizing the triangle area with the PREVIOUS pick and the NEXT
    * bucket's centroid. First-max tie-break → deterministic. */
  private[graft] def lttbSelect(
      arr: IndexedSeq[TsPoint], nOut: Int): Iterator[TsPoint] = {
    val n = arr.length
    if (nOut >= n || nOut < 3) return arr.iterator
    val out = scala.collection.mutable.ArrayBuffer[TsPoint](arr(0))
    val every = (n - 2).toDouble / (nOut - 2)
    var a = 0
    var i = 0
    while (i < nOut - 2) {
      val bStart = (i * every).toInt + 1
      val bEnd = math.min(((i + 1) * every).toInt + 1, n - 1)
      val nStart = bEnd
      val nEnd = math.min(((i + 2) * every).toInt + 1, n)
      var avgX = 0.0
      var avgY = 0.0
      var j = nStart
      while (j < nEnd) { avgX += arr(j).time.getTime.toDouble; avgY += arr(j).sv; j += 1 }
      val cnt = math.max(1, nEnd - nStart)
      avgX /= cnt
      avgY /= cnt
      val ax = arr(a).time.getTime.toDouble
      val ay = arr(a).sv
      var best = bStart
      var bestArea = -1.0
      j = bStart
      while (j < bEnd) {
        val bx = arr(j).time.getTime.toDouble
        val area = math.abs((ax - avgX) * (arr(j).sv - ay) - (ax - bx) * (avgY - ay))
        if (area > bestArea) { bestArea = area; best = j }
        j += 1
      }
      out += arr(best)
      a = best
      i += 1
    }
    out += arr(n - 1)
    out.iterator
  }

  // ------------------------------------------------------------ oracle SQL

  /** Shared DuckDB CTE chain: click-domain LTSS rows → last observation
    * per hour bucket → dense per-entity grid (mirrors [[bucketLast]] +
    * [[gapGrid]]). */
  private def gapfillCte(domain: String): String =
    s"""$ltssBase,
      |obs AS (
      |  SELECT entity_id, bus, sv FROM (
      |    SELECT entity_id, (epoch_us(time) // $HourUs) * $HourUs AS bus,
      |           CAST(state AS DECIMAL(12,2)) AS sv, time,
      |           row_number() OVER (
      |             PARTITION BY entity_id, (epoch_us(time) // $HourUs) * $HourUs
      |             ORDER BY time DESC, CAST(state AS DECIMAL(12,2)) DESC) AS rn
      |    FROM base WHERE split_part(entity_id, '.', 1) = '$domain')
      |  WHERE rn = 1
      |),
      |grid AS (
      |  SELECT b.entity_id, unnest(generate_series(b.lo, b.hi, $HourUs)) AS bus
      |  FROM (SELECT entity_id, min(bus) AS lo, max(bus) AS hi
      |        FROM obs GROUP BY entity_id) b
      |),
      |joined AS (
      |  SELECT g.entity_id, g.bus, o.sv
      |  FROM grid g LEFT JOIN obs o ON o.entity_id = g.entity_id AND o.bus = g.bus
      |)""".stripMargin

  private val ltssBase = Queries.ltssCte.replace("WITH ltss AS", "WITH base AS")

  val gapfillLocfQ = OracleQuery(
    "ltss_gapfill_locf",
    (s, d) => {
      val l = Queries.ltss(s, d)
        .filter(split(col("entity_id"), "\\.").getItem(0) === "click")
      gapfillLocf(l).orderBy(col("entity_id"), col("bucket"))
    },
    Some(s"""${gapfillCte("click")}
      |SELECT entity_id, make_timestamp(bus) AS bucket,
      |       CAST(sv AS DOUBLE) AS observed,
      |       CAST(last_value(sv IGNORE NULLS)
      |              OVER (PARTITION BY entity_id ORDER BY bus) AS DOUBLE) AS locf,
      |       CAST(sv IS NULL AS INT) AS is_gap
      |FROM joined
      |ORDER BY entity_id, bucket""".stripMargin))

  val gapfillInterpQ = OracleQuery(
    "ltss_gapfill_interp",
    (s, d) => {
      val l = Queries.ltss(s, d)
        .filter(split(col("entity_id"), "\\.").getItem(0) === "click")
      gapfillInterpolate(l).orderBy(col("entity_id"), col("bucket"))
    },
    Some(s"""${gapfillCte("click")}
      |SELECT entity_id, make_timestamp(bus) AS bucket,
      |       CAST(sv AS DOUBLE) AS observed,
      |       CASE WHEN sv IS NOT NULL THEN CAST(sv AS DOUBLE)
      |            ELSE CAST(pv AS DOUBLE) +
      |                 (CAST(nv AS DOUBLE) - CAST(pv AS DOUBLE)) *
      |                 (CAST(bus - pb AS DOUBLE) / CAST(nb - pb AS DOUBLE)) END AS interp,
      |       CAST(sv IS NULL AS INT) AS is_gap
      |FROM (
      |  SELECT entity_id, bus, sv,
      |         last_value(sv IGNORE NULLS) OVER w AS pv,
      |         last_value(CASE WHEN sv IS NOT NULL THEN bus END IGNORE NULLS)
      |           OVER w AS pb,
      |         first_value(sv IGNORE NULLS) OVER wf AS nv,
      |         first_value(CASE WHEN sv IS NOT NULL THEN bus END IGNORE NULLS)
      |           OVER wf AS nb
      |  FROM joined
      |  WINDOW w AS (PARTITION BY entity_id ORDER BY bus),
      |         wf AS (PARTITION BY entity_id ORDER BY bus
      |                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
      |ORDER BY entity_id, bucket""".stripMargin))

  val timeWeightedQ = OracleQuery(
    "ltss_time_weighted",
    (s, d) => {
      val l = Queries.ltss(s, d)
        .filter(split(col("entity_id"), "\\.").getItem(0) === "click")
      timeWeightedAvg(l).orderBy(col("entity_id"), col("bucket"))
    },
    Some(s"""$ltssBase
      |SELECT entity_id, bucket,
      |       CAST(CAST(wsum * 100 AS BIGINT) AS DOUBLE)
      |         / CAST(dursum AS DOUBLE) / 100.0 AS twa,
      |       CAST(dursum AS BIGINT) AS covered_us
      |FROM (
      |  SELECT entity_id, bucket, sum(sv * dur) AS wsum, sum(dur) AS dursum
      |  FROM (
      |    SELECT entity_id,
      |           make_timestamp((tus // $DayUs) * $DayUs) AS bucket,
      |           sv, nt - tus AS dur
      |    FROM (
      |      SELECT entity_id, CAST(state AS DECIMAL(12,2)) AS sv,
      |             epoch_us(time) AS tus,
      |             lead(epoch_us(time), 1) OVER (
      |               PARTITION BY entity_id
      |               ORDER BY time, CAST(state AS DECIMAL(12,2))) AS nt
      |      FROM base WHERE split_part(entity_id, '.', 1) = 'click')
      |    WHERE nt IS NOT NULL)
      |  GROUP BY 1, 2)
      |ORDER BY entity_id, bucket""".stripMargin))

  val counterRateQ = OracleQuery(
    "ltss_counter_rate",
    (s, d) => {
      val l = Queries.ltss(s, d)
        .filter(split(col("entity_id"), "\\.").getItem(0) === "purchase")
      counterRate(l).orderBy(col("entity_id"), col("bucket"))
    },
    Some(s"""$ltssBase
      |SELECT entity_id, bucket,
      |       CAST(sum(delta) AS DOUBLE) AS delta_sum,
      |       CAST(sum(delta) AS DOUBLE) / 3600.0 AS rate_per_s,
      |       CAST(count(*) AS BIGINT) AS n
      |FROM (
      |  SELECT entity_id,
      |         make_timestamp((epoch_us(time) // $HourUs) * $HourUs) AS bucket,
      |         CASE WHEN sv >= pv THEN sv - pv ELSE sv END AS delta
      |  FROM (
      |    SELECT entity_id, time, CAST(state AS DECIMAL(12,2)) AS sv,
      |           lag(CAST(state AS DECIMAL(12,2)), 1) OVER (
      |             PARTITION BY entity_id
      |             ORDER BY time, CAST(state AS DECIMAL(12,2))) AS pv
      |    FROM base WHERE split_part(entity_id, '.', 1) = 'purchase')
      |  WHERE pv IS NOT NULL)
      |GROUP BY entity_id, bucket
      |ORDER BY entity_id, bucket""".stripMargin))

  val ohlcQ = OracleQuery(
    "ltss_ohlc",
    (s, d) => {
      val l = Queries.ltss(s, d)
        .filter(split(col("entity_id"), "\\.").getItem(0) === "click")
      ohlc(l).orderBy(col("entity_id"), col("bucket"))
    },
    Some(s"""$ltssBase
      |SELECT entity_id, bucket,
      |       CAST(min(ts_sv).sv AS DOUBLE) AS open,
      |       CAST(max(sv) AS DOUBLE) AS high,
      |       CAST(min(sv) AS DOUBLE) AS low,
      |       CAST(max(ts_sv).sv AS DOUBLE) AS close,
      |       CAST(count(*) AS BIGINT) AS n
      |FROM (
      |  SELECT entity_id,
      |         make_timestamp((epoch_us(time) // $HourUs) * $HourUs) AS bucket,
      |         CAST(state AS DECIMAL(12,2)) AS sv,
      |         {'time': time, 'sv': CAST(state AS DECIMAL(12,2))} AS ts_sv
      |  FROM base WHERE split_part(entity_id, '.', 1) = 'click')
      |GROUP BY entity_id, bucket
      |ORDER BY entity_id, bucket""".stripMargin))

  /** Linear-trend rollup per entity (TimescaleDB's `stats_agg` 2-D
    * accumulator → `slope`/`intercept`/`corr`): ordinary least squares
    * of value against time, from the FIVE classic sufficient sums
    * (Σx, Σy, Σxy, Σx², Σy²) — each an exact DECIMAL aggregate that
    * partial-combines map-side and is order-independent, so the rollup
    * is ONE combinable hash aggregate at any scale, like every stats_agg
    * rollup. x is integer seconds rebased to 2024-01-01 (the data
    * epoch), keeping x² within DECIMAL(38); the closing slope/
    * intercept/r² arithmetic runs as an identical IEEE chain on both
    * engines over the exact sums. Entities with a degenerate time
    * variance (all observations in one second) are excluded by the
    * varx > 0 gate — evaluated on the same double both engines
    * compute, so the gate itself is engine-identical. Rows whose state
    * does not parse as a number are skipped ENTIRELY (not just from the
    * y sums): the cast-NULL filter runs before the aggregate so n, sx,
    * sxx describe the same row set as sy, sxy, syy — the same skip rule
    * [[graft.streaming.StreamingOps.trendStream]] applies, keeping the
    * batch/stream twin bit-equal on corpora with non-numeric states.
    * The rebased x uses FLOOR division (the (v − pmod) div form), so
    * pre-epoch timestamps agree with the stream's floorDiv and the
    * oracle's `//`. */
  /** 2024-01-01T00:00:00Z — the data epoch [[trend]] rebases x onto;
    * shared with the streaming twin so their sums agree bit-exactly. */
  val TrendBaseUs = 1704067200000000L

  def trend(ltss: DataFrame): DataFrame = {
    val BaseUs = TrendBaseUs
    val d = (c: Column) => c.cast("double")
    ltss
      .withColumn("v", expr(s"unix_micros(time) - ${BaseUs}L"))
      .withColumn("x", expr("(v - pmod(v, 1000000)) div 1000000"))
      // try_cast, not cast: under ANSI (Spark 4 default) a plain cast
      // would THROW on a non-numeric state instead of skipping the row
      .withColumn("y", expr("try_cast(state as decimal(12,2))"))
      .filter(col("y").isNotNull)
      .groupBy(col("entity_id"))
      .agg(count(lit(1)).as("n"),
        sum(col("x").cast("decimal(20,0)")).as("sx"),
        sum(col("y")).as("sy"),
        sum((col("x") * col("x")).cast("decimal(38,0)")).as("sxx"),
        sum(col("x").cast("decimal(20,0)") * col("y")).as("sxy"),
        sum(col("y") * col("y")).as("syy"))
      .withColumn("num", d(col("n")) * d(col("sxy")) - d(col("sx")) * d(col("sy")))
      .withColumn("varx", d(col("n")) * d(col("sxx")) - d(col("sx")) * d(col("sx")))
      .withColumn("vary", d(col("n")) * d(col("syy")) - d(col("sy")) * d(col("sy")))
      .filter(col("varx") > 0)
      .withColumn("slope", col("num") / col("varx"))
      .select(col("entity_id"), col("n"), col("slope"),
        ((d(col("sy")) - col("slope") * d(col("sx"))) / d(col("n"))).as("intercept"),
        ((col("num") * col("num")) / (col("varx") * col("vary"))).as("r2"))
  }

  /** Windowed time-in-state (TimescaleDB `duration_in(state_agg, …)`
    * rolled up per day): each hold interval [t, next) — the reading's
    * value held until the next reading, as in [[stateAgg]] — is SPLIT
    * ACROSS the day buckets it crosses, so a day's total is the exact
    * time spent in each class within that day, not a whole-interval
    * attribution to its start bucket. The split is an `explode` over
    * the interval's covered days (bounded by span-days, distributed
    * with the rows) and the overlap arithmetic is all-integer µs:
    * min(next, day_end) − max(t, day_start). One combinable aggregate
    * after the fan-out. Zero-duration intervals contribute no time and
    * are dropped before the fan-out (unlike [[stateAgg]]'s n_intervals,
    * which counts them — documented divergence: this is a DURATION
    * rollup). */
  def stateTimeline(ltss: DataFrame, widthUs: Long = DayUs): DataFrame = {
    val w = Window.partitionBy(col("entity_id")).orderBy(col("time"), col("sv"))
    ltss
      .withColumn("sv", expr("try_cast(state as decimal(12,2))"))
      .withColumn("tus", unix_micros(col("time")))
      .withColumn("nt", lead(col("tus"), 1).over(w))
      .filter(col("nt").isNotNull && col("nt") > col("tus"))
      .withColumn("state_class",
        when(col("sv").isNull, lit("high"))
          .when(col("sv") < 20, lit("low"))
          .when(col("sv") < 60, lit("mid"))
          .otherwise(lit("high")))
      .withColumn("b",
        explode(expr(s"sequence(tus div ${widthUs}L, (nt - 1) div ${widthUs}L)")))
      .withColumn("dur",
        least(col("nt"), (col("b") + 1) * widthUs) -
          greatest(col("tus"), col("b") * widthUs))
      .groupBy(col("entity_id"), col("b"), col("state_class"))
      .agg(sum(col("dur")).as("duration_us"), count(lit(1)).as("n_intervals"))
      .select(col("entity_id"), timestamp_micros(col("b") * widthUs).as("bucket"),
        col("state_class"), col("duration_us"), col("n_intervals"))
  }

  /** Interpolated time-weighted average per (entity, day) — TimescaleDB
    * `interpolated_average`: where [[timeWeighted]] attributes a whole
    * hold interval to its start, this splits each interval's
    * value·duration weight EXACTLY across the day buckets it crosses
    * (the value held across midnight weights both days by the time it
    * actually held in each). Same split fan-out as [[stateTimeline]];
    * the weighted sums stay exact DECIMAL·BIGINT products and the one
    * IEEE division closes per bucket. */
  def interpolatedTwa(ltss: DataFrame, widthUs: Long = DayUs): DataFrame = {
    val w = Window.partitionBy(col("entity_id")).orderBy(col("time"), col("sv"))
    ltss
      .withColumn("sv", expr("try_cast(state as decimal(12,2))"))
      .withColumn("tus", unix_micros(col("time")))
      .withColumn("nt", lead(col("tus"), 1).over(w))
      .filter(col("nt").isNotNull && col("nt") > col("tus"))
      .withColumn("b",
        explode(expr(s"sequence(tus div ${widthUs}L, (nt - 1) div ${widthUs}L)")))
      .withColumn("dur",
        least(col("nt"), (col("b") + 1) * widthUs) -
          greatest(col("tus"), col("b") * widthUs))
      .groupBy(col("entity_id"), col("b"))
      .agg(sum(col("sv") * col("dur")).as("wsum"), sum(col("dur")).as("dsum"))
      .select(col("entity_id"), timestamp_micros(col("b") * widthUs).as("bucket"),
        (col("wsum").cast("double") / col("dsum").cast("double")).as("twa"),
        col("dsum").as("covered_us"))
  }

  val interpTwaQ = OracleQuery(
    "ltss_interp_twa",
    (s, d) => {
      val l = Queries.ltss(s, d)
        .filter(split(col("entity_id"), "\\.").getItem(0) === "view")
      interpolatedTwa(l).orderBy(col("entity_id"), col("bucket"))
    },
    Some(s"""$ltssBase,
      |iv AS (
      |  SELECT entity_id, sv, tus, nt FROM (
      |    SELECT entity_id, CAST(state AS DECIMAL(12,2)) AS sv,
      |           epoch_us(time) AS tus,
      |           lead(epoch_us(time), 1) OVER (
      |             PARTITION BY entity_id
      |             ORDER BY time, CAST(state AS DECIMAL(12,2))) AS nt
      |    FROM base WHERE split_part(entity_id, '.', 1) = 'view')
      |  WHERE nt IS NOT NULL AND nt > tus
      |),
      |fan AS (
      |  SELECT entity_id, sv, tus, nt,
      |         unnest(generate_series(tus // $DayUs, (nt - 1) // $DayUs)) AS b
      |  FROM iv
      |),
      |agg AS (
      |  SELECT entity_id, b,
      |         sum(sv * (least(nt, (b + 1) * $DayUs) - greatest(tus, b * $DayUs))) AS wsum,
      |         CAST(sum(least(nt, (b + 1) * $DayUs) - greatest(tus, b * $DayUs)) AS BIGINT) AS dsum
      |  FROM fan GROUP BY entity_id, b
      |)
      |SELECT entity_id, make_timestamp(b * $DayUs) AS bucket,
      |       CAST(wsum AS DOUBLE) / CAST(dsum AS DOUBLE) AS twa,
      |       dsum AS covered_us
      |FROM agg
      |ORDER BY entity_id, bucket""".stripMargin))

  val stateTimelineQ = OracleQuery(
    "ltss_state_timeline",
    (s, d) => {
      val l = Queries.ltss(s, d)
        .filter(split(col("entity_id"), "\\.").getItem(0) === "view")
      stateTimeline(l).orderBy(col("entity_id"), col("bucket"), col("state_class"))
    },
    Some(s"""$ltssBase,
      |iv AS (
      |  SELECT entity_id, sv, tus, nt,
      |         CASE WHEN sv < 20 THEN 'low'
      |              WHEN sv < 60 THEN 'mid' ELSE 'high' END AS state_class
      |  FROM (
      |    SELECT entity_id, CAST(state AS DECIMAL(12,2)) AS sv,
      |           epoch_us(time) AS tus,
      |           lead(epoch_us(time), 1) OVER (
      |             PARTITION BY entity_id
      |             ORDER BY time, CAST(state AS DECIMAL(12,2))) AS nt
      |    FROM base WHERE split_part(entity_id, '.', 1) = 'view')
      |  WHERE nt IS NOT NULL AND nt > tus
      |),
      |fan AS (
      |  SELECT entity_id, state_class, tus, nt,
      |         unnest(generate_series(tus // $DayUs, (nt - 1) // $DayUs)) AS b
      |  FROM iv
      |)
      |SELECT entity_id, make_timestamp(b * $DayUs) AS bucket, state_class,
      |       CAST(sum(least(nt, (b + 1) * $DayUs) - greatest(tus, b * $DayUs)) AS BIGINT)
      |         AS duration_us,
      |       CAST(count(*) AS BIGINT) AS n_intervals
      |FROM fan
      |GROUP BY entity_id, b, state_class
      |ORDER BY entity_id, bucket, state_class""".stripMargin))

  val trendQ = OracleQuery(
    "ltss_trend",
    (s, d) => trend(Queries.ltss(s, d)).orderBy(col("entity_id")),
    Some(s"""$ltssBase,
      |t AS (
      |  SELECT entity_id,
      |         (epoch_us(time) - 1704067200000000) // 1000000 AS x,
      |         TRY_CAST(state AS DECIMAL(12,2)) AS y
      |  FROM base
      |  WHERE TRY_CAST(state AS DECIMAL(12,2)) IS NOT NULL
      |), a AS (
      |  SELECT entity_id, CAST(count(*) AS BIGINT) AS n,
      |         SUM(CAST(x AS DECIMAL(20,0))) AS sx,
      |         SUM(y) AS sy,
      |         SUM(CAST(x*x AS DECIMAL(38,0))) AS sxx,
      |         SUM(CAST(x AS DECIMAL(20,0)) * y) AS sxy,
      |         SUM(y*y) AS syy
      |  FROM t GROUP BY entity_id
      |), b AS (
      |  SELECT entity_id, n, sx, sy,
      |         CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE) AS num,
      |         CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE) AS varx,
      |         CAST(n AS DOUBLE)*CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE) AS vary
      |  FROM a
      |), c AS (
      |  SELECT entity_id, n, sx, sy, num, varx, vary, num / varx AS slope
      |  FROM b WHERE varx > 0
      |)
      |SELECT entity_id, n, slope,
      |       (CAST(sy AS DOUBLE) - slope * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) AS intercept,
      |       (num * num) / (varx * vary) AS r2
      |FROM c ORDER BY entity_id""".stripMargin))

  val lttbQ = OracleQuery(
    "ltss_lttb",
    (s, d) => {
      val l = Queries.ltss(s, d)
        .filter(split(col("entity_id"), "\\.").getItem(0) === "click")
      // the raw click series is unbounded — feed the pick through the
      // bucket grid so the flagship query obeys lttb's own memory
      // contract (buffer = 15-min buckets over the span, not raw rows)
      lttbBucketed(l, widthUs = 15L * 60 * 1000000, nOut = 20)
        .orderBy(col("entity_id"), col("time"), col("sv"))
    },
    // The sequential pick IS SQL-expressible after all (r8 verdict #2):
    // bucket boundaries and next-bucket centroids are pick-INDEPENDENT
    // (they depend only on n and nOut), so they precompute as plain
    // CTEs; only the argmax chain is sequential, and a recursive CTE
    // carries the previous pick per entity while list lambdas replay
    // the scan (list_transform computes each candidate's triangle area
    // against the carried pick and the precomputed centroid;
    // list_reduce keeps the FIRST strict max, exactly lttbSelect's
    // `area > bestArea` loop). Bit-parity argument per DetMath: x
    // sums are integer ms (exact in both engines), the sv centroid
    // sum replays the operator's left-assoc double adds via
    // list_reduce over the idx-ordered list, and the area chain is
    // the same correctly-rounded IEEE ops in the same order. Bucket
    // index arithmetic replays (i*every).toInt as floor-cast (every
    // > 1 here since the pick only runs when n > nOut). Entities at
    // or under nOut points pass through whole, same as the operator.
    Some {
      val W = 15L * 60 * 1000000
      val nOut = 20
      s"""${ltssBase.replace("WITH base AS", "WITH RECURSIVE base AS")},
        |pts AS (
        |  SELECT entity_id,
        |         (epoch_us(time) // $W) * $W AS bus,
        |         CAST(max({'time': time, 'sv': CAST(state AS DECIMAL(12,2))}).sv AS DOUBLE) AS sv
        |  FROM base WHERE split_part(entity_id, '.', 1) = 'click'
        |  GROUP BY entity_id, bus
        |),
        |srt AS (
        |  SELECT entity_id, bus, sv,
        |         bus // 1000 AS xm,
        |         CAST(bus // 1000 AS DOUBLE) AS x,
        |         row_number() OVER (PARTITION BY entity_id ORDER BY bus, sv) - 1 AS i,
        |         count(*) OVER (PARTITION BY entity_id) AS n
        |  FROM pts
        |),
        |big AS (SELECT * FROM srt WHERE n > $nOut),
        |bkt AS (
        |  SELECT e.entity_id, e.n, u.k,
        |         CAST(floor(CAST(u.k AS DOUBLE) * e.e) AS BIGINT) + 1 AS bstart,
        |         least(CAST(floor(CAST(u.k + 1 AS DOUBLE) * e.e) AS BIGINT) + 1, e.n - 1) AS bend,
        |         least(CAST(floor(CAST(u.k + 2 AS DOUBLE) * e.e) AS BIGINT) + 1, e.n) AS nend
        |  FROM (SELECT DISTINCT entity_id, n, CAST(n - 2 AS DOUBLE) / ${nOut - 2} AS e FROM big) e,
        |       (SELECT unnest(generate_series(0, ${nOut - 3})) AS k) u
        |),
        |cent AS (
        |  SELECT b.entity_id, b.k,
        |         CASE WHEN count(g.i) = 0 THEN 0.0
        |              ELSE CAST(sum(g.xm) AS DOUBLE) / CAST(greatest(1, b.nend - b.bend) AS DOUBLE)
        |         END AS avgx,
        |         CASE WHEN count(g.i) = 0 THEN 0.0
        |              ELSE list_reduce(list(g.sv ORDER BY g.i), (a, c) -> a + c)
        |                   / CAST(greatest(1, b.nend - b.bend) AS DOUBLE)
        |         END AS avgy
        |  FROM bkt b LEFT JOIN big g
        |    ON g.entity_id = b.entity_id AND g.i >= b.bend AND g.i < b.nend
        |  GROUP BY b.entity_id, b.k, b.bend, b.nend
        |),
        |bk AS (
        |  SELECT b.entity_id, b.k, any_value(c.avgx) AS avgx, any_value(c.avgy) AS avgy,
        |         list({'i': g.i, 'x': g.x, 'sv': g.sv} ORDER BY g.i) AS cl
        |  FROM bkt b
        |  JOIN cent c ON c.entity_id = b.entity_id AND c.k = b.k
        |  JOIN big g ON g.entity_id = b.entity_id AND g.i >= b.bstart AND g.i < b.bend
        |  GROUP BY b.entity_id, b.k
        |),
        |pick AS (
        |  SELECT entity_id, CAST(-1 AS BIGINT) AS k, i AS pi, x AS px, sv AS psv
        |  FROM big WHERE i = 0
        |  UNION ALL
        |  SELECT entity_id, k, best.i AS pi, best.x AS px, best.sv AS psv FROM (
        |    SELECT p.entity_id, p.k + 1 AS k,
        |           list_reduce(
        |             list_transform(b.cl, c -> {'i': c.i, 'x': c.x, 'sv': c.sv,
        |               'a': abs((p.px - b.avgx) * (c.sv - p.psv) - (p.px - c.x) * (b.avgy - p.psv))}),
        |             (acc, c) -> CASE WHEN c.a > acc.a THEN c ELSE acc END) AS best
        |    FROM pick p JOIN bk b ON b.entity_id = p.entity_id AND b.k = p.k + 1
        |  )
        |),
        |res AS (
        |  SELECT entity_id, bus, sv FROM srt WHERE n <= $nOut
        |  UNION ALL
        |  SELECT p.entity_id, g.bus, g.sv
        |  FROM pick p JOIN big g ON g.entity_id = p.entity_id AND g.i = p.pi
        |  UNION ALL
        |  SELECT entity_id, bus, sv FROM big WHERE i = n - 1
        |)
        |SELECT entity_id, make_timestamp(bus) AS time, sv
        |FROM res ORDER BY entity_id, time, sv""".stripMargin
    })

  /** The BUCKET STAGE of [[lttbQ]], oracle-checked on its own: this
    * row hash-verifies exactly the frame the pick consumes (same
    * filter, same 15-min width). [[lttbQ]] now hash-checks the full
    * chain including the pick; keeping the grid row too localizes a
    * future mismatch to bucket stage vs pick. */
  val lttbGridQ = OracleQuery(
    "ltss_lttb_grid",
    (s, d) => {
      val l = Queries.ltss(s, d)
        .filter(split(col("entity_id"), "\\.").getItem(0) === "click")
      bucketLast(l, widthUs = 15L * 60 * 1000000)
        .select(col("entity_id"), timestamp_micros(col("bus")).as("bucket"),
          col("sv").cast("double").as("sv"))
        .orderBy(col("entity_id"), col("bucket"))
    },
    Some(s"""$ltssBase
      |SELECT entity_id,
      |       make_timestamp((epoch_us(time) // ${15L * 60 * 1000000}) * ${15L * 60 * 1000000}) AS bucket,
      |       CAST(max({'time': time, 'sv': CAST(state AS DECIMAL(12,2))}).sv AS DOUBLE) AS sv
      |FROM base WHERE split_part(entity_id, '.', 1) = 'click'
      |GROUP BY entity_id, bucket
      |ORDER BY entity_id, bucket""".stripMargin))

  val stateAggQ = OracleQuery(
    "ltss_state_agg",
    (s, d) => {
      val l = Queries.ltss(s, d)
        .filter(split(col("entity_id"), "\\.").getItem(0) === "view")
      stateAgg(l).orderBy(col("entity_id"), col("state_class"))
    },
    Some(s"""$ltssBase
      |SELECT entity_id, state_class,
      |       CAST(sum(dur) AS BIGINT) AS duration_us,
      |       CAST(count(*) AS BIGINT) AS n_intervals,
      |       CAST(sum(dur) AS DOUBLE)
      |         / CAST(sum(sum(dur)) OVER (PARTITION BY entity_id) AS DOUBLE)
      |         AS fraction
      |FROM (
      |  SELECT entity_id,
      |         CASE WHEN sv < 20 THEN 'low'
      |              WHEN sv < 60 THEN 'mid' ELSE 'high' END AS state_class,
      |         nt - tus AS dur
      |  FROM (
      |    SELECT entity_id, CAST(state AS DECIMAL(12,2)) AS sv,
      |           epoch_us(time) AS tus,
      |           lead(epoch_us(time), 1) OVER (
      |             PARTITION BY entity_id
      |             ORDER BY time, CAST(state AS DECIMAL(12,2))) AS nt
      |    FROM base WHERE split_part(entity_id, '.', 1) = 'view')
      |  WHERE nt IS NOT NULL)
      |GROUP BY entity_id, state_class
      |ORDER BY entity_id, state_class""".stripMargin))

  /** 48 h liveness: ~2/3 of the synthetic inter-event gaps are shorter
    * (median 35 h), so entities report real uptime AND real outages. */
  private[graft] val LivenessUs = 48L * 3600000000L

  val heartbeatQ = OracleQuery(
    "ltss_heartbeat",
    (s, d) => {
      val l = Queries.ltss(s, d)
        .filter(split(col("entity_id"), "\\.").getItem(0) === "signup")
      heartbeat(l, LivenessUs).orderBy(col("entity_id"))
    },
    Some(s"""$ltssBase
      |SELECT entity_id,
      |       CAST(count(*) + 1 AS BIGINT) AS n_heartbeats,
      |       CAST(max(nt) - min(tus) AS BIGINT) AS span_us,
      |       CAST(sum(least(nt - tus, $LivenessUs)) AS BIGINT) AS uptime_us,
      |       CAST((max(nt) - min(tus)) - sum(least(nt - tus, $LivenessUs))
      |            AS BIGINT) AS downtime_us,
      |       CAST(sum(least(nt - tus, $LivenessUs)) AS DOUBLE)
      |         / CAST(max(nt) - min(tus) AS DOUBLE) AS uptime_ratio,
      |       CAST(sum(CASE WHEN nt - tus > $LivenessUs THEN 1 ELSE 0 END)
      |            AS BIGINT) AS n_outages
      |FROM (${gapChainSql("signup")})
      |WHERE nt IS NOT NULL
      |GROUP BY entity_id
      |ORDER BY entity_id""".stripMargin))

  /** The heartbeat gap construction as DuckDB SQL (entity_id, tus, nt
    * over one domain's observations) — shared by [[heartbeatQ]] and
    * [[sloQ]] so the liveness reading cannot drift between the uptime
    * rollup and the budget report built on it. */
  private def gapChainSql(domain: String): String =
    s"""SELECT entity_id, epoch_us(time) AS tus,
       |       lead(epoch_us(time), 1) OVER (
       |         PARTITION BY entity_id
       |         ORDER BY time, CAST(state AS DECIMAL(12,2))) AS nt
       |FROM base WHERE split_part(entity_id, '.', 1) = '$domain'""".stripMargin

  /** SLO / error-budget report — the panel an uptime dashboard actually
    * renders from the heartbeat rollup: per entity, the observed span,
    * up/down time, and the REMAINING ERROR BUDGET against a 90% uptime
    * target — all-integer µs arithmetic (allowed = span div 10; the
    * met/missed verdict is the cross-multiplied integer compare
    * downtime·10 ≤ span, so no ratio ever forms). Composes the same
    * [[heartbeat]] frame as `ltss_heartbeat` — one window + one
    * combinable aggregate per entity — and adds only map-side
    * arithmetic on the |entities|-row rollup. */
  val SloDen = 10L
  val sloQ = OracleQuery(
    "ltss_slo",
    (s, d) => {
      val l = Queries.ltss(s, d)
        .filter(split(col("entity_id"), "\\.").getItem(0) === "purchase")
      heartbeat(l, LivenessUs)
        .select(col("entity_id"), col("span_us"), col("uptime_us"),
          col("downtime_us"), col("n_outages"))
        .withColumn("allowed_down_us", expr(s"span_us div $SloDen"))
        .withColumn("budget_remaining_us",
          col("allowed_down_us") - col("downtime_us"))
        .withColumn("slo_met",
          (col("downtime_us") * SloDen <= col("span_us")).cast("int"))
        .orderBy(col("entity_id"))
    },
    Some(s"""$ltssBase
      |SELECT entity_id, span_us, uptime_us, downtime_us, n_outages,
      |       span_us // $SloDen AS allowed_down_us,
      |       span_us // $SloDen - downtime_us AS budget_remaining_us,
      |       CAST(downtime_us * $SloDen <= span_us AS INT) AS slo_met
      |FROM (
      |  SELECT entity_id,
      |         CAST(max(nt) - min(tus) AS BIGINT) AS span_us,
      |         CAST(sum(least(nt - tus, $LivenessUs)) AS BIGINT) AS uptime_us,
      |         CAST((max(nt) - min(tus)) - sum(least(nt - tus, $LivenessUs))
      |              AS BIGINT) AS downtime_us,
      |         CAST(sum(CASE WHEN nt - tus > $LivenessUs THEN 1 ELSE 0 END)
      |              AS BIGINT) AS n_outages
      |  FROM (${gapChainSql("purchase")})
      |  WHERE nt IS NOT NULL
      |  GROUP BY entity_id)
      |ORDER BY entity_id""".stripMargin))

  /** Domain-level state-transition MATRIX (the Markov view of the state
    * stream): per (domain, from_class, to_class) — same low/mid/high
    * classes as `ltss_state_agg` — the transition count, the from-class
    * row total, and the empirical transition probability (two exact
    * BIGINTs through ONE IEEE division). The diagonal is kept:
    * self-transitions are what distinguish a sticky state from a
    * flapping one. Scale shape: one per-entity lag window (the
    * `ltss_transitions` class), then a combinable count to a
    * ≤ |domains|·9-row frame — the row totals are a window over THAT
    * frame, never the raw stream. */
  val markovQ = OracleQuery(
    "ltss_markov",
    (s, d) => {
      val w = Window.partitionBy(col("entity_id")).orderBy(col("time"), col("sv"))
      val wf = Window.partitionBy(col("domain"), col("from_class"))
      Queries.ltss(s, d)
        .withColumn("sv", expr("try_cast(state as decimal(12,2))"))
        .withColumn("domain", split(col("entity_id"), "\\.").getItem(0))
        .withColumn("cls",
          when(col("sv").isNull, lit("high"))
            .when(col("sv") < 20, lit("low"))
            .when(col("sv") < 60, lit("mid"))
            .otherwise(lit("high")))
        .withColumn("from_class", lag(col("cls"), 1).over(w))
        .filter(col("from_class").isNotNull)
        .groupBy(col("domain"), col("from_class"), col("cls"))
        .agg(count(lit(1)).as("n"))
        .withColumn("total", sum(col("n")).over(wf))
        .select(col("domain"), col("from_class"), col("cls").as("to_class"),
          col("n"), col("total"),
          (col("n").cast("double") / col("total").cast("double")).as("prob"))
        .orderBy(col("domain"), col("from_class"), col("to_class"))
    },
    Some(s"""$ltssBase
      |SELECT domain, from_class, to_class, n, total,
      |       CAST(n AS DOUBLE) / CAST(total AS DOUBLE) AS prob
      |FROM (
      |  SELECT domain, from_class, to_class,
      |         CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(count(*)) OVER (PARTITION BY domain, from_class)
      |              AS BIGINT) AS total
      |  FROM (
      |    SELECT split_part(entity_id, '.', 1) AS domain,
      |           lag(cls) OVER (PARTITION BY entity_id
      |                          ORDER BY time, sv) AS from_class,
      |           cls AS to_class
      |    FROM (
      |      SELECT entity_id, time, CAST(state AS DECIMAL(12,2)) AS sv,
      |             CASE WHEN CAST(state AS DECIMAL(12,2)) < 20 THEN 'low'
      |                  WHEN CAST(state AS DECIMAL(12,2)) < 60 THEN 'mid'
      |                  ELSE 'high' END AS cls
      |      FROM base))
      |  WHERE from_class IS NOT NULL
      |  GROUP BY domain, from_class, to_class)
      |ORDER BY domain, from_class, to_class""".stripMargin))

  val rateAnomalyQ = OracleQuery(
    "ltss_rate_anomaly",
    (s, d) =>
      rateAnomaly(Queries.ltss(s, d)).orderBy(col("domain"), col("bucket")),
    Some(s"""$ltssBase,
      |c AS (
      |  SELECT split_part(entity_id, '.', 1) AS domain,
      |         (epoch_us(time) // $HourUs) * $HourUs AS bus,
      |         CAST(count(*) AS BIGINT) AS c
      |  FROM base GROUP BY 1, 2
      |), s AS (
      |  SELECT domain, bus, c,
      |         CAST(count(*) OVER (PARTITION BY domain) AS BIGINT) AS nb,
      |         CAST(sum(c) OVER (PARTITION BY domain) AS BIGINT) AS s1,
      |         CAST(sum(c * c) OVER (PARTITION BY domain) AS BIGINT) AS s2
      |  FROM c
      |)
      |SELECT domain, make_timestamp(bus) AS bucket, c AS n_events,
      |       CASE WHEN nb * s2 - s1 * s1 > 0
      |            THEN CAST(nb * c - s1 AS DOUBLE)
      |                 / sqrt(CAST(nb * s2 - s1 * s1 AS DOUBLE)) END AS z,
      |       CAST(nb * c - s1 > 0 AND
      |            (nb * c - s1) * (nb * c - s1) > 9 * (nb * s2 - s1 * s1)
      |            AS INT) AS is_anomaly
      |FROM s
      |ORDER BY domain, bucket""".stripMargin))

  val movingAvgQ = OracleQuery(
    "ltss_moving_avg",
    (s, d) => {
      val l = Queries.ltss(s, d)
        .filter(split(col("entity_id"), "\\.").getItem(0) === "purchase")
      movingAvg(l).orderBy(col("entity_id"), col("time"), col("sv"))
    },
    Some(s"""$ltssBase
      |SELECT entity_id, time, CAST(sv AS DOUBLE) AS sv,
      |       CAST(msum AS DOUBLE) / CAST(mcnt AS DOUBLE) AS ma,
      |       CAST(mcnt AS BIGINT) AS n_window
      |FROM (
      |  SELECT entity_id, time, sv,
      |         sum(sv) OVER w AS msum,
      |         count(*) OVER w AS mcnt
      |  FROM (
      |    SELECT entity_id, time, CAST(state AS DECIMAL(12,2)) AS sv,
      |           epoch_us(time) AS tus
      |    FROM base WHERE split_part(entity_id, '.', 1) = 'purchase')
      |  WINDOW w AS (PARTITION BY entity_id ORDER BY tus
      |               RANGE BETWEEN $DayUs PRECEDING AND CURRENT ROW))
      |ORDER BY entity_id, time, sv""".stripMargin))

  /** HAMPEL despike filter — the rolling-median outlier cleaner
    * (Hampel 1974; the `hampel()` sensor-series primitive) every
    * trajectory/telemetry consumer runs before trusting a rate or
    * average: a sample farther than 3 window-MADs from its 5-sample
    * rolling median is a spike, replaced by that median.
    *
    * Exactness design (the reason this parity-checks bit-for-bit):
    * values enter as INTEGER CENTS (DECIMAL(12,2) × 100), and every
    * decision — rolling median, per-member deviations, the MAD, the
    * 3·MAD threshold — is SELECTION or integer arithmetic over the
    * 5-element window array; the only IEEE ops are the two closing
    * renders (cents → double). Boundary rows (window < 5 samples) pass
    * through unflagged rather than flagged against an interpolated
    * even-count median — interpolation would be the one float decision
    * in the operator, so the contract excludes it.
    *
    * Scale: ONE keyed 5-row window per entity (the array ops run inside
    * whole-stage codegen on a 5-element array) + no join — the same
    * shape as [[movingAvg]], linear at any corpus size. */
  def hampel(ltss: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("entity_id")).orderBy(col("tus"), col("sc"))
      .rowsBetween(-2, 2)
    ltss
      .withColumn("sv", expr("try_cast(state as decimal(12,2))"))
      .withColumn("sc", (col("sv") * 100).cast("long"))
      .withColumn("tus", unix_micros(col("time")))
      .withColumn("warr", sort_array(collect_list(col("sc")).over(w)))
      .withColumn("n_window", size(col("warr")).cast("long"))
      .withColumn("med_c",
        when(col("n_window") === 5, element_at(col("warr"), 3)))
      .withColumn("mad_c",
        when(col("n_window") === 5, element_at(
          sort_array(transform(col("warr"), v => abs(v - col("med_c")))), 3)))
      .withColumn("is_spike",
        (col("n_window") === 5 &&
          abs(col("sc") - col("med_c")) > lit(3L) * col("mad_c")).cast("int"))
      .select(col("entity_id"), col("time"), col("sv").cast("double").as("sv"),
        col("n_window"), col("is_spike"),
        when(col("is_spike") === 1, col("med_c").cast("double") / 100.0)
          .otherwise(col("sv").cast("double")).as("filtered"))
  }

  val hampelQ = OracleQuery(
    "ltss_hampel",
    (s, d) => {
      val l = Queries.ltss(s, d)
        .filter(split(col("entity_id"), "\\.").getItem(0) === "purchase")
      hampel(l).orderBy(col("entity_id"), col("time"), col("sv"))
    },
    Some(s"""$ltssBase
      |SELECT entity_id, time, CAST(sv AS DOUBLE) AS sv,
      |       CAST(n_window AS BIGINT) AS n_window, is_spike,
      |       CASE WHEN is_spike = 1 THEN CAST(med_c AS DOUBLE) / 100.0
      |            ELSE CAST(sv AS DOUBLE) END AS filtered
      |FROM (
      |  SELECT entity_id, time, sv, n_window, med_c,
      |         CASE WHEN n_window = 5 AND abs(sc - med_c) > 3 * mad_c
      |              THEN 1 ELSE 0 END AS is_spike
      |  FROM (
      |    SELECT entity_id, time, sv, sc,
      |           count(*) OVER w AS n_window,
      |           CASE WHEN count(*) OVER w = 5
      |                THEN list_sort(list(sc) OVER w)[3] END AS med_c,
      |           CASE WHEN count(*) OVER w = 5
      |                THEN list_sort(list_transform(list(sc) OVER w,
      |                       v -> abs(v - list_sort(list(sc) OVER w)[3])))[3]
      |                END AS mad_c
      |    FROM (
      |      SELECT entity_id, time, CAST(state AS DECIMAL(12,2)) AS sv,
      |             CAST(CAST(state AS DECIMAL(12,2)) * 100 AS BIGINT) AS sc,
      |             epoch_us(time) AS tus
      |      FROM base WHERE split_part(entity_id, '.', 1) = 'purchase')
      |    WINDOW w AS (PARTITION BY entity_id ORDER BY tus, sc
      |                 ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)))
      |ORDER BY entity_id, time, sv""".stripMargin))

  val caggQ = OracleQuery(
    "ltss_cagg",
    (s, d) => caggRealtime(s, d).orderBy(col("entity_id"), col("bucket")),
    // the oracle is the DIRECT aggregate over the full history — the
    // whole point of a cagg is that the merged partials are
    // indistinguishable from it
    Some(s"""$ltssBase
      |SELECT entity_id, make_timestamp(bus) AS bucket,
      |       CAST(count(*) AS BIGINT) AS n,
      |       CAST(sum(sv) AS DOUBLE) AS state_sum,
      |       CAST(sum(sv) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS state_avg
      |FROM (
      |  SELECT entity_id, (epoch_us(time) // $HourUs) * $HourUs AS bus,
      |         CAST(state AS DECIMAL(12,2)) AS sv
      |  FROM base)
      |GROUP BY entity_id, bus
      |ORDER BY entity_id, bucket""".stripMargin))

  val caggReconcileQ = OracleQuery(
    "ltss_cagg_reconcile",
    (s, d) => {
      val mat = graft.Tables.parquet(s, caggLayoutPath(s, d))
      reconcile(mat, lateArrivals(s, d))
        .orderBy(col("entity_id"), col("bucket"))
    },
    // the oracle recomputes the touched buckets DIRECTLY over
    // original ∪ late — the merged partials must be indistinguishable
    Some(s"""$ltssBase,
      |late AS (
      |  SELECT make_timestamp(epoch_us(time) - 3 * $DayUs) AS time,
      |         entity_id, state
      |  FROM base
      |  WHERE epoch_us(time) >= $CaggCutoffUs - $DayUs
      |    AND epoch_us(time) < $CaggCutoffUs
      |    AND minute(time) < 10
      |), unioned AS (
      |  SELECT time, entity_id, state FROM base
      |  WHERE epoch_us(time) < $CaggCutoffUs
      |  UNION ALL SELECT time, entity_id, state FROM late
      |), agged AS (
      |  SELECT entity_id, (epoch_us(time) // $HourUs) * $HourUs AS bus,
      |         CAST(count(*) AS BIGINT) AS n,
      |         sum(CAST(state AS DECIMAL(12,2))) AS ssum
      |  FROM unioned GROUP BY 1, 2
      |), touched AS (
      |  SELECT DISTINCT entity_id,
      |         (epoch_us(time) // $HourUs) * $HourUs AS bus
      |  FROM late
      |)
      |SELECT entity_id, make_timestamp(bus) AS bucket, n,
      |       CAST(ssum AS DOUBLE) AS state_sum,
      |       CAST(ssum AS DOUBLE) / CAST(n AS DOUBLE) AS state_avg
      |FROM agged JOIN touched USING (entity_id, bus)
      |ORDER BY entity_id, bucket""".stripMargin))

  /** Dense per-domain hourly event-count series with EXACT mean-centered
    * deviations, shared by [[acf]] and [[changepoint]]: the observed
    * (domain, hour) counts are expanded to the full min..max hour grid
    * (a silent hour IS an observation of 0 — both operators are wrong on
    * a gappy series), and dev_t = n·c_t − S is the deviation from the
    * domain mean SCALED BY n, so no rational mean ever forms — every
    * value through the window chain stays a BIGINT (the
    * [[rateAnomaly]] integer-moment device; at 100 TB bucket counts the
    * same chain runs in DECIMAL(38,0)). Grid size is span/width per
    * domain — render-scale — so everything after the one combinable
    * count shuffle operates on tiny frames. */
  private def denseHourlyDev(ltss: DataFrame, widthUs: Long = HourUs): DataFrame = {
    val counts = ltss
      .withColumn("domain", split(col("entity_id"), "\\.").getItem(0))
      .withColumn("bus", bucketUs(col("time"), widthUs))
      .groupBy(col("domain"), col("bus")).agg(count(lit(1)).as("c"))
    // Gap-fill by lag: each observed bucket emits itself plus the silent
    // buckets since its per-domain predecessor, so the full min..max grid
    // forms in ONE pass over `counts` — no bounds aggregate, no
    // grid-vs-counts join, and the event scan under `counts` is consumed
    // exactly once (the earlier two-consumer shape re-ran that subtree
    // whenever exchange reuse didn't fire). The window's domain
    // partitioning also pre-positions rows for the n/dev windows below —
    // zero additional shuffles after the one combinable count.
    val wo = Window.partitionBy(col("domain")).orderBy(col("bus"))
    val wd = Window.partitionBy(col("domain"))
    counts
      .withColumn("prev", lag(col("bus"), 1).over(wo))
      .select(col("domain"), col("bus"), col("c"),
        explode(sequence(coalesce(col("prev") + widthUs, col("bus")),
          col("bus"), lit(widthUs))).as("gbus"))
      .select(col("domain"), col("gbus").as("bus"),
        when(col("gbus") === col("bus"), col("c")).otherwise(lit(0L)).as("c"))
      .withColumn("n", count(lit(1)).over(wd))
      .withColumn("dev", col("n") * col("c") - sum(col("c")).over(wd))
  }

  /** The [[denseHourlyDev]] grid persisted once per (session, dataset,
    * width): five hyperfunctions ([[acf]], [[changepoint]], the forecast
    * backtest, [[saxMotif]], [[asapSmooth]]) consume the IDENTICAL tiny
    * derived series (|domains| × span/width rows), so the one count
    * shuffle over raw events runs once per dataset, not once per query —
    * the same shared-artifact policy as the band/codebook caches, with
    * the cold build timed under the bench's `warm_build` field. */
  private[graft] def denseDevCached(s: SparkSession, d: String,
      widthUs: Long = HourUs): DataFrame =
    graft.CachedFrames.getOrBuild(
      s"densedev|$widthUs|${graft.CachedFrames.sessionKey(s)}|$d")(
      denseHourlyDev(Queries.ltss(s, d), widthUs))

  /** The shared DuckDB replay of [[denseHourlyDev]], ending at
    * `dv(domain, bus, n, dev)`. */
  private def denseDevCte(widthUs: Long = HourUs): String =
    s"""$ltssBase,
      |c AS (
      |  SELECT split_part(entity_id, '.', 1) AS domain,
      |         (epoch_us(time) // $widthUs) * $widthUs AS bus,
      |         CAST(count(*) AS BIGINT) AS c
      |  FROM base GROUP BY 1, 2
      |), bounds AS (
      |  SELECT domain, min(bus) AS b0, max(bus) AS b1 FROM c GROUP BY 1
      |), dense AS (
      |  SELECT domain, unnest(generate_series(b0, b1, $widthUs)) AS bus FROM bounds
      |), x AS (
      |  SELECT d.domain, d.bus, COALESCE(c.c, 0) AS c
      |  FROM dense d LEFT JOIN c ON c.domain = d.domain AND c.bus = d.bus
      |), dv AS (
      |  SELECT domain, bus, c,
      |         CAST(count(*) OVER (PARTITION BY domain) AS BIGINT) AS n,
      |         CAST(count(*) OVER (PARTITION BY domain) AS BIGINT) * c
      |         - CAST(sum(c) OVER (PARTITION BY domain) AS BIGINT) AS dev
      |  FROM x
      |)""".stripMargin

  /** AUTOCORRELATION function of the per-domain hourly event-rate
    * series at lags 1..maxLag — the seasonality/persistence panel a
    * telemetry stack reads before picking forecast or anomaly windows
    * (a daily rhythm shows as a lag-24 peak). r_ℓ is kept EXACT to one
    * closing division: with dev_t = n·c_t − S, the estimator
    * Σ(c_t−c̄)(c_{t+ℓ}−c̄) / Σ(c_t−c̄)² equals Σ dev_t·dev_{t+ℓ} /
    * Σ dev_t² (the n² scale cancels), so numerator and denominator are
    * BIGINT sums and acf is one IEEE division (NULL for a constant
    * series, den = 0). All maxLag lags ride ONE window pass (a map of
    * lag columns exploded), never one pass per lag; the Spark lag
    * window and the oracle's dense-grid self-join see identical pairs
    * because the grid has no holes by construction. */
  def acf(ltss: DataFrame, maxLag: Int = 6, widthUs: Long = HourUs): DataFrame =
    acfFromDev(denseHourlyDev(ltss, widthUs), maxLag)

  private def acfFromDev(dv: DataFrame, maxLag: Int): DataFrame = {
    val wo = Window.partitionBy(col("domain")).orderBy(col("bus"))
    val wd = Window.partitionBy(col("domain"))
    // den rides the SAME per-domain window pass as the lags — the dense
    // grid is derived once, never rebuilt for a second aggregate leg
    val lagged = dv.select(Seq(col("domain"), col("n"), col("dev"),
      sum(col("dev") * col("dev")).over(wd).as("den")) ++
      (1 to maxLag).map(l => lag(col("dev"), l).over(wo).as(s"l$l")): _*)
    val lagMap = (1 to maxLag).flatMap(l => Seq(lit(l), col(s"l$l")))
    lagged
      .select(col("domain"), col("n"), col("dev"), col("den"),
        explode(map(lagMap: _*)).as(Seq("lag", "lv")))
      .filter(col("lv").isNotNull)
      .groupBy(col("domain"), col("lag"))
      .agg(sum(col("dev") * col("lv")).as("num"),
        first(col("n")).as("n_buckets"), first(col("den")).as("den"))
      .select(col("domain"), col("lag"), col("n_buckets"),
        when(col("den") > 0,
          col("num").cast("double") / col("den").cast("double")).as("acf"))
      .orderBy(col("domain"), col("lag"))
  }

  val acfQ = OracleQuery(
    "ltss_acf",
    (s, d) => acfFromDev(denseDevCached(s, d), 6),
    Some(s"""${denseDevCte()},
      |lags AS (SELECT unnest(generate_series(1, 6)) AS lag),
      |num AS (
      |  SELECT a.domain, l.lag AS lag,
      |         CAST(sum(a.dev * b.dev) AS BIGINT) AS num,
      |         CAST(max(a.n) AS BIGINT) AS n_buckets
      |  FROM dv a CROSS JOIN lags l
      |  JOIN dv b ON b.domain = a.domain AND b.bus = a.bus + l.lag * $HourUs
      |  GROUP BY 1, 2
      |), den AS (
      |  SELECT domain, CAST(sum(dev * dev) AS BIGINT) AS den FROM dv GROUP BY 1
      |)
      |SELECT num.domain, lag, n_buckets,
      |       CASE WHEN den.den > 0
      |            THEN CAST(num.num AS DOUBLE) / CAST(den.den AS DOUBLE) END AS acf
      |FROM num JOIN den ON den.domain = num.domain
      |ORDER BY num.domain, lag""".stripMargin))

  /** CUSUM change-point detection over the per-domain hourly rate — the
    * classic sequential mean-shift detector (Page 1954), shipped in its
    * CLOSED TWO-WINDOW FORM: the textbook recursion
    * S_t = max(0, S_{t−1} + (c_t − c̄)) unrolls to
    * S_t = P_t − min(0, min_{j≤t} P_j) with P the running prefix sum of
    * deviations, so the "inherently sequential" statistic is two plain
    * windows (running sum, running min) — fully declarative, partial-
    * combinable, and replayed verbatim by the oracle instead of a
    * recursive CTE. Deviations are the [[denseHourlyDev]] n-scaled
    * BIGINTs; the reported maximum is rescaled by one IEEE division
    * (cusum_max = max_t S_t / n, in event-count units). The alarm row
    * is the argmax bucket (ties → earliest), i.e. where the cumulative
    * upward drift from the domain mean peaks; the downward twin is the
    * same chain on −dev. */
  def changepoint(ltss: DataFrame, widthUs: Long = HourUs): DataFrame =
    changepointFromDev(denseHourlyDev(ltss, widthUs))

  private def changepointFromDev(dv: DataFrame): DataFrame = {
    val wo = Window.partitionBy(col("domain")).orderBy(col("bus"))
    val cu = dv
      .withColumn("p", sum(col("dev")).over(wo))
      .withColumn("s", col("p") - least(lit(0L), min(col("p")).over(wo)))
    val wr = Window.partitionBy(col("domain")).orderBy(col("s").desc, col("bus"))
    cu.withColumn("rn", row_number().over(wr))
      .filter(col("rn") === 1)
      .select(col("domain"), col("n").as("n_buckets"),
        timestamp_micros(col("bus")).as("alarm_bucket"),
        (col("s").cast("double") / col("n").cast("double")).as("cusum_max"))
      .orderBy(col("domain"))
  }

  val changepointQ = OracleQuery(
    "ltss_changepoint",
    (s, d) => changepointFromDev(denseDevCached(s, d)),
    Some(s"""${denseDevCte()},
      |pr AS (
      |  SELECT domain, bus, n,
      |         sum(dev) OVER (PARTITION BY domain ORDER BY bus) AS p
      |  FROM dv
      |), cu AS (
      |  SELECT domain, bus, n,
      |         p - LEAST(0, min(p) OVER (PARTITION BY domain ORDER BY bus)) AS s
      |  FROM pr
      |), r AS (
      |  SELECT *, row_number() OVER (PARTITION BY domain ORDER BY s DESC, bus) AS rn
      |  FROM cu
      |)
      |SELECT domain, n AS n_buckets, make_timestamp(bus) AS alarm_bucket,
      |       CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS cusum_max
      |FROM r WHERE rn = 1
      |ORDER BY domain""".stripMargin))

  /** M4 downsample per (entity, 4-hour pixel bucket) — the
    * error-free visualization downsampler (Jugel et al., VLDB 2014):
    * per pixel column keep first, last, min, and max WITH their
    * timestamps, which provably reproduces the line rendering of the
    * full series at that pixel width. The LTTB sibling picks
    * shape-preserving points sequentially; M4 is the aggregation-only
    * form — ONE hash aggregate of four lexicographic struct MIN/MAX
    * pairs (map-side combinable, no window, no per-bucket sort), so it
    * runs at any scale exactly like [[ohlc]]. Ties are deterministic by
    * construction: (time, sv) structs break first/last ties by value,
    * (sv, time) structs give the EARLIEST occurrence of the minimum and
    * the LATEST of the maximum. */
  def m4(ltss: DataFrame, widthUs: Long = 4 * HourUs): DataFrame =
    ltss
      .withColumn("sv", expr("try_cast(state as decimal(12,2))"))
      .withColumn("bucket", timestamp_micros(bucketUs(col("time"), widthUs)))
      .groupBy(col("entity_id"), col("bucket"))
      .agg(
        min(struct(col("time"), col("sv"))).as("fst"),
        max(struct(col("time"), col("sv"))).as("lst"),
        min(struct(col("sv"), col("time"))).as("mn"),
        max(struct(col("sv"), col("time"))).as("mx"),
        count(lit(1)).as("n"))
      .select(col("entity_id"), col("bucket"),
        col("fst.time").as("t_first"), col("fst.sv").cast("double").as("v_first"),
        col("mn.time").as("t_min"), col("mn.sv").cast("double").as("v_min"),
        col("mx.time").as("t_max"), col("mx.sv").cast("double").as("v_max"),
        col("lst.time").as("t_last"), col("lst.sv").cast("double").as("v_last"),
        col("n"))

  val m4Q = OracleQuery(
    "ltss_downsample_m4",
    (s, d) => {
      val l = Queries.ltss(s, d)
        .filter(split(col("entity_id"), "\\.").getItem(0) === "click")
      m4(l).orderBy(col("entity_id"), col("bucket"))
    },
    Some(s"""$ltssBase
      |SELECT entity_id, bucket,
      |       fst.time AS t_first, CAST(fst.sv AS DOUBLE) AS v_first,
      |       mn.time AS t_min, CAST(mn.sv AS DOUBLE) AS v_min,
      |       mx.time AS t_max, CAST(mx.sv AS DOUBLE) AS v_max,
      |       lst.time AS t_last, CAST(lst.sv AS DOUBLE) AS v_last, n
      |FROM (
      |  SELECT entity_id, bucket,
      |         min(ts_sv) AS fst, max(ts_sv) AS lst,
      |         min(sv_ts) AS mn, max(sv_ts) AS mx,
      |         CAST(count(*) AS BIGINT) AS n
      |  FROM (
      |    SELECT entity_id,
      |           make_timestamp((epoch_us(time) // ${4 * HourUs}) * ${4 * HourUs}) AS bucket,
      |           {'time': time, 'sv': CAST(state AS DECIMAL(12,2))} AS ts_sv,
      |           {'sv': CAST(state AS DECIMAL(12,2)), 'time': time} AS sv_ts
      |    FROM base WHERE split_part(entity_id, '.', 1) = 'click')
      |  GROUP BY entity_id, bucket)
      |ORDER BY entity_id, bucket""".stripMargin))

  /** SEASONAL hour-of-day profile per domain — the companion panel to
    * [[acf]] (the ACF says "there is a daily rhythm"; this says WHICH
    * hours carry it): events per (domain, hour-of-day 0..23), each
    * hour's share of the domain's traffic, and the peak-hour flag. The
    * hour index is integer floor arithmetic on epoch-µs (no calendar
    * library in the grouping key), share is two exact BIGINTs through
    * one IEEE division, and the peak flag is a rank over the ≤ 24-row
    * per-domain frame with ties to the earliest hour. One combinable
    * count shuffle; everything after runs on ≤ |domains|·24 rows. */
  val seasonalQ = OracleQuery(
    "ltss_seasonal",
    (s, d) => {
      val wd = Window.partitionBy(col("domain"))
      val wr = Window.partitionBy(col("domain"))
        .orderBy(col("n_events").desc, col("hod"))
      Queries.ltss(s, d)
        .withColumn("domain", split(col("entity_id"), "\\.").getItem(0))
        .withColumn("hod", expr(s"(unix_micros(time) div $HourUs) % 24"))
        .groupBy(col("domain"), col("hod")).agg(count(lit(1)).as("n_events"))
        .withColumn("share", col("n_events").cast("double") /
          sum(col("n_events")).over(wd).cast("double"))
        .withColumn("is_peak", (row_number().over(wr) === 1).cast("int"))
        .select(col("domain"), col("hod"), col("n_events"), col("share"),
          col("is_peak"))
        .orderBy(col("domain"), col("hod"))
    },
    Some(s"""$ltssBase
      |SELECT domain, hod, n_events,
      |       CAST(n_events AS DOUBLE)
      |         / CAST(sum(n_events) OVER (PARTITION BY domain) AS DOUBLE) AS share,
      |       CAST(row_number() OVER (PARTITION BY domain
      |                               ORDER BY n_events DESC, hod) = 1 AS INT)
      |         AS is_peak
      |FROM (
      |  SELECT split_part(entity_id, '.', 1) AS domain,
      |         (epoch_us(time) // $HourUs) % 24 AS hod,
      |         CAST(count(*) AS BIGINT) AS n_events
      |  FROM base GROUP BY 1, 2)
      |ORDER BY domain, hod""".stripMargin))

  /** Seasonal-naive FORECAST BACKTEST per domain — the accuracy floor
    * every forecasting deployment measures first: predict each hour by
    * the same hour yesterday (lag 24 on the dense grid) and score it as
    * MASE (Hyndman & Koehler 2006) — the seasonal-naive mean absolute
    * error scaled by the naive-1 mean absolute error, so the number is
    * unit-free and comparable across domains. MASE < 1 says daily
    * seasonality beats persistence — the go/no-go for a seasonal model.
    * Both error sums are BIGINTs over the [[denseHourlyDev]] grid
    * (silent hour = 0, as a forecaster must score it); the ratio of
    * means collapses to ONE division of two BIGINT cross-products
    * (num·n_naive) / (den·n_sn), NULL where the scale term is zero.
    * Both lags ride one window pass; output is |domains| rows. */
  val forecastBacktestQ = OracleQuery(
    "ltss_forecast_backtest",
    (s, d) => {
      val dv = denseDevCached(s, d)
      val wo = Window.partitionBy(col("domain")).orderBy(col("bus"))
      dv.select(col("domain"), col("n"), col("c"),
          lag(col("c"), 1).over(wo).as("p1"),
          lag(col("c"), 24).over(wo).as("p24"))
        .groupBy(col("domain"))
        .agg(first(col("n")).as("n_buckets"),
          sum(when(col("p24").isNotNull, abs(col("c") - col("p24"))))
            .as("sn_abs_err"),
          count(col("p24")).as("n_sn"),
          sum(when(col("p1").isNotNull, abs(col("c") - col("p1"))))
            .as("naive_abs_err"),
          count(col("p1")).as("n_naive"))
        .select(col("domain"), col("n_buckets"), col("sn_abs_err"),
          col("naive_abs_err"),
          when(col("naive_abs_err") > 0 && col("n_sn") > 0,
            (col("sn_abs_err") * col("n_naive")).cast("double") /
              (col("naive_abs_err") * col("n_sn")).cast("double")).as("mase"))
        .orderBy(col("domain"))
    },
    Some(s"""${denseDevCte()},
      |lg AS (
      |  SELECT domain, n, c,
      |         lag(c, 1) OVER (PARTITION BY domain ORDER BY bus) AS p1,
      |         lag(c, 24) OVER (PARTITION BY domain ORDER BY bus) AS p24
      |  FROM dv
      |), ag AS (
      |  SELECT domain, CAST(max(n) AS BIGINT) AS n_buckets,
      |         CAST(sum(CASE WHEN p24 IS NOT NULL THEN abs(c - p24) END) AS BIGINT)
      |           AS sn_abs_err,
      |         CAST(count(p24) AS BIGINT) AS n_sn,
      |         CAST(sum(CASE WHEN p1 IS NOT NULL THEN abs(c - p1) END) AS BIGINT)
      |           AS naive_abs_err,
      |         CAST(count(p1) AS BIGINT) AS n_naive
      |  FROM lg GROUP BY domain
      |)
      |SELECT domain, n_buckets, sn_abs_err, naive_abs_err,
      |       CASE WHEN naive_abs_err > 0 AND n_sn > 0
      |            THEN CAST(sn_abs_err * n_naive AS DOUBLE)
      |                 / CAST(naive_abs_err * n_sn AS DOUBLE) END AS mase
      |FROM ag ORDER BY domain""".stripMargin))

  // ---------------------------------------------------------------------
  // Span-limited exponential moving average
  // ---------------------------------------------------------------------

  /** Number of trailing observations an EWMA row weighs (the warm-up
    * span): with α = 1/2 the next-older term's weight would be 2⁻¹⁶ of
    * the newest — below any display precision — so the truncation is
    * the standard practical cutoff, not an approximation knob. */
  val EwmaSpan = 16

  /** Exponentially weighted moving average per entity (α = 1/2, the
    * adjust=true form every stats library documents):
    * ewma_t = Σ_j w_j·x_{t−j} / Σ_j w_j over the last [[EwmaSpan]]
    * observations with w_j = 2⁻ʲ — the smoothing panel a dashboard
    * offers next to the flat [[movingAvg]] window.
    *
    * EXACT arithmetic end to end: states quantize to BIGINT cents, the
    * weights scale to the integers 2^(span−1−j), and both the numerator
    * and the weight sum are exact BIGINT sums (bounded by cents·2¹⁶ ≈
    * 6.5·10¹⁶ under the DECIMAL(12,2) state domain; the same chain runs
    * in DECIMAL(38,0) at wider widths), so the only IEEE operation is
    * the one closing division. The textbook recursion
    * s_t = αx_t + (1−α)s_{t−1} would accumulate rounding
    * engine-dependently and never hash-match — this is its
    * order-independent closed form, truncated where the weights fall
    * below representable significance. Duplicate timestamps collapse
    * per (entity, µs) by MAX(state) first (the documented tie rule), so
    * every lag offset is deterministic on both engines. ONE shuffle on
    * entity_id; all [[EwmaSpan]] lag reads and the row counter ride one
    * window pass. The streaming twin is the recursion run online
    * against this span. */
  def ewma(ltss: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("entity_id")).orderBy(col("tus"))
    val base = ltss
      .withColumn("sv", expr("try_cast(state as decimal(12,2))"))
      .withColumn("tus", unix_micros(col("time")))
      .groupBy(col("entity_id"), col("tus"))
      .agg(max(col("sv")).as("sv"))
      .withColumn("cents", (col("sv") * 100).cast("long"))
    val terms = (0 until EwmaSpan).map { j =>
      val mult = 1L << (EwmaSpan - 1 - j)
      val lagC = lag(col("cents"), j).over(w)
      (coalesce(lagC * lit(mult), lit(0L)),
        when(lagC.isNotNull, lit(mult)).otherwise(lit(0L)))
    }
    base
      .withColumn("num", terms.map(_._1).reduce(_ + _))
      .withColumn("den", terms.map(_._2).reduce(_ + _))
      .select(col("entity_id"), timestamp_micros(col("tus")).as("time"),
        col("sv").cast("double").as("sv"),
        (col("num").cast("double") / (col("den") * 100).cast("double"))
          .as("ewma"),
        least(row_number().over(w), lit(EwmaSpan)).cast("long").as("n_window"))
  }

  val ewmaQ = OracleQuery(
    "ltss_ewma",
    (s, d) => {
      val l = Queries.ltss(s, d)
        .filter(split(col("entity_id"), "\\.").getItem(0) === "purchase")
      ewma(l).orderBy(col("entity_id"), col("time"))
    },
    Some {
      val num = (0 until EwmaSpan).map { j =>
        val m = 1L << (EwmaSpan - 1 - j)
        s"COALESCE(lag(cents, $j) OVER w * $m, 0)"
      }.mkString(" + ")
      val den = (0 until EwmaSpan).map { j =>
        val m = 1L << (EwmaSpan - 1 - j)
        s"CASE WHEN lag(cents, $j) OVER w IS NOT NULL THEN $m ELSE 0 END"
      }.mkString(" + ")
      s"""$ltssBase,
        |tied AS (
        |  SELECT entity_id, epoch_us(time) AS tus,
        |         max(CAST(state AS DECIMAL(12,2))) AS sv
        |  FROM base WHERE split_part(entity_id, '.', 1) = 'purchase'
        |  GROUP BY entity_id, epoch_us(time)
        |), c AS (
        |  SELECT entity_id, tus, sv, CAST(sv * 100 AS BIGINT) AS cents FROM tied
        |), e AS (
        |  SELECT entity_id, tus, sv,
        |         $num AS num,
        |         $den AS den,
        |         least(row_number() OVER w, $EwmaSpan) AS n_window
        |  FROM c
        |  WINDOW w AS (PARTITION BY entity_id ORDER BY tus)
        |)
        |SELECT entity_id, make_timestamp(tus) AS time, CAST(sv AS DOUBLE) AS sv,
        |       CAST(num AS DOUBLE) / CAST(den * 100 AS DOUBLE) AS ewma,
        |       CAST(n_window AS BIGINT) AS n_window
        |FROM e ORDER BY entity_id, time""".stripMargin
    })

  /** Maximum DRAWDOWN per entity — the worst peak-to-trough drop a
    * value series ever suffered, the first risk panel any financial or
    * capacity dashboard renders next to [[topMovers]]-style deltas:
    * running peak P_t = max(cents so far), drawdown dd_t = P_t − c_t,
    * and the report row is the trough of the LARGEST drawdown (ties →
    * earliest trough) with its peak, trough value/time, and the
    * relative drop.
    *
    * EXACT end to end: values quantize to BIGINT cents (the documented
    * MAX tie rule collapses duplicate timestamps first), the running
    * peak is an integer window max, and the argmax row is selected by
    * ONE lexicographic struct MAX over (dd, −µs, peak, cents) — the
    * [[Queries]] top-movers device, combinable map-side — so no
    * rational ever forms in a decision; the relative drawdown is one
    * closing IEEE division (NULL when the peak is ≤ 0, where a
    * peak-relative ratio has no meaning). One shuffle on entity_id for
    * the window; the rollup rides the same key. Output is
    * fleet-bounded (one row per entity). */
  def drawdown(ltss: DataFrame): DataFrame = {
    val base = ltss
      .withColumn("sv", expr("try_cast(state as decimal(12,2))"))
      .withColumn("tus", unix_micros(col("time")))
      .groupBy(col("entity_id"), col("tus"))
      .agg(max(col("sv")).as("sv"))
      .withColumn("cents", (col("sv") * 100).cast("long"))
    val w = Window.partitionBy(col("entity_id")).orderBy(col("tus"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base
      .withColumn("peak", max(col("cents")).over(w))
      .groupBy(col("entity_id"))
      .agg(count(lit(1)).as("n_obs"),
        max(struct((col("peak") - col("cents")).as("dd"),
          (-col("tus")).as("nt"), col("peak").as("peak"),
          col("cents").as("c"))).as("m"))
      .select(col("entity_id"), col("n_obs"),
        (col("m.peak").cast("double") / 100).as("peak_sv"),
        (col("m.c").cast("double") / 100).as("trough_sv"),
        timestamp_micros(-col("m.nt")).as("trough_time"),
        (col("m.dd").cast("double") / 100).as("max_dd"),
        when(col("m.peak") > 0,
          col("m.dd").cast("double") / col("m.peak").cast("double"))
          .as("rel_dd"))
      .orderBy(col("entity_id"))
  }

  val drawdownQ = OracleQuery(
    "ltss_drawdown",
    (s, d) => drawdown(Queries.ltss(s, d)),
    Some(s"""$ltssBase,
      |tied AS (
      |  SELECT entity_id, epoch_us(time) AS tus,
      |         max(CAST(state AS DECIMAL(12,2))) AS sv
      |  FROM base GROUP BY 1, 2
      |), c AS (
      |  SELECT entity_id, tus, CAST(sv * 100 AS BIGINT) AS cents FROM tied
      |), r AS (
      |  SELECT entity_id, tus, cents,
      |         max(cents) OVER (PARTITION BY entity_id ORDER BY tus
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
      |  FROM c
      |), p AS (
      |  SELECT entity_id, CAST(count(*) AS BIGINT) AS n_obs,
      |         max({'dd': peak - cents, 'nt': -tus, 'peak': peak, 'c': cents}) AS m
      |  FROM r GROUP BY entity_id
      |)
      |SELECT entity_id, n_obs,
      |       CAST(m.peak AS DOUBLE) / 100 AS peak_sv,
      |       CAST(m.c AS DOUBLE) / 100 AS trough_sv,
      |       make_timestamp(-m.nt) AS trough_time,
      |       CAST(m.dd AS DOUBLE) / 100 AS max_dd,
      |       CASE WHEN m.peak > 0
      |            THEN CAST(m.dd AS DOUBLE) / CAST(m.peak AS DOUBLE) END AS rel_dd
      |FROM p ORDER BY entity_id""".stripMargin))

  /** LAGGED CROSS-CORRELATION between domain pairs over a SHARED hourly
    * grid — the lead/lag panel that answers "does click activity lead
    * purchase activity, and by how many hours?" (the query a telemetry
    * stack runs before wiring one series as a forecast feature of
    * another). Same integer-moment device as [[acf]]: on the global
    * grid of N buckets, dev_t = N·c_t − S is an N-scaled deviation, so
    * Σ dev_a(t)·dev_b(t+ℓ) / √(Σ dev_a²·Σ dev_b²) IS the Pearson-style
    * cross-correlation (N² cancels); numerators and energies are exact
    * BIGINT sums, the output is one IEEE product+sqrt+division (both
    * correctly rounded per IEEE 754, so the oracle hash-matches).
    * Energies span the full grid while the numerator spans the lag
    * overlap — the statsmodels `ccf` convention. Negative lags cover
    * the b-leads-a direction, so each unordered pair appears once
    * (da < db) with a symmetric lag axis.
    *
    * Scale shape: ONE map-combinable count shuffle over the raw rows;
    * everything after (grid join, lag join on the bucket key, energy
    * join) runs on render-scale frames bounded by |domains|·span/width,
    * independent of row count. */
  def crossCorr(ltss: DataFrame, maxLag: Int = 3, widthUs: Long = HourUs): DataFrame = {
    val counts = ltss
      .withColumn("domain", split(col("entity_id"), "\\.").getItem(0))
      .withColumn("bus", bucketUs(col("time"), widthUs))
      .groupBy(col("domain"), col("bus")).agg(count(lit(1)).as("c"))
    val bounds = counts.agg(min(col("bus")).as("b0"), max(col("bus")).as("b1"))
    val grid = counts.select(col("domain")).distinct()
      // bound: a one-row aggregate
      .crossJoin(broadcast(bounds))
      .select(col("domain"),
        explode(sequence(col("b0"), col("b1"), lit(widthUs))).as("bus"))
    val wd = Window.partitionBy(col("domain"))
    val dv = grid.join(counts, Seq("domain", "bus"), "left")
      .select(col("domain"), col("bus"), coalesce(col("c"), lit(0L)).as("c"))
      .withColumn("n", count(lit(1)).over(wd))
      .withColumn("dev", col("n") * col("c") - sum(col("c")).over(wd))
    val energy = dv.groupBy(col("domain")).agg(sum(col("dev") * col("dev")).as("en"))
    val a = dv.select(col("domain").as("da"), col("bus"), col("dev").as("deva"))
      .withColumn("lag", explode(sequence(lit(-maxLag), lit(maxLag))))
    val b = dv.select(col("domain").as("db"), col("bus").as("busb"), col("dev").as("devb"))
    a.join(b, col("busb") === col("bus") + col("lag").cast("long") * lit(widthUs)
        && col("da") < col("db"))
      .groupBy(col("da"), col("db"), col("lag"))
      .agg(sum(col("deva") * col("devb")).as("num"), count(lit(1)).as("n_pairs"))
      // bound: one row per HA domain (closed vocabulary)
      .join(broadcast(energy.select(col("domain").as("da"), col("en").as("ea"))), Seq("da"))
      // bound: one row per HA domain (closed vocabulary)
      .join(broadcast(energy.select(col("domain").as("db"), col("en").as("eb"))), Seq("db"))
      .select(col("da"), col("db"), col("lag"), col("n_pairs"),
        when(col("ea") > 0 && col("eb") > 0,
          col("num").cast("double")
            / sqrt(col("ea").cast("double") * col("eb").cast("double"))).as("xcorr"))
      .orderBy(col("da"), col("db"), col("lag"))
  }

  /** Shared DuckDB replay of the GLOBAL-grid deviation frame used by
    * [[crossCorr]] and [[saxMotif]]'s symbol input: like
    * [[denseDevCte]] but with one grid span for all domains. */
  private def globalDevCte(widthUs: Long = HourUs): String =
    s"""$ltssBase,
      |c AS (
      |  SELECT split_part(entity_id, '.', 1) AS domain,
      |         (epoch_us(time) // $widthUs) * $widthUs AS bus,
      |         CAST(count(*) AS BIGINT) AS c
      |  FROM base GROUP BY 1, 2
      |), bounds AS (
      |  SELECT min(bus) AS b0, max(bus) AS b1 FROM c
      |), grid AS (
      |  SELECT d.domain, g.bus
      |  FROM (SELECT DISTINCT domain FROM c) d
      |  CROSS JOIN (SELECT unnest(generate_series(b0, b1, $widthUs)) AS bus
      |              FROM bounds) g
      |), x AS (
      |  SELECT g.domain, g.bus, COALESCE(c.c, 0) AS c
      |  FROM grid g LEFT JOIN c ON c.domain = g.domain AND c.bus = g.bus
      |), dv AS (
      |  SELECT domain, bus, c,
      |         CAST(count(*) OVER (PARTITION BY domain) AS BIGINT) AS n,
      |         CAST(count(*) OVER (PARTITION BY domain) AS BIGINT) * c
      |         - CAST(sum(c) OVER (PARTITION BY domain) AS BIGINT) AS dev
      |  FROM x
      |)""".stripMargin

  val crossCorrQ = OracleQuery(
    "ltss_cross_corr",
    (s, d) => crossCorr(Queries.ltss(s, d)),
    Some(s"""${globalDevCte()},
      |en AS (
      |  SELECT domain, CAST(sum(dev * dev) AS BIGINT) AS en FROM dv GROUP BY 1
      |), lags AS (SELECT unnest(generate_series(-3, 3)) AS lag),
      |num AS (
      |  SELECT a.domain AS da, b.domain AS db, l.lag AS lag,
      |         CAST(sum(a.dev * b.dev) AS BIGINT) AS num,
      |         CAST(count(*) AS BIGINT) AS n_pairs
      |  FROM dv a CROSS JOIN lags l
      |  JOIN dv b ON b.bus = a.bus + l.lag * $HourUs AND a.domain < b.domain
      |  GROUP BY 1, 2, 3
      |)
      |SELECT da, db, lag, n_pairs,
      |       CASE WHEN ea.en > 0 AND eb.en > 0
      |            THEN CAST(num.num AS DOUBLE)
      |                 / sqrt(CAST(ea.en AS DOUBLE) * CAST(eb.en AS DOUBLE))
      |       END AS xcorr
      |FROM num JOIN en ea ON ea.domain = num.da
      |         JOIN en eb ON eb.domain = num.db
      |ORDER BY da, db, lag""".stripMargin))

  /** SAX MOTIF discovery over the per-domain hourly rate — the
    * "what does a typical day look like, and what repeats?" panel
    * (Lin et al. 2003, "A Symbolic Representation of Time Series").
    * The classic SAX pipeline is z-normalize → Gaussian-breakpoint
    * symbolize → slide a word window → count words; this engine keeps
    * it INTEGER-EXACT by replacing the Gaussian breakpoints with
    * rank terciles: `ntile(3)` over the total order (c, bus) assigns
    * each bucket a symbol a/b/c (low/mid/high) with a deterministic,
    * distribution-free cutoff both engines compute identically (the
    * SQL-standard ntile fill rule on an unambiguous total order —
    * no floats anywhere). Words are 3-symbol sliding windows via two
    * `lead`s on the bucket axis; the report is each domain's top-3
    * most frequent words (tie → lexicographic), i.e. its recurring
    * rate motifs.
    *
    * Scale shape: identical to [[acf]] — one combinable count shuffle,
    * then windows over span/width-sized per-domain grids. */
  def saxMotif(ltss: DataFrame, widthUs: Long = HourUs): DataFrame =
    saxMotifFromDev(denseHourlyDev(ltss, widthUs))

  private def saxMotifFromDev(dv: DataFrame): DataFrame = {
    val wsym = Window.partitionBy(col("domain")).orderBy(col("c"), col("bus"))
    val wo = Window.partitionBy(col("domain")).orderBy(col("bus"))
    val words = dv
      .withColumn("t", ntile(3).over(wsym))
      .withColumn("sym", expr("chr(96 + t)"))
      .withColumn("word", concat_ws("",
        col("sym"), lead(col("sym"), 1).over(wo), lead(col("sym"), 2).over(wo)))
      .filter(length(col("word")) === 3)
    val wr = Window.partitionBy(col("domain")).orderBy(col("cnt").desc, col("word"))
    words.groupBy(col("domain"), col("word"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("rank", row_number().over(wr))
      .filter(col("rank") <= 3)
      .select(col("domain"), col("rank"), col("word"), col("cnt"))
      .orderBy(col("domain"), col("rank"))
  }

  val saxMotifQ = OracleQuery(
    "ltss_sax_motif",
    (s, d) => saxMotifFromDev(denseDevCached(s, d)),
    Some(s"""${denseDevCte()},
      |sym AS (
      |  SELECT domain, bus,
      |         chr(CAST(96 + ntile(3) OVER (PARTITION BY domain ORDER BY c, bus) AS INT)) AS sym
      |  FROM dv
      |), words AS (
      |  SELECT domain,
      |         sym || lead(sym, 1) OVER w || lead(sym, 2) OVER w AS word
      |  FROM sym WINDOW w AS (PARTITION BY domain ORDER BY bus)
      |), wc AS (
      |  SELECT domain, word, CAST(count(*) AS BIGINT) AS cnt
      |  FROM words WHERE length(word) = 3 GROUP BY 1, 2
      |)
      |SELECT domain, rank, word, cnt FROM (
      |  SELECT domain, word, cnt,
      |         row_number() OVER (PARTITION BY domain ORDER BY cnt DESC, word) AS rank
      |  FROM wc)
      |WHERE rank <= 3
      |ORDER BY domain, rank""".stripMargin))

  private val AsapWindows = Seq(2, 3, 4, 6, 8, 12, 24)

  /** ASAP AUTO-SMOOTHING window pick (Rong & Bailis, VLDB 2017 —
    * "ASAP: Prioritizing Attention via Time Series Smoothing"; the
    * TimescaleDB toolkit ships it as `asap_smooth`): among candidate
    * SMA windows, choose the one minimizing the ROUGHNESS of the
    * smoothed series — std of its first differences, normalized by the
    * window — so a dashboard renders the smoothest view that still
    * tracks the signal. Two exactness devices make it hash-checkable:
    *
    *  - the TELESCOPING IDENTITY: the first difference of a trailing
    *    w-sum is S_t − S_{t−1} = c_t − c_{t−w}, so no smoothed series
    *    is ever materialized — each candidate window is ONE lag column,
    *    and all 7 candidates ride a single window pass (the [[acf]]
    *    multi-lag device);
    *  - n-scaled integer moments: var_int = m·Σd² − (Σd)² is an exact
    *    BIGINT; roughness = √var_int / (m·w) is the only IEEE step and
    *    is bit-identical on both engines, so the per-domain argmin
    *    (tie → smaller w) is replayed exactly.
    *
    * The paper's kurtosis-preservation guard is replaced by the
    * bounded candidate grid (max 24 h) — a documented simplification:
    * 4th-power moments of n-scaled BIGINTs overflow DECIMAL(38) at
    * production bucket counts, and the capped grid bounds the
    * over-smoothing risk the guard exists to limit. Scale shape:
    * identical to [[acf]] — one combinable count shuffle, then one
    * multi-lag window pass over render-scale grids. */
  def asapSmooth(ltss: DataFrame, widthUs: Long = HourUs): DataFrame =
    asapFromDev(denseHourlyDev(ltss, widthUs))

  private def asapFromDev(dv: DataFrame): DataFrame = {
    val wo = Window.partitionBy(col("domain")).orderBy(col("bus"))
    val lagged = dv.select(Seq(col("domain"), col("c")) ++
      AsapWindows.map(w => lag(col("c"), w).over(wo).as(s"l$w")): _*)
    val dMap = AsapWindows.flatMap(w => Seq(lit(w), col("c") - col(s"l$w")))
    val wr = Window.partitionBy(col("domain")).orderBy(col("roughness"), col("w"))
    lagged
      .select(col("domain"), explode(map(dMap: _*)).as(Seq("w", "d")))
      .filter(col("d").isNotNull)
      .groupBy(col("domain"), col("w"))
      .agg(count(lit(1)).as("m"), sum(col("d")).as("sd"),
        sum(col("d") * col("d")).as("sd2"))
      .withColumn("var_int", col("m") * col("sd2") - col("sd") * col("sd"))
      .withColumn("roughness",
        sqrt(col("var_int").cast("double"))
          / (col("m") * col("w")).cast("double"))
      .withColumn("is_best",
        (row_number().over(wr) === 1).cast("int"))
      .select(col("domain"), col("w"), col("m"), col("var_int"),
        col("roughness"), col("is_best"))
      .orderBy(col("domain"), col("w"))
  }

  val asapQ = OracleQuery(
    "ltss_asap_smooth",
    (s, d) => asapFromDev(denseDevCached(s, d)),
    Some(s"""${denseDevCte()},
      |lagged AS (
      |  SELECT domain, c,
      |         ${AsapWindows.map(w => s"lag(c, $w) OVER w AS l$w").mkString(", ")}
      |  FROM dv WINDOW w AS (PARTITION BY domain ORDER BY bus)
      |), ds AS (
      |  ${AsapWindows.map(w =>
        s"SELECT domain, $w AS w, c - l$w AS d FROM lagged WHERE l$w IS NOT NULL")
        .mkString("\n  UNION ALL\n  ")}
      |), agg AS (
      |  SELECT domain, w, CAST(count(*) AS BIGINT) AS m,
      |         CAST(sum(d) AS BIGINT) AS sd, CAST(sum(d * d) AS BIGINT) AS sd2
      |  FROM ds GROUP BY 1, 2
      |), sc AS (
      |  SELECT domain, w, m, m * sd2 - sd * sd AS var_int,
      |         sqrt(CAST(m * sd2 - sd * sd AS DOUBLE)) / CAST(m * w AS DOUBLE)
      |           AS roughness
      |  FROM agg
      |)
      |SELECT domain, w, m, var_int, roughness,
      |       CAST(row_number() OVER (PARTITION BY domain
      |                               ORDER BY roughness, w) = 1 AS INT) AS is_best
      |FROM sc
      |ORDER BY domain, w""".stripMargin))

  val all: Seq[OracleQuery] =
    Seq(gapfillLocfQ, gapfillInterpQ, timeWeightedQ, counterRateQ, ohlcQ, lttbQ,
      lttbGridQ, stateAggQ, stateTimelineQ, interpTwaQ, heartbeatQ, sloQ,
      markovQ, rateAnomalyQ, movingAvgQ, hampelQ, ewmaQ, drawdownQ, caggQ,
      caggReconcileQ, trendQ, acfQ,
      changepointQ, m4Q, seasonalQ, forecastBacktestQ, crossCorrQ, saxMotifQ,
      asapQ, caggRollupQ)
}
