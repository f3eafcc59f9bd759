package graft.streaming

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.message.StringMapMessage
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryManager, Trigger}
import graft.config.LtssConfig
import graft.operators.Transform
import graft.sources.LtssSink

/** The streaming ingest pipeline (SURVEY.md §2.1/§3):
  * source → validity filter (S2) → entity filter (F2) → projection
  * (P1–P4) → sink (K1/K2), as Structured Streaming.
  *
  * Differences from the reference are deliberate upgrades
  * (SURVEY.md §1.3): the unbounded in-memory `queue.Queue` becomes
  * checkpointed micro-batches (at-least-once instead of at-most-once);
  * the one-row-per-transaction insert loop becomes per-batch batched
  * writes; graceful shutdown (`None` sentinel → drain → dispose,
  * __init__.py:164-199) becomes `processAllAvailable()` + `stop()`.
  */
object StreamingIngest {

  private val log = LogManager.getLogger(getClass.getName.stripSuffix("$"))

  /** Streaming source of state events from a JSON directory (the test/
    * file guise of the reference's event-bus subscription, S1;
    * production guise would be Kafka with the same downstream plan). */
  def readJsonEvents(spark: SparkSession, dir: String): DataFrame =
    readEvents(spark, graft.config.EventSource.JsonDir(dir))

  /** S1 source selection from config: ONLY the `readStream` leaf
    * changes per guise — everything downstream (S2/F2/P1–P4/K1/K2) is
    * the same declarative plan, which is the whole point of expressing
    * the pipeline in Structured Streaming rather than hand-rolled
    * consumers. The Kafka guise reads the standard connector columns
    * (key/value/topic/partition/offset/timestamp) and decodes the JSON
    * value with [[decodeKafkaRecords]]; scan parallelism is the topic's
    * partition count and the chain stays map-only until the sink. */
  def readEvents(spark: SparkSession, source: graft.config.EventSource): DataFrame =
    source match {
      case graft.config.EventSource.JsonDir(path, maxFiles) =>
        spark.readStream
          .schema(graft.schema.LtssSchema.eventSchema)
          .option("maxFilesPerTrigger", maxFiles)
          .json(path)
      case k: graft.config.EventSource.Kafka =>
        val reader = spark.readStream
          .format("kafka")
          .option("kafka.bootstrap.servers", k.bootstrapServers)
          .option("subscribe", k.topic)
          .option("startingOffsets", k.startingOffsets)
        val bounded =
          k.maxOffsetsPerTrigger.fold(reader)(n =>
            reader.option("maxOffsetsPerTrigger", n)) // B1 in this guise
        decodeKafkaRecords(bounded.load())
    }

  /** Kafka wire records → event rows. The record value carries the same
    * JSON event document the directory guise reads, so `from_json`
    * against the one event schema keeps the two guises semantically
    * identical (same parser, same null-on-malformed behavior as the
    * file reader's PERMISSIVE mode). Takes ANY frame with a binary
    * `value` column — which is what lets the spec pin this decode +
    * the full downstream chain through MemoryStream, with no broker
    * in the sandbox (the kafka connector jar does not ship here;
    * wiring is still asserted by routing in [[readEvents]]). */
  def decodeKafkaRecords(records: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, from_json}
    records
      .select(from_json(col("value").cast("string"),
        graft.schema.LtssSchema.eventSchema).as("e"))
      .select("e.*")
  }

  /** Logs, for the query named `name`, each trigger that dropped rows
    * with invalid JSON attributes (the reference's P4 warning,
    * __init__.py:212-216): one WARN map message with the trigger's
    * observed counts, read from its progress report. Added before the
    * query starts, so it sees the first trigger; removes itself when the
    * query terminates. */
  private final class DropLog(streams: StreamingQueryManager, name: String)
      extends StreamingQueryListener {
    import StreamingQueryListener._
    @volatile private var id: java.util.UUID = null
    override def onQueryStarted(e: QueryStartedEvent): Unit =
      if (e.name == name) id = e.id
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      if (e.progress.name == name)
        Option(e.progress.observedMetrics.get(Transform.ObservedName))
          .filter(_.getAs[Long]("dropped_invalid_json") > 0)
          .foreach { r =>
            val m = new StringMapMessage()
              .`with`("event", "dropped_invalid_json")
              .`with`("query", name)
              .`with`("batch", e.progress.batchId.toString)
            r.schema.fieldNames.foreach(f => m.`with`(f, r.getAs[Long](f).toString))
            log.warn(m)
          }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
      if (e.id == id) streams.removeListener(this)
  }

  /** Start the ingest: foreachBatch into the chunked parquet layout (or
    * JDBC when cfg.dbUrl is a jdbc: URL), checkpointed. JDBC targets are
    * bootstrapped first (D1/L1: connect-retry + adaptive CREATE TABLE —
    * returning from bootstrap is the readiness signal, reference
    * __init__.py:124-162,315-344). The events pass S2, F2 and the P4
    * error branch (rows whose attributes are not valid JSON,
    * __init__.py:212-216) in the streaming plan, which counts each
    * reason's drops as the [[Transform.ObservedName]] observed metrics of
    * the trigger's own write; a trigger with invalid-JSON drops is logged at
    * WARN. A parquet trigger is one pass over its input. A JDBC trigger
    * persists its rows because the retry envelope re-reads them; JDBC
    * write failures propagate so the checkpoint never advances past lost
    * data (at-least-once). */
  def start(
      events: DataFrame,
      cfg: LtssConfig,
      outPath: String,
      checkpoint: String,
      attrKeys: Seq[(String, String)] = Nil): StreamingQuery = {
    require(attrKeys.isEmpty || !cfg.dbUrl.startsWith("jdbc:"),
      "attrKeys materializes typed columns in the PARQUET layout only; a JDBC " +
        "target's schema is fixed by bootstrapJdbc — drop the option or use a " +
        "parquet outPath")
    // JDBC target: the stored schema wins over the flag (the reference's
    // startup re-detection — an existing location column keeps receiving
    // locations even if the config dropped it, and a table without one
    // never gets writes its DDL can't hold); a fresh table follows cfg
    val eff =
      if (cfg.dbUrl.startsWith("jdbc:")) {
        // a connect failure here defers to bootstrapJdbc's retry
        // envelope (which will throw loudly if the DB never comes up);
        // detection re-runs on the next start, as the reference's does
        val e =
          try LtssSink.effectiveConfig(cfg)
          catch { case _: java.sql.SQLException => cfg }
        LtssSink.bootstrapJdbc(e)
        // the reference migrates right after connecting (__init__.py
        // calls check_and_migrate before subscribing). Unlike the
        // reference this is OPT-IN (cfg.autoMigrate): step 1 rewrites
        // the whole table under ACCESS EXCLUSIVE and step 4 drops the
        // PK with CASCADE — without the flag a legacy table only gets
        // its pending steps LOGGED (dry-run probes, no DDL executed)
        if (e.autoMigrate) {
          val migrated = LtssSink.checkAndMigrate(e)
          if (migrated.nonEmpty)
            log.info(new StringMapMessage()
              .`with`("event", "migrated").`with`("steps", migrated.mkString(",")))
        } else {
          val pending = LtssSink.checkAndMigrate(e, dryRun = true)
          if (pending.nonEmpty)
            log.warn(new StringMapMessage()
              .`with`("event", "migrations_skipped").`with`("steps", pending.mkString(","))
              .`with`("message", "legacy schema detected; set auto_migrate to apply"))
        }
        e
      } else cfg
    // a name per call: the drop log is added before the query has an id
    val name = s"${Transform.ObservedName}-${java.util.UUID.randomUUID}"
    val streams = events.sparkSession.streams
    val drops = new DropLog(streams, name)
    streams.addListener(drops)
    try Transform.eventsToLtss(events, eff, observe = true).writeStream
      .queryName(name)
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime("1 second"))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (cfg.dbUrl.startsWith("jdbc:")) {
          // writeJdbc re-reads the batch only on a transient retry; the
          // persist keeps that re-read off the source and out of the
          // observed counts
          batch.persist()
          try LtssSink.writeJdbc(LtssSink.locationToWkt(batch), cfg)
          finally batch.unpersist()
        }
        // attrKeys: the materialized-key layout (GIN-expression-index
        // analog) is produced BY INGEST — the sink extracts the typed
        // attr_<key> columns per batch and the marker guard keeps every
        // batch's configuration consistent
        else LtssSink.writeParquet(batch, outPath, cfg, attrKeys = attrKeys)
      }
      .start()
    catch { case t: Throwable => streams.removeListener(drops); throw t }
  }

  /** The all-config entry: source from `cfg.eventSource`, sink from
    * `cfg.dbUrl` — the shape the reference's component setup has
    * (everything from CONFIG_SCHEMA, __init__.py:55-67, plus this
    * engine's `event_source` extension). Callers wiring their own
    * events frame (tests, replay tools) keep using [[start]]. */
  def startFromConfig(
      spark: SparkSession,
      cfg: LtssConfig,
      outPath: String,
      checkpoint: String,
      attrKeys: Seq[(String, String)] = Nil): StreamingQuery = {
    val source = cfg.eventSource.getOrElse(throw new IllegalArgumentException(
      "startFromConfig needs an event_source section in the config " +
        "(type kafka or json_dir); use start(events, ...) to wire a custom frame"))
    start(readEvents(spark, source), cfg, outPath, checkpoint, attrKeys)
  }

  /** Graceful shutdown: drain everything available, then stop — the
    * analog of the reference's sentinel + join (__init__.py:164-171). */
  def drainAndStop(q: StreamingQuery): Unit = {
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(30000)
  }

  final case class DrainStateOp(
      operator: String, numRowsTotal: Long, numRowsDroppedByWatermark: Long)
  final case class DrainManifest(
      drained: Boolean,
      watermarkMs: Option[Long],
      frontierMs: Option[Long],
      stateOperators: Seq[DrainStateOp],
      sourceEndOffsets: Seq[String],
      lastBatchId: Option[Long])

  /** Steps 1 + 3 of the CHECKPOINT DRAIN-AND-CUTOVER RUNBOOK (SURVEY
    * §2.2), mechanized (r18 VERDICT optional #7): drain the source
    * (`processAllAvailable`), then read the manifest off
    * `lastProgress` — the recorded watermark, each state operator's
    * `numRowsTotal` AND its `numRowsDroppedByWatermark` (the
    * global-frontier drop the contact-family scaladocs point at — a
    * nonzero value here is the observable form of "a fix older than
    * the watermark dropped one stage early"), and the sources' end
    * offsets (the rewind targets). `frontierMs` = watermark −
    * `horizonMs`, the runbook's cutover frontier F: pass the op's
    * admission horizon (T + lateness for the contact family, the
    * pending window for convoys, 0 for frontier-gated layout streams).
    * `drained` reads the engine's own no-data signal
    * (`status.isDataAvailable == false` after the drain — the
    * two-consecutive-empty-reports rule expressed through the API
    * instead of report counting, since a drained stationary query
    * emits no further reports to count). A watermark still at the
    * epoch (no event-time row processed yet) reports as None, so a
    * caller cannot mistake "never watermarked" for a real frontier.
    * `numRowsDroppedByWatermark` is a PER-BATCH counter and the drain
    * usually ends on a trailing no-data batch reporting 0 — reading
    * `lastProgress` alone would silently miss the drop the field
    * exists to surface — so the manifest SUMS it per operator across
    * the RETAINED progress history (`recentProgress`, a bounded
    * buffer: drops older than its window — default ~100 batches — age
    * out; a zero therefore means "none retained", not "none ever").
    * The sum is therefore CUMULATIVE-WITHIN-BUFFER, not per-drain
    * (r19 ADVICE): a second manifest on the same query re-includes
    * drops from before the first — a caller diffing successive
    * manifests passes the previous manifest's `lastBatchId` as
    * `sinceBatchId` and only batches AFTER it are summed.
    * `numRowsTotal` stays the latest reading (it is already
    * cumulative state size, not a per-batch delta). */
  def drainManifest(
      q: StreamingQuery, horizonMs: Long = 0L,
      sinceBatchId: Long = Long.MinValue): DrainManifest = {
    q.processAllAvailable()
    val drained = !q.status.isDataAvailable
    val lp = Option(q.lastProgress)
    val wm = lp.flatMap(p => Option(p.eventTime.get("watermark")))
      .map(s => java.time.Instant.parse(s).toEpochMilli)
      .filter(_ > 0L)
    // keyed by OPERATOR INDEX, not name: two same-named stateful ops in
    // one query (e.g. chained dedupes) must not merge and double-count
    // — per-progress operator order is the plan order, stable across
    // batches of a fixed query
    val histories = q.recentProgress.toSeq
      .filter(_.batchId > sinceBatchId).map(_.stateOperators.toSeq)
    val ops = lp.toSeq.flatMap(_.stateOperators.toSeq.zipWithIndex).map {
      case (o, i) =>
        val dropped =
          histories.flatMap(_.lift(i)).map(_.numRowsDroppedByWatermark).sum
        DrainStateOp(Option(o.operatorName).getOrElse(""),
          o.numRowsTotal, dropped)
    }
    val offs = lp.toSeq.flatMap(_.sources.toSeq)
      .map(s => String.valueOf(s.endOffset))
    DrainManifest(drained, wm, wm.map(_ - horizonMs), ops, offs,
      lp.map(_.batchId))
  }

  final case class CutoverResult(
      manifest: DrainManifest,
      rollbackCheckpoint: String,
      restarted: StreamingQuery)

  /** Steps 4 + 5 of the CHECKPOINT DRAIN-AND-CUTOVER RUNBOOK (SURVEY
    * §2.2), mechanized (r19 VERDICT task #4) — with [[drainManifest]]
    * (steps 1 + 3) in front and the restart callback carrying step 6,
    * the whole cutover is ONE callable instead of a procedure:
    *
    *  1. drain `q` and take the manifest (watermark, frontier F,
    *     per-operator state totals, source end offsets);
    *  2. stop the query;
    *  3. move the old checkpoint dir ASIDE — it is the rollback, never
    *     deleted here (`<checkpoint>.rollback`, numbered if a previous
    *     cutover left one; the move is refused loudly on failure, on a
    *     stop that does not complete, AND on a checkpoint the local
    *     filesystem cannot see — a DFS/object-store checkpoint must be
    *     moved aside with the store's own rename, because silently
    *     skipping the move would restart over the retired state);
    *  4. invoke `restart(frontierMs, checkpoint)` — the SOURCE REWIND
    *     is the one genuinely source-specific step, so the caller
    *     supplies it: Kafka `startingOffsets` from
    *     `offsetsForTimes(F)`, a file source re-including files whose
    *     max event time ≥ F, a replay tool re-feeding the retained
    *     log. The checkpoint path handed to the callback is the SAME
    *     path, now vacant — the restarted query begins fresh at the
    *     rewound offsets. Step 6: for JDBC targets the callback calls
    *     [[start]] as usual — the database skips the re-read window's
    *     stored keys, and the skipped rows equal the stored ones by the
    *     stream==batch parity contracts; parquet targets dedupe the
    *     overlap post-hoc by PK (`dedup_exact`-keyed MERGE).
    *
    * Step 7 (verify counts/hashes over the overlap window against the
    * old sink, then delete the set-aside checkpoint) stays a HUMAN
    * step by design — it is the accept/rollback decision. */
  def cutover(
      q: StreamingQuery,
      checkpoint: String,
      horizonMs: Long = 0L)(
      restart: (Option[Long], String) => StreamingQuery): CutoverResult = {
    val manifest = drainManifest(q, horizonMs)
    q.stop()
    // a query that fails to stop may still be committing into the
    // checkpoint — renaming it out from under a live writer is exactly
    // the torn state the move-aside exists to prevent (review r20)
    require(q.awaitTermination(30000),
      "cutover refused: the query did not terminate within 30 s — " +
        "moving its checkpoint aside would race a live writer")
    val dir = new java.io.File(checkpoint)
    // the move-aside handles LOCAL checkpoints only; a DFS/object-store
    // path is invisible to java.io.File and silently skipping the move
    // would restart the query over the retired state (review r20)
    require(dir.exists(),
      s"cutover refused: checkpoint not found on the local filesystem " +
        s"($checkpoint) — for a DFS/object-store checkpoint, move it " +
        "aside with the store's own rename and call the restart " +
        "directly; the manifest's frontier and offsets still apply")
    def cand(i: Int) = new java.io.File(
      s"$checkpoint.rollback" + (if (i == 0) "" else s".$i"))
    var n = 0
    while (cand(n).exists()) n += 1
    val target = cand(n)
    require(dir.renameTo(target),
      s"cutover refused: could not move the old checkpoint aside " +
        s"($checkpoint -> $target) — restarting over a live " +
        "checkpoint would resume the retired state")
    CutoverResult(manifest, target.getPath,
      restart(manifest.frontierMs, checkpoint))
  }
}
