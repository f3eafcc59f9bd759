package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import graft.config.LtssConfig
import graft.operators.Transform
import graft.streaming.StreamingIngest

/** Event replay through `StreamingIngest` into the chunked parquet sink.
  *
  * One generator thread drops JSON files into the source directory by
  * atomic rename: first an open loop at a fixed offered rate, then the
  * rest at once as a backlog that the query drains. Latency runs from a
  * file's scheduled drop time to the commit of the trigger that read it. */
object Ingest {
  val EventsPerFile = 500
  /** Files dropped and drained by each set-up, before the measured phase. */
  val WarmFiles = 10
  /** Offered open-loop rate, well below the drain capacity the backlog
    * phase measures. */
  val FilesPerSecond = 6
  /** Share of the run's seconds spent in the open loop; the backlog drain
    * takes about the rest. */
  val OpenShare = 0.3

  final case class Staged(name: String, events: Int)

  /** Time-ordered JSON lines cut into files of seeded sizes around
    * [[EventsPerFile]], so events of one entity arrive in time order. The
    * file source reads files in modification-time order, so the times are
    * set one second apart in file order rather than left to the clock. */
  def stageJson(c: Ctx, lines: Array[String], dir: String): Seq[Staged] = {
    Files.createDirectories(Paths.get(dir))
    val files = ArrayBuffer.empty[Staged]
    var from = 0
    while (from < lines.length) {
      val n = math.min(lines.length - from,
        (EventsPerFile * (0.75 + 0.5 * c.rng.nextDouble())).toInt)
      val name = f"events-${files.size}%05d.json"
      Files.writeString(Paths.get(dir, name), lines.slice(from, from + n).mkString("", "\n", "\n"))
      files += Staged(name, n)
      from += n
    }
    val first = System.currentTimeMillis() - files.size * 1000L
    files.zipWithIndex.foreach { case (f, i) =>
      Files.setLastModifiedTime(Paths.get(dir, f.name),
        java.nio.file.attribute.FileTime.fromMillis(first + i * 1000L))
    }
    files.toList
  }

  def drop(stage: String, src: String, f: Staged): Unit =
    Files.move(Paths.get(stage, f.name), Paths.get(src, f.name), StandardCopyOption.ATOMIC_MOVE)

  /** The events of the replay, as the JSON lines the generator writes. */
  def eventLines(c: Ctx, scale: String): Array[String] =
    graft.Tables.events(c.spark, s"${c.dataDir}/$scale")
      .orderBy(col("ts"), col("event_id")).toJSON.collect()

  def run(c: Ctx): Unit = {
    val spark = c.spark
    val cfg = LtssConfig()
    val lines = eventLines(c, "sf0.1")
    var q: StreamingQuery = null
    var files = Seq.empty[Staged]
    var base = ""
    for (i <- 0 until Main.Setups) {
      if (q != null) q.stop()
      base = s"${c.work}/ingest$i"
      // the warm files are in place before the start, so the first trigger
      // runs at once instead of at the next whole second
      val s = Main.timed(c.trace.span("harness", "setup") {
        files = stageJson(c, lines, s"$base/stage")
        Files.createDirectories(Paths.get(s"$base/src"))
        files.take(WarmFiles).foreach(drop(s"$base/stage", s"$base/src", _))
        q = c.trace.span("streaming.StreamingIngest", "start")(StreamingIngest.start(
          StreamingIngest.readJsonEvents(spark, s"$base/src"), cfg, s"$base/out", s"$base/ckpt"))
        c.trace.span("streaming.StreamingIngest", "drain")(q.processAllAvailable())
      })._2
      c.setupS += s
    }
    val stage = s"$base/stage"
    val src = s"$base/src"
    val rest = files.drop(WarmFiles)
    val nOpen = math.min(rest.size - 1, (OpenShare * c.seconds * FilesPerSecond).toInt)
    val open = rest.take(nOpen)
    val backlog = rest.drop(nOpen)
    c.info("offered_events_per_s") = FilesPerSecond * open.map(_.events).sum.toDouble / math.max(1, open.size)
    c.info("open_files") = open.size
    c.info("backlog_files") = backlog.size
    c.attempted = files.map(_.events).sum

    val scheduledMs = new Array[Long](open.size)
    val droppedMs = new Array[Long](open.size)
    c.beginMeasure("measure")
    c.measuredGroups += q.runId.toString
    // Triggers fire on whole seconds of the epoch clock. Drop k falls in
    // the k-th slot of the schedule, at a point of the slot taken from a
    // golden-ratio sequence with a seeded start, so the drops cover the
    // phases of the second evenly and every run samples the whole range of
    // waits for the next trigger instead of a seed-dependent part of it.
    val spacingMs = 1000.0 / FilesPerSecond
    val t0 = (System.currentTimeMillis() / 1000 + 1) * 1000
    val start = c.rng.nextDouble()
    open.indices.foreach { k =>
      val phase = (start + k * 0.6180339887) % 1.0
      scheduledMs(k) = t0 + ((k + phase) * spacingMs).toLong
    }
    val generator = new Thread(() => {
      open.indices.foreach { k =>
        val wait = scheduledMs(k) - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        drop(stage, src, open(k))
        droppedMs(k) = System.currentTimeMillis()
      }
    }, "perfbench-generator")
    generator.start()
    generator.join()
    // CPU time at the end of each trigger of the drain
    val cpuAt = new java.util.concurrent.ConcurrentHashMap[Long, java.lang.Long]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        cpuAt.put(e.progress.batchId, Main.threadsCpuNs())
    }
    spark.streams.addListener(listener)
    val cpu0 = Main.threadsCpuNs()
    val firstDrainBatch = q.recentProgress.filter(_.numInputRows > 0).map(_.batchId).maxOption
      .getOrElse(-1L) + 1
    backlog.foreach(drop(stage, src, _))
    q.processAllAvailable()
    c.endMeasure()
    val lastBatch = q.lastProgress.batchId
    // progress events reach listeners asynchronously
    val waitUntil = System.nanoTime() + 10000000000L
    while (!cpuAt.containsKey(lastBatch) && System.nanoTime() < waitUntil) Thread.sleep(10)
    spark.streams.removeListener(listener)
    q.stop()
    c.info("gen_lag_max_s") =
      open.indices.map(k => (droppedMs(k) - scheduledMs(k)) / 1000.0).foldLeft(0.0)(math.max)

    // Which trigger read each file, from the file source's own log.
    val batchOf = SourceLog.batches(s"$base/ckpt/sources/0")
    val reports = q.recentProgress.toSeq.filter(_.numInputRows > 0)
    val byBatch = reports.map(p => p.batchId -> p).toMap
    val missing = rest.filterNot(f => batchOf.get(f.name).exists(byBatch.contains))
    if (missing.nonEmpty) c.mismatches += s"ingest: ${missing.size} file(s) without a committed trigger"
    open.indices.foreach { k =>
      batchOf.get(open(k).name).flatMap(byBatch.get).foreach { p =>
        c.latency += (((Progress.endMs(p) - scheduledMs(k)) / 1000.0, open(k).events.toDouble))
      }
    }
    val backlogBatches = backlog.flatMap(f => batchOf.get(f.name)).distinct.sorted
    if (backlogBatches.nonEmpty) {
      val drainReports = reports.filter(p =>
        p.batchId >= backlogBatches.head && p.batchId <= backlogBatches.last)
      // capacity: events per second of trigger execution, so the wait for
      // the trigger grid between short triggers does not count; the median
      // trigger, so one slow trigger does not decide it
      val rates = drainReports.map(p => p.numInputRows * 1000.0 / Progress.durMs(p, "triggerExecution"))
      c.opsPerS = Stats.median(rates)
    }
    // CPU cost per event: the CPU used since the previous trigger's end
    // over the events of the trigger, median over the drain's full
    // triggers (those that read the most files), so neither a partial
    // trigger at either end nor one with a collection decides it
    val drained = reports.filter(p => p.batchId >= firstDrainBatch && cpuAt.containsKey(p.batchId))
      .sortBy(_.batchId)
    val filesOf = rest.groupBy(f => batchOf.getOrElse(f.name, -1L)).map { case (b, fs) => b -> fs.size }
    val full = drained.map(p => filesOf.getOrElse(p.batchId, 0)).maxOption.getOrElse(0)
    drained.indices.filter(i => filesOf.getOrElse(drained(i).batchId, 0) == full).foreach { i =>
      val since = if (i == 0) cpu0 else cpuAt.get(drained(i - 1).batchId).longValue
      c.cpuSamples.getOrElseUpdate("event", ArrayBuffer.empty) +=
        (cpuAt.get(drained(i).batchId).longValue - since) / 1e6 / drained(i).numInputRows
    }
    c.footprintMb = Main.dirBytes(s"$base/out") / (1024.0 * 1024.0)
    c.info("bytes_per_event") = Main.dirBytes(s"$base/out").toDouble / c.attempted

    // The committed layout must equal the batch transform of the same files.
    c.checked += 1
    val expected = Transform.eventsToLtss(
      spark.read.schema(graft.schema.LtssSchema.eventSchema).json(src), cfg)
      .filter(Transform.validJsonAttrs(col("attributes")))
    val got = spark.read.parquet(s"$base/out").select(expected.columns.toIndexedSeq.map(col): _*)
    val (nGot, nExp) = (got.count(), expected.count())
    val lost = expected.exceptAll(got).count()
    val extra = got.exceptAll(expected).count()
    if (nGot != nExp || lost != 0 || extra != 0)
      c.mismatches += s"ingest: layout has $nGot rows, batch transform $nExp; $lost lost, $extra extra"
    c.failed = lost + extra

    if (c.trace.enabled) {
      val measured = reports.filter(p => p.batchId >= batchOf.getOrElse(rest.head.name, 0L))
      // the measured phase's own time is the wait between triggers
      val phase = c.trace.record(0, "streaming.StreamingIngest", "measure", c.measureStartNs, c.measureEndNs)
      Streams.traceTriggers(c, measured, phase, "streaming.StreamingIngest", Map("addBatch" -> "sources.LtssSink"))
      measured.foreach { p =>
        c.opsDetail += Map("plan_s" -> Progress.durMs(p, "queryPlanning") / 1e3,
          "exec_s" -> Progress.durMs(p, "triggerExecution") / 1e3, "exchanges" -> 0.0)
      }
      val trig = measured.map(p => Progress.durMs(p, "triggerExecution") / 1e3)
      c.layers("ingest.triggers") = measured.size
      c.layers("ingest.trigger_p50_s") = Stats.median(trig)
      c.layers("ingest.trigger_p90_s") = if (trig.isEmpty) 0.0 else trig.sorted.apply(((trig.size - 1) * 9) / 10)
      c.layers("ingest.latest_offset_s") = measured.map(Progress.durMs(_, "latestOffset")).sum / 1e3
      c.layers("ingest.query_planning_s") = measured.map(Progress.durMs(_, "queryPlanning")).sum / 1e3
      c.layers("ingest.wal_commit_s") = measured.map(Progress.durMs(_, "walCommit")).sum / 1e3
      c.layers("ingest.backlog_files_max") =
        rest.groupBy(f => batchOf.getOrElse(f.name, -1L)).values.map(_.size).maxOption.getOrElse(0)
      c.layers("sink.add_batch_s") = measured.map(Progress.durMs(_, "addBatch")).sum / 1e3
      val outFiles = Main.dataFiles(s"$base/out")
      c.layers("sink.files") = outFiles.size
      c.layers("sink.bytes") = outFiles.map(p => Files.size(p)).sum
      val events = spark.read.schema(graft.schema.LtssSchema.eventSchema).json(src).cache()
      c.layers("transform.rows_in") = events.count()
      val ltss = Transform.eventsToLtss(events, cfg)
      c.layers("transform.rows_out") = nExp
      c.layers("transform.rows_dropped") = events.count() - nExp
      c.layers("transform.s") = Main.timed(c.trace.span("operators.Transform", "eventsToLtss/noop")(Main.noop(ltss)))._2
      c.layers("sink.write_s") = Main.timed(c.trace.span("sources.LtssSink", "writeParquet")(
        graft.sources.LtssSink.writeParquet(ltss, s"$base/isolated", cfg)))._2
      events.unpersist()
    }
  }
}

/** Reads a file source's metadata log: which batch read each file. */
object SourceLog {
  private val Entry = "\"path\":\"([^\"]+)\".*\"batchId\":(\\d+)".r

  def batches(dir: String): Map[String, Long] = {
    val logs = Main.dataFiles(dir)
    logs.flatMap(p => scala.io.Source.fromFile(p.toFile, "UTF-8").getLines().toList)
      .flatMap(l => Entry.findFirstMatchIn(l).map(m =>
        m.group(1).split('/').last -> m.group(2).toLong))
      .groupBy(_._1).map { case (f, bs) => f -> bs.map(_._2).min }
  }
}
