package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}
import graft.config.LtssConfig
import graft.operators.Transform
import graft.streaming.{StreamingIngest, StreamingOps}

/** The event replay drained through stateful `StreamingOps` twins, each
  * in append mode as its spec runs it. An operation is one twin draining
  * every staged file from a fresh checkpoint, 16 files per trigger. */
object Live {
  private val HourUs = 3600L * 1000 * 1000

  val Twins: Seq[(String, DataFrame => DataFrame)] = Seq(
    "dedupByPk" -> (l => StreamingOps.dedupByPkStream(l)),
    "caggMaintain" -> (l => StreamingOps.caggMaintainStream(l)),
    "gapfillLocf" -> (l => StreamingOps.gapfillLocfStream(l).toDF()),
    "heartbeat" -> (l => StreamingOps.heartbeatStream(l, 2 * HourUs).toDF()),
    "hampel" -> (l => StreamingOps.hampelStream(l).toDF()))

  private var serial = 0

  /** Drains `twin` over `src` into a memory table; returns the table name
    * and the query's progress reports. `oneBatch` reads every file in one
    * trigger, the reference the multi-trigger output is checked against. */
  def drain(c: Ctx, twin: String, src: String, oneBatch: Boolean): (String, Seq[StreamingQueryProgress]) = {
    val spark = c.spark
    serial += 1
    val table = s"live_${twin}_$serial"
    val events =
      if (oneBatch) spark.readStream.schema(graft.schema.LtssSchema.eventSchema).json(src)
      else StreamingIngest.readJsonEvents(spark, src)
    val ltss = Transform.eventsToLtss(events, LtssConfig(enableLocation = false))
    val op = Twins.find(_._1 == twin).get._2
    val q = c.trace.span("streaming.StreamingOps", s"$twin/start")(op(ltss).writeStream
      .format("memory").queryName(table).outputMode("append")
      .option("checkpointLocation", s"${c.work}/ckpt/$table")
      .trigger(Trigger.AvailableNow()).start())
    if (!oneBatch) c.measuredGroups += q.runId.toString
    c.trace.span("streaming.StreamingOps", s"$twin/drain") {
      q.awaitTermination()
      if (c.trace.enabled)
        Streams.traceTriggers(c, q.recentProgress.toSeq, c.trace.current, "streaming.StreamingOps", Map.empty)
    }
    (table, q.recentProgress.toSeq)
  }

  def run(c: Ctx): Unit = {
    val spark = c.spark
    val lines = Ingest.eventLines(c, "sf0.01")
    var src = ""
    // a set-up stages the files and drains each twin over them once
    for (i <- 0 until Main.Setups) {
      src = s"${c.work}/live$i/src"
      c.setupS += Main.timed(c.trace.span("harness", "setup") {
        Ingest.stageJson(c, lines, src)
        Twins.foreach { case (t, _) => spark.catalog.dropTempView(drain(c, t, src, oneBatch = false)._1) }
      })._2
    }
    val nEvents = lines.length

    val last = scala.collection.mutable.Map.empty[String, (String, Seq[StreamingQueryProgress])]
    val perTwin = scala.collection.mutable.LinkedHashMap.empty[String, Seq[Double]]
    c.beginMeasure("measure")
    var passes = 0
    var order = List.empty[String]
    def elapsed = (System.nanoTime() - c.measureStartNs) / 1e9
    while (c.attempted == 0 || elapsed < c.seconds) {
      if (order.isEmpty) { order = c.rng.shuffle(Twins.map(_._1)).toList; passes += 1 }
      val t = order.head
      order = order.tail
      c.attempted += 1
      try {
        val (r, s) = Main.timed(c.cpuOf(t)(drain(c, t, src, oneBatch = false)))
        last.get(t).foreach(prev => spark.catalog.dropTempView(prev._1))
        last(t) = r
        c.latency += ((s, 1.0))
        perTwin(t) = perTwin.getOrElse(t, Nil) :+ s
        if (c.trace.enabled) r._2.filter(_.numInputRows > 0).foreach { p =>
          c.opsDetail += Map(
            "plan_s" -> Progress.durMs(p, "queryPlanning") / 1e3,
            "exec_s" -> Progress.durMs(p, "triggerExecution") / 1e3,
            "exchanges" -> 0.0)
        }
      } catch { case e: Throwable => c.fail(t, e) }
    }
    c.endMeasure()
    c.opsPerS = nEvents * c.latency.size / c.latency.map(_._1).sum
    c.info("passes") = passes
    val finals = last.values.flatMap(_._2.lastOption).toSeq
    val stateOps = finals.flatMap(_.stateOperators.toSeq)
    c.footprintMb = stateOps.map(_.memoryUsedBytes).sum / (1024.0 * 1024.0)

    // Each twin's multi-trigger output must equal its one-trigger output.
    last.foreach { case (t, (table, _)) =>
      c.checked += 1
      val (ref, _) = drain(c, t, src, oneBatch = true)
      val a = spark.table(table)
      val b = spark.table(ref)
      val (na, nb) = (a.count(), b.count())
      val diff = a.exceptAll(b).count() + b.exceptAll(a).count()
      if (na == 0 || diff != 0) {
        c.failed += 1
        c.mismatches += s"live/$t: $na rows in $passes-pass drain, $nb in one batch, $diff differ"
      }
    }

    if (c.trace.enabled) {
      perTwin.foreach { case (t, ts) => c.layers(s"live.${t}_s") = Stats.median(ts) }
      c.layers("state.rows") = stateOps.map(_.numRowsTotal).sum
      c.layers("state.mem_mb") = c.footprintMb
      val all = last.values.flatMap(_._2).toSeq
      c.layers("state.commit_s") = all.flatMap(_.stateOperators.toSeq).map(_.commitTimeMs).sum / 1e3
      c.layers("state.rows_dropped_by_watermark") =
        all.flatMap(_.stateOperators.toSeq).map(_.numRowsDroppedByWatermark).sum
    }
  }
}

object Streams {
  /** Phases of a trigger in the order the engine runs them. */
  private val Phases = Seq("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")

  /** Adds one span per trigger under `parent`, with its progress-reported
    * phases laid end to end as children; `layerOf` names the layer a phase
    * runs in when it is not the trigger's own. */
  def traceTriggers(c: Ctx, reports: Seq[StreamingQueryProgress], parent: Int, layer: String,
      layerOf: Map[String, String]): Unit = {
    // progress timestamps are wall-clock; spans use the monotonic clock
    val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
    reports.foreach { p =>
      val start = Progress.startMs(p) * 1000000L + offsetNs
      val end = Progress.endMs(p) * 1000000L + offsetNs
      val id = c.trace.record(parent, layer, s"trigger/${p.batchId}", start, end)
      var t = start
      Phases.foreach { ph =>
        val d = Progress.durMs(p, ph) * 1000000L
        if (d > 0) {
          c.trace.record(id, layerOf.getOrElse(ph, layer), ph, t, math.min(end, t + d))
          t += d
        }
      }
    }
  }
}
