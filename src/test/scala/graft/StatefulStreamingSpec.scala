package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.StreamingOps

/** Stateful streaming views (watermark + mapGroupsWithState) — no DuckDB
  * oracle applies to continuous queries, so these are unit-verified. */
class StatefulStreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("streaming latest-state-per-entity maintains state across batches") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(java.sql.Timestamp, String, String)]
    val df = ms.toDF.toDF("time", "entity_id", "state")
    val q = StreamingOps.latestState(df).writeStream
      .format("memory").queryName("latest_t").outputMode("update").start()
    try {
      ms.addData(
        (ts("2024-01-01 10:00:00"), "a.1", "1"),
        (ts("2024-01-01 11:00:00"), "a.1", "2"))
      q.processAllAvailable()
      // out-of-order late event for a.1 must NOT displace the newer state;
      // first event for b.1 creates its state
      ms.addData(
        (ts("2024-01-01 10:30:00"), "a.1", "9"),
        (ts("2024-01-01 09:00:00"), "b.1", "5"))
      q.processAllAvailable()
    } finally q.stop()
    val latest = spark.table("latest_t")
      .groupBy($"entity_id")
      .agg(max(struct($"last_time", $"last_state")).as("s"))
      .select($"entity_id", $"s.last_time", $"s.last_state")
      .as[(String, java.sql.Timestamp, String)].collect().toSet
    assert(latest == Set(
      ("a.1", ts("2024-01-01 11:00:00"), "2"),
      ("b.1", ts("2024-01-01 09:00:00"), "5")))
  }

  test("in-stream PK dedup drops duplicate (time, entity_id) within the watermark") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(java.sql.Timestamp, String, String)]
    val df = ms.toDF.toDF("time", "entity_id", "state")
    val q = graft.streaming.StreamingOps.dedupByPkStream(df).writeStream
      .format("memory").queryName("dedup_t").outputMode("append").start()
    try {
      ms.addData(
        (ts("2024-01-01 10:00:00"), "a.1", "1"),
        (ts("2024-01-01 10:00:00"), "a.1", "1-dup"),
        (ts("2024-01-01 10:00:00"), "b.1", "2"))
      q.processAllAvailable()
      ms.addData((ts("2024-01-01 10:00:00"), "a.1", "1-later-dup"))
      q.processAllAvailable()
    } finally q.stop()
    val keys = spark.table("dedup_t")
      .select($"entity_id").as[String].collect().sorted.toSeq
    assert(keys == Seq("a.1", "b.1")) // one survivor per PK
  }

  test("watermarked windowed counts emit once the window closes (append mode)") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(java.sql.Timestamp, String)]
    val df = ms.toDF.toDF("time", "entity_id")
    val q = StreamingOps.windowedCounts(df, windowWidth = "1 hour", watermark = "0 seconds")
      .writeStream.format("memory").queryName("wc_t").outputMode("append").start()
    try {
      ms.addData(
        (ts("2024-01-01 10:05:00"), "a.1"),
        (ts("2024-01-01 10:20:00"), "a.2"),
        (ts("2024-01-01 10:40:00"), "b.1"))
      q.processAllAvailable()
      // advance event time past the window end so the watermark closes it
      ms.addData((ts("2024-01-01 12:01:00"), "c.1"))
      q.processAllAvailable()
      ms.addData((ts("2024-01-01 13:30:00"), "c.1")) // one more batch to flush
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("wc_t")
      .as[(java.sql.Timestamp, String, Long)].collect().toSet
    assert(rows.contains((ts("2024-01-01 10:00:00"), "a", 2L)))
    assert(rows.contains((ts("2024-01-01 10:00:00"), "b", 1L)))
  }

  test("gap-based session windows merge within the gap and emit after the watermark") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(java.sql.Timestamp, String)]
    val df = ms.toDF.toDF("time", "entity_id")
    val q = StreamingOps.sessionized(df, watermark = "0 seconds")
      .writeStream.format("memory").queryName("sess_t").outputMode("append").start()
    try {
      // a.1: two events 10 min apart (one session), then one 2h later
      // (a second session); b.1: a single-event session
      ms.addData(
        (ts("2024-01-01 10:00:00"), "a.1"),
        (ts("2024-01-01 10:10:00"), "a.1"),
        (ts("2024-01-01 10:05:00"), "b.1"))
      q.processAllAvailable()
      ms.addData((ts("2024-01-01 12:00:00"), "a.1"))
      q.processAllAvailable()
      // advance the watermark far enough to close every session
      ms.addData((ts("2024-01-01 20:00:00"), "z.1"))
      q.processAllAvailable()
      ms.addData((ts("2024-01-01 23:00:00"), "z.1"))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("sess_t")
      .as[(String, java.sql.Timestamp, java.sql.Timestamp, Long)].collect().toSet
    // session_end = last event + gap + 1µs (the batch-rule calibration)
    assert(rows.contains(("a.1", ts("2024-01-01 10:00:00"), ts("2024-01-01 10:40:00.000001"), 2L)),
      s"merged 2-event session missing: $rows")
    assert(rows.contains(("a.1", ts("2024-01-01 12:00:00"), ts("2024-01-01 12:30:00.000001"), 1L)))
    assert(rows.contains(("b.1", ts("2024-01-01 10:05:00"), ts("2024-01-01 10:35:00.000001"), 1L)))
  }

  test("streaming LOCF gap-fill emits carried rows for skipped buckets") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(java.sql.Timestamp, String, String)]
    val df = ms.toDF.toDF("time", "entity_id", "state")
    val q = StreamingOps.gapfillLocfStream(df).writeStream
      .format("memory").queryName("gapfill_t").outputMode("append").start()
    try {
      ms.addData((ts("2024-01-01 10:10:00"), "a.1", "10"))
      q.processAllAvailable()
      // 3 buckets later → two gap rows carrying "10", then the new obs
      ms.addData((ts("2024-01-01 13:20:00"), "a.1", "40"))
      q.processAllAvailable()
      // older than the emitted frontier → dropped, no duplicate buckets
      ms.addData((ts("2024-01-01 11:30:00"), "a.1", "99"))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("gapfill_t")
      .as[(String, java.sql.Timestamp, String, Int)].collect().toSeq.sortBy(_._2.getTime)
    assert(rows == Seq(
      ("a.1", ts("2024-01-01 10:00:00"), "10", 0),
      ("a.1", ts("2024-01-01 11:00:00"), "10", 1),
      ("a.1", ts("2024-01-01 12:00:00"), "10", 1),
      ("a.1", ts("2024-01-01 13:00:00"), "40", 0)))
  }

  test("streaming LOCF gap-fill state survives a checkpoint restart") {
    import java.nio.file.{Files, Paths}
    def tmp(p: String) = Files.createTempDirectory(p).toString
    val in = tmp("gf-in"); val out = tmp("gf-out"); val ckpt = tmp("gf-ckpt")
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "time TIMESTAMP, entity_id STRING, state STRING")
    def start() = StreamingOps
      .gapfillLocfStream(spark.readStream.schema(schema).json(in))
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    Files.writeString(Paths.get(in, "b1.json"),
      """{"time":"2024-01-01T10:05:00Z","entity_id":"a.1","state":"10"}""")
    val q1 = start(); q1.processAllAvailable(); q1.stop()
    assert(spark.read.parquet(out).count() == 1)
    // restart from the checkpoint: the carried (bucket, value) state must
    // resume — the 3-bucket jump emits the two gap rows from the OLD run's
    // value, which only works if state was recovered
    Files.writeString(Paths.get(in, "b2.json"),
      """{"time":"2024-01-01T13:20:00Z","entity_id":"a.1","state":"40"}""")
    val q2 = start(); q2.processAllAvailable(); q2.stop()
    val rows = spark.read.parquet(out)
      .collect().map(r => (r.getAs[java.sql.Timestamp]("bucket").toString,
        r.getAs[String]("state"), r.getAs[Int]("is_gap"))).sortBy(_._1).toSeq
    assert(rows == Seq(
      ("2024-01-01 10:00:00.0", "10", 0),
      ("2024-01-01 11:00:00.0", "10", 1),
      ("2024-01-01 12:00:00.0", "10", 1),
      ("2024-01-01 13:00:00.0", "40", 0)))
  }

  test("streaming interpolation gap-fill emits interior gaps on the right neighbor") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(java.sql.Timestamp, String, String)]
    val df = ms.toDF.toDF("time", "entity_id", "state")
    val q = StreamingOps.gapfillInterpStream(df).writeStream
      .format("memory").queryName("interp_t").outputMode("append").start()
    try {
      ms.addData((ts("2024-01-01 10:10:00"), "a.1", "10"))
      q.processAllAvailable() // observed row only — no right neighbor yet
      assert(spark.table("interp_t").count() == 1)
      // 3 buckets later: 10 → 40 over 3 bucket steps → 20, 30 interior
      ms.addData((ts("2024-01-01 13:20:00"), "a.1", "40"))
      q.processAllAvailable()
      // older than the emitted frontier → dropped
      ms.addData((ts("2024-01-01 11:30:00"), "a.1", "99"))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("interp_t")
      .as[(String, java.sql.Timestamp, Double, Int)].collect().toSeq.sortBy(_._2.getTime)
    assert(rows == Seq(
      ("a.1", ts("2024-01-01 10:00:00"), 10.0, 0),
      ("a.1", ts("2024-01-01 11:00:00"), 20.0, 1),
      ("a.1", ts("2024-01-01 12:00:00"), 30.0, 1),
      ("a.1", ts("2024-01-01 13:00:00"), 40.0, 0)))
  }

  test("streaming interpolation state survives a checkpoint restart") {
    import java.nio.file.{Files, Paths}
    def tmp(p: String) = Files.createTempDirectory(p).toString
    val in = tmp("in-in"); val out = tmp("in-out"); val ckpt = tmp("in-ckpt")
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "time TIMESTAMP, entity_id STRING, state STRING")
    def start() = StreamingOps
      .gapfillInterpStream(spark.readStream.schema(schema).json(in))
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    Files.writeString(Paths.get(in, "b1.json"),
      """{"time":"2024-01-01T10:05:00Z","entity_id":"a.1","state":"10"}""")
    val q1 = start(); q1.processAllAvailable(); q1.stop()
    assert(spark.read.parquet(out).count() == 1)
    // restart from the checkpoint: the left endpoint (bucket, value) must
    // resume — the interior gaps interpolate from the OLD run's value,
    // which only works if state was recovered
    Files.writeString(Paths.get(in, "b2.json"),
      """{"time":"2024-01-01T13:20:00Z","entity_id":"a.1","state":"40"}""")
    val q2 = start(); q2.processAllAvailable(); q2.stop()
    val rows = spark.read.parquet(out)
      .collect().map(r => (r.getAs[java.sql.Timestamp]("bucket").toString,
        r.getAs[Double]("interp"), r.getAs[Int]("is_gap"))).sortBy(_._1).toSeq
    assert(rows == Seq(
      ("2024-01-01 10:00:00.0", 10.0, 0),
      ("2024-01-01 11:00:00.0", 20.0, 1),
      ("2024-01-01 12:00:00.0", 30.0, 1),
      ("2024-01-01 13:00:00.0", 40.0, 0)))
  }

  test("same-timestamp counter readings apply in value order (batch tie rule)") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(java.sql.Timestamp, String, String)]
    val df = ms.toDF.toDF("time", "entity_id", "state")
    val q = StreamingOps.counterDeltaStream(df).writeStream
      .format("memory").queryName("cdelta_tie_t").outputMode("append").start()
    try {
      // two readings at the SAME timestamp: batch (time, sv) ordering
      // sees 100 then 150 → one +50 delta; the streaming op must too
      ms.addData(
        (ts("2024-01-01 10:00:00"), "p.1", "150"),
        (ts("2024-01-01 10:00:00"), "p.1", "100"))
      q.processAllAvailable()
      // exact redelivery of the frontier reading → dropped
      ms.addData((ts("2024-01-01 10:00:00"), "p.1", "150"))
      q.processAllAvailable()
      ms.addData((ts("2024-01-01 10:10:00"), "p.1", "170"))
      q.processAllAvailable()
    } finally q.stop()
    val deltas = spark.table("cdelta_tie_t")
      .as[(String, java.sql.Timestamp, Double)].collect().sortBy(r => (r._2.getTime, r._3))
      .map(_._3).toSeq
    assert(deltas == Seq(50.0, 20.0))
  }

  test("streaming counter deltas: increases emit diffs, resets emit the new value") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(java.sql.Timestamp, String, String)]
    val df = ms.toDF.toDF("time", "entity_id", "state")
    val q = StreamingOps.counterDeltaStream(df).writeStream
      .format("memory").queryName("cdelta_t").outputMode("append").start()
    try {
      ms.addData(
        (ts("2024-01-01 10:00:00"), "p.1", "100"),
        (ts("2024-01-01 10:10:00"), "p.1", "150"))
      q.processAllAvailable()
      ms.addData((ts("2024-01-01 10:20:00"), "p.1", "30")) // reset
      q.processAllAvailable()
      ms.addData((ts("2024-01-01 10:30:00"), "p.1", "40"))
      q.processAllAvailable()
    } finally q.stop()
    val deltas = spark.table("cdelta_t")
      .as[(String, java.sql.Timestamp, Double)].collect().sortBy(_._2.getTime)
      .map(_._3).toSeq
    assert(deltas == Seq(50.0, 30.0, 10.0))
  }

  test("streaming held intervals close on the next reading, attributed to the start bucket") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(java.sql.Timestamp, String, String)]
    val df = ms.toDF.toDF("time", "entity_id", "state")
    val q = StreamingOps.heldIntervalStream(df, bucketWidthUs = 3600000000L).writeStream
      .format("memory").queryName("held_t").outputMode("append").start()
    try {
      ms.addData((ts("2024-01-01 10:10:00"), "a.1", "10"))
      q.processAllAvailable() // open interval: nothing emits yet
      assert(spark.table("held_t").count() == 0)
      ms.addData((ts("2024-01-01 11:40:00"), "a.1", "20"))
      q.processAllAvailable() // closes 10:10→11:40 @10, bucket 10:00
      ms.addData((ts("2024-01-01 12:00:00"), "a.1", "30"))
      q.processAllAvailable() // closes 11:40→12:00 @20, bucket 11:00
    } finally q.stop()
    val rows = spark.table("held_t")
      .as[(String, java.sql.Timestamp, Double, Long)].collect().sortBy(_._2.getTime).toSeq
    assert(rows == Seq(
      ("a.1", ts("2024-01-01 10:00:00"), 10.0, 90L * 60 * 1000000),
      ("a.1", ts("2024-01-01 11:00:00"), 20.0, 20L * 60 * 1000000)))
    // windowed twa over the emitted intervals = the batch formula
    val twa = spark.table("held_t").groupBy($"entity_id")
      .agg((sum($"sv" * $"dur_us") / sum($"dur_us")).as("twa"))
      .head().getAs[Double]("twa")
    assert(math.abs(twa - (10.0 * 90 + 20.0 * 20) / 110.0) < 1e-9)
  }

  test("streaming OHLC: open/close by event time across batches, append on close") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(java.sql.Timestamp, String, String)]
    val df = ms.toDF.toDF("time", "entity_id", "state")
    val q = StreamingOps.windowedOhlc(df).writeStream
      .format("memory").queryName("ohlc_t").outputMode("append").start()
    try {
      // out-of-order within the window: close must follow EVENT time
      ms.addData(
        (ts("2024-01-01 10:40:00"), "a.1", "4.00"),
        (ts("2024-01-01 10:05:00"), "a.1", "12.00"))
      q.processAllAvailable()
      ms.addData((ts("2024-01-01 10:55:00"), "a.1", "18.00"),
        (ts("2024-01-01 10:20:00"), "a.1", "30.00"))
      q.processAllAvailable()
      // advance the watermark past the window to emit it
      ms.addData((ts("2024-01-01 14:00:00"), "z.1", "0.00"))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("ohlc_t")
      .as[(java.sql.Timestamp, String, Double, Double, Double, Double, Long)]
      .collect().toSet
    assert(rows.contains(
      (ts("2024-01-01 10:00:00"), "a.1", 12.0, 30.0, 4.0, 18.0, 4L)),
      s"expected candle missing: $rows")
  }

  test("streaming M4: extreme points carry their event timestamps, ties per batch rule") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(java.sql.Timestamp, String, String)]
    val df = ms.toDF.toDF("time", "entity_id", "state")
    val q = StreamingOps.windowedM4(df, windowWidth = "1 hour").writeStream
      .format("memory").queryName("m4_t").outputMode("append").start()
    try {
      // out-of-order arrivals; a TIE at the max value (30.00 twice) must
      // resolve to the LATEST time, the min tie to the EARLIEST
      ms.addData(
        (ts("2024-01-01 10:40:00"), "a.1", "30.00"),
        (ts("2024-01-01 10:05:00"), "a.1", "12.00"))
      q.processAllAvailable()
      ms.addData(
        (ts("2024-01-01 10:20:00"), "a.1", "30.00"),
        (ts("2024-01-01 10:55:00"), "a.1", "18.00"))
      q.processAllAvailable()
      ms.addData((ts("2024-01-01 14:00:00"), "z.1", "0.00")) // close 10h
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("m4_t")
      .as[(java.sql.Timestamp, String,
        java.sql.Timestamp, Double, java.sql.Timestamp, Double,
        java.sql.Timestamp, Double, java.sql.Timestamp, Double, Long)]
      .collect().filter(_._2 == "a.1")
    assert(rows.length == 1)
    val r = rows.head
    assert(r._3 == ts("2024-01-01 10:05:00") && r._4 == 12.0) // first
    assert(r._5 == ts("2024-01-01 10:05:00") && r._6 == 12.0) // min (earliest)
    assert(r._7 == ts("2024-01-01 10:40:00") && r._8 == 30.0) // max tie -> latest
    assert(r._9 == ts("2024-01-01 10:55:00") && r._10 == 18.0) // last
    assert(r._11 == 4L)
  }

  test("streaming state_agg: class totals update on interval close (update mode)") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(java.sql.Timestamp, String, String)]
    val df = ms.toDF.toDF("time", "entity_id", "state")
    val q = StreamingOps.stateAggStream(df).writeStream
      .format("memory").queryName("sa_t").outputMode("update").start()
    try {
      ms.addData((ts("2024-01-01 10:00:00"), "a.1", "10"))
      q.processAllAvailable() // open interval: nothing emits
      assert(spark.table("sa_t").count() == 0)
      ms.addData((ts("2024-01-01 11:00:00"), "a.1", "30")) // closes low, 1h
      ms.addData((ts("2024-01-01 13:00:00"), "a.1", "15")) // closes mid, 2h
      ms.addData((ts("2024-01-01 14:00:00"), "a.1", "99")) // closes low, 1h more
      q.processAllAvailable()
    } finally q.stop()
    // update mode: totals are monotonic, so latest = max per class
    val totals = spark.table("sa_t").groupBy($"state_class")
      .agg(max($"duration_us").as("d"), max($"n_intervals").as("n"))
      .as[(String, Long, Long)].collect().toSet
    val H = 3600000000L
    assert(totals == Set(("low", 2 * H, 2L), ("mid", 2 * H, 1L)))
  }

  test("streaming state_agg classifies through the batch try_cast(decimal(12,2)) domain") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(java.sql.Timestamp, String, String)]
    val df = ms.toDF.toDF("time", "entity_id", "state")
    val q = StreamingOps.stateAggStream(df).writeStream
      .format("memory").queryName("sa_cast_t").outputMode("update").start()
    // the cast trims " 5 " to 5.00 (low) and rounds 19.999 to 20.00 (mid)
    val feed = Seq(
      (ts("2024-01-01 10:00:00"), "a.1", " 5 "),
      (ts("2024-01-01 11:00:00"), "a.1", "19.999"),
      (ts("2024-01-01 12:00:00"), "a.1", "1"))
    try {
      ms.addData(feed: _*)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("sa_cast_t").as[(String, String, Long, Long)].collect().toSet
    val want = graft.operators.TimeSeries.stateAgg(feed.toDF("time", "entity_id", "state"))
      .select($"entity_id", $"state_class", $"duration_us", $"n_intervals")
      .as[(String, String, Long, Long)].collect().toSet
    assert(got == want, s"stream $got, batch $want")
  }

  test("streaming heartbeat: an outage emits when the closing heartbeat arrives") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val H = 3600000000L
    val ms = MemoryStream[(java.sql.Timestamp, String, String)]
    val df = ms.toDF.toDF("time", "entity_id", "state")
    val q = StreamingOps.heartbeatStream(df, livenessUs = 2 * H).writeStream
      .format("memory").queryName("hb_t").outputMode("append").start()
    try {
      ms.addData((ts("2024-01-01 10:00:00"), "a.1", "1"))
      ms.addData((ts("2024-01-01 11:00:00"), "a.1", "2")) // 1h gap: live
      q.processAllAvailable()
      assert(spark.table("hb_t").count() == 0)
      ms.addData((ts("2024-01-01 15:00:00"), "a.1", "3")) // 4h gap: outage
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("hb_t")
      .as[(String, java.sql.Timestamp, java.sql.Timestamp, Long)].collect().toSeq
    assert(rows == Seq(
      ("a.1", ts("2024-01-01 13:00:00"), ts("2024-01-01 15:00:00"), 2 * H)))
  }

  test("streaming near-dup: a candidate emits when the second near-copy arrives") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    val ms = MemoryStream[(Long, String)]
    val df = ms.toDF.toDF("doc_id", "text")
    // no timeCol on the stream → the unbounded mode is the only fit, and
    // it must be requested by NAME (bounded retention is the default)
    val q = StreamingOps.nearDupStream(df, unboundedRetention = true).writeStream
      .format("memory").queryName("nd_t").outputMode("append").start()
    try {
      ms.addData((1L, base), (3L, "completely different words here"))
      q.processAllAvailable()
      assert(spark.table("nd_t").count() == 0) // nothing to pair yet
      ms.addData((2L, base + " tail")) // near-copy of doc 1
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("nd_t")
      .as[(Long, Long, Int, Double)].collect().toSeq
    assert(rows.nonEmpty && rows.forall(r => r._1 == 1L && r._2 == 2L),
      s"expected only the (1,2) near-dup pair: $rows")
    assert(rows.forall(_._4 >= 0.5)) // a band match guarantees est >= 0.5
  }

  test("streaming near-dup: a bucket at the cap stops pairing (hot-band guard)") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    val ms = MemoryStream[(Long, String)]
    val df = ms.toDF.toDF("doc_id", "text")
    val q = StreamingOps.nearDupStream(df, maxBucket = 2, unboundedRetention = true)
      .writeStream
      .format("memory").queryName("nd_cap_t").outputMode("append").start()
    try {
      // 4 identical docs share every bucket; cap 2 → only the first
      // arrival pair (1,2) emits per band, later members stop pairing
      ms.addData((1L, base)); q.processAllAvailable()
      ms.addData((2L, base)); q.processAllAvailable()
      ms.addData((3L, base), (4L, base)); q.processAllAvailable()
    } finally q.stop()
    val pairs = spark.table("nd_cap_t")
      .as[(Long, Long, Int, Double)].collect().map(r => (r._1, r._2)).toSet
    assert(pairs == Set((1L, 2L)), s"cap must stop pairing: $pairs")
  }

  test("streaming near-dup retention: horizon-scoped pairing survives a checkpoint restart") {
    import java.nio.file.{Files, Paths}
    def tmp(p: String) = Files.createTempDirectory(p).toString
    val in = tmp("nd-in"); val out = tmp("nd-out"); val ckpt = tmp("nd-ckpt")
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    val hourUs = 3600000000L
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id LONG, text STRING, ingest_time TIMESTAMP")
    def start() = StreamingOps
      .nearDupStream(spark.readStream.schema(schema).json(in),
        retentionUs = hourUs)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    def doc(id: Long, t: String) =
      s"""{"doc_id":$id,"text":"$base","ingest_time":"${t}Z"}"""
    // within the horizon: (1,2) pairs
    Files.writeString(Paths.get(in, "b1.json"),
      doc(1, "2024-01-01T10:00:00") + "\n" + doc(2, "2024-01-01T10:30:00"))
    val q1 = start(); q1.processAllAvailable(); q1.stop()
    // 2.5h later docs 1+2 have aged out — doc 3 re-registers the bucket
    // fresh and pairs with NOTHING; doc 4 thirty minutes on pairs with 3
    Files.writeString(Paths.get(in, "b2.json"), doc(3, "2024-01-01T13:00:00"))
    Files.writeString(Paths.get(in, "b3.json"), doc(4, "2024-01-01T13:30:00"))
    val q2 = start(); q2.processAllAvailable(); q2.stop()
    // restart from the checkpoint: recovered state must carry docs 3+4
    Files.writeString(Paths.get(in, "b4.json"), doc(5, "2024-01-01T13:45:00"))
    val q3 = start(); q3.processAllAvailable(); q3.stop()
    val pairs = spark.read.parquet(out)
      .collect().map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"))).toSet
    assert(pairs == Set((1L, 2L), (3L, 4L), (3L, 5L), (4L, 5L)),
      s"retention horizon must scope pairing: $pairs")
  }

  test("streaming near-dup DEFAULT: the 7-day TTL evicts members without any retention arg") {
    // pins r8 verdict #2: bounded state is the DEFAULT — a caller who
    // writes nearDupStream(df) and supplies an ingest_time column gets
    // the 7-day horizon, not unbounded dedup-against-everything
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    val ms = MemoryStream[(Long, String, java.sql.Timestamp)]
    val df = ms.toDF.toDF("doc_id", "text", "ingest_time")
    val q = StreamingOps.nearDupStream(df).writeStream
      .format("memory").queryName("nd_def_t").outputMode("append").start()
    try {
      ms.addData((1L, base, ts("2024-01-01 00:00:00")))
      q.processAllAvailable()
      // 8 days on: doc 1 is past the default horizon — no pair emits and
      // its entry evicts as doc 2 registers
      ms.addData((2L, base, ts("2024-01-09 00:00:00")))
      q.processAllAvailable()
      assert(spark.table("nd_def_t").count() == 0,
        "a member older than the default 7-day horizon must not pair")
      // 1 day after doc 2 (inside the horizon): pairs with doc 2 only
      ms.addData((3L, base, ts("2024-01-10 00:00:00")))
      q.processAllAvailable()
    } finally q.stop()
    val pairs = spark.table("nd_def_t")
      .as[(Long, Long, Int, Double)].collect().map(r => (r._1, r._2)).toSet
    assert(pairs == Set((2L, 3L)),
      s"default TTL must evict doc 1 and pair only (2,3): $pairs")
  }

  test("streaming CMS: cells equal the batch sketch over every stream prefix") {
    def md5p(s: String): Long = graft.functions.TextHash.md5Prefix64(
      org.apache.spark.unsafe.types.UTF8String.fromString(s))
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[String]
    val df = ms.toDF.toDF("state")
    val q = StreamingOps.cmsStream(df, depth = 2, width = 8).writeStream
      .format("memory").queryName("cms_t").outputMode("update").start()
    def batchCells(states: Seq[String]): Map[(Int, Long), Long] =
      states.flatMap(s => (0 until 2).map(d => (d, md5p(s"$d:$s") % 8)))
        .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    try {
      ms.addData("a", "b", "a")
      q.processAllAvailable()
      val after1 = spark.table("cms_t").as[(Int, Long, Long)].collect()
        .groupBy(r => (r._1, r._2)).map { case (k, v) => k -> v.map(_._3).max }
      assert(after1 == batchCells(Seq("a", "b", "a")),
        s"prefix-1 cells diverge: $after1")
      ms.addData("a", "c")
      q.processAllAvailable()
      val after2 = spark.table("cms_t").as[(Int, Long, Long)].collect()
        .groupBy(r => (r._1, r._2)).map { case (k, v) => k -> v.map(_._3).max }
      assert(after2 == batchCells(Seq("a", "b", "a", "a", "c")),
        s"prefix-2 cells diverge: $after2")
      // the CMS read rule: est(x) = min_d cell(d, h_d(x)) ≥ true count
      val estA = (0 until 2).map(d => after2((d, md5p(s"$d:a") % 8))).min
      assert(estA >= 3L)
    } finally q.stop()
  }

  test("streaming geofence: one-bit state emits exactly the batch transition log") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(java.sql.Timestamp, Long, Long, Double, Double)]
    val df = ms.toDF.toDF("time", "user_id", "event_id", "lat", "lon")
    val q = StreamingOps.geofenceStream(df, centerLat = 0.0, centerLon = 0.0,
        radiusKm = 200.0).writeStream
      .format("memory").queryName("gf_t").outputMode("append").start()
    def t(m: Int) = ts(f"2024-01-01 10:$m%02d:00")
    try {
      // user 1: outside → inside (enter) → inside (no event)
      // user 2: inside from the start (seed, no event)
      ms.addData((t(0), 1L, 10L, 0.0, 10.0), (t(1), 1L, 11L, 0.0, 0.5),
        (t(2), 1L, 12L, 0.0, 0.6), (t(0), 2L, 20L, 0.0, 0.0))
      q.processAllAvailable()
      // batch 2: user 1 exits; user 2 exits then re-enters (both emit)
      ms.addData((t(5), 1L, 13L, 0.0, 30.0), (t(5), 2L, 21L, 40.0, 40.0),
        (t(6), 2L, 22L, 0.1, 0.1))
      q.processAllAvailable()
    } finally q.stop()
    import spark.implicits._
    val got = spark.table("gf_t").as[StreamingOps.GeofenceEvent].collect()
      .map(e => (e.user_id, e.time, e.event_id, e.event)).toSet
    assert(got == Set(
      (1L, t(1), 11L, "enter"), (1L, t(5), 13L, "exit"),
      (2L, t(5), 21L, "exit"), (2L, t(6), 22L, "enter")),
      s"transition log diverged: $got")
  }

  test("streaming geofence: duplicate-µs fixes order by event_id exactly as the batch window") {
    // The r12 caveat, closed: enter+exit in the SAME microsecond used to
    // have no shared order across the two forms; with event_id on the
    // stream schema both tie-break identically. The expected log is
    // computed by the batch lag-window over the same rows — not hand-
    // mirrored — so the pin is form-vs-form, not form-vs-formula.
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val T = ts("2024-01-01 10:00:00")
    // user 1: seed outside, then at one µs an inside fix (eid 2) and an
    // outside fix (eid 3) — enter then exit, decided only by event_id;
    // user 2: the mirrored pair arriving with event_ids swapped
    val rows = Seq(
      (ts("2024-01-01 09:00:00"), 1L, 1L, 0.0, 10.0),
      (T, 1L, 2L, 0.0, 0.5), (T, 1L, 3L, 0.0, 9.0),
      (ts("2024-01-01 09:00:00"), 2L, 1L, 0.0, 0.5),
      (T, 2L, 3L, 0.0, 0.6), (T, 2L, 2L, 0.0, 9.0))
    val ms = MemoryStream[(java.sql.Timestamp, Long, Long, Double, Double)]
    val df = ms.toDF.toDF("time", "user_id", "event_id", "lat", "lon")
    val q = StreamingOps.geofenceStream(df, centerLat = 0.0, centerLon = 0.0,
        radiusKm = 200.0).writeStream
      .format("memory").queryName("gf_dup_t").outputMode("append").start()
    try { ms.addData(rows: _*); q.processAllAvailable() } finally q.stop()
    val got = spark.table("gf_dup_t").as[StreamingOps.GeofenceEvent].collect()
      .map(e => (e.user_id, e.time, e.event_id, e.event)).toSet
    val w = Window.partitionBy(col("user_id")).orderBy(col("time"), col("event_id"))
    val batch = rows.toDF("time", "user_id", "event_id", "lat", "lon")
      .withColumn("inside",
        (graft.functions.Haversine.haversineKm(
          col("lat"), col("lon"), lit(0.0), lit(0.0)) <= 200.0).cast("int"))
      .withColumn("prev", lag(col("inside"), 1).over(w))
      .filter(col("prev").isNotNull && col("prev") =!= col("inside"))
      .select(col("user_id"), col("time"), col("event_id"),
        when(col("inside") === 1, "enter").otherwise("exit").as("event"))
      .as[(Long, java.sql.Timestamp, Long, String)].collect().toSet
    assert(batch.exists(_._2 == T) && batch.size >= 3,
      s"fixture too weak to pin the tie-break: $batch")
    assert(got == batch, s"stream $got != batch $batch under duplicate-µs input")
  }

  test("streaming odometer equals the batch travel rollup over every prefix") {
    // same fixture geometry as GeoTrajectorySpec: user 90 walks lon
    // 0.5 -> 1.5 -> 3.5 at lat 0.5 (legs of 1 and 2 degrees), user 91
    // emits one fix (no legs). Batch 1 delivers the first two fixes,
    // batch 2 the rest — the totals after each prefix must equal the
    // batch ltss_geo_travel query over the same rows (run against a
    // parquet of exactly those rows, not a mirrored formula).
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    def fix(eid: Long, t: String, uid: Long) = {
      val lat = (uid % 180 - 90).toDouble + 0.5
      val lon = (eid % 360 - 180).toDouble + 0.5
      (ts(t), uid, eid, lat, lon)
    }
    val b1 = Seq(fix(180L, "2024-01-01 10:00:00", 90L), fix(181L, "2024-01-01 11:00:00", 90L))
    val b2 = Seq(fix(183L, "2024-01-01 12:00:00", 90L), fix(540L, "2024-01-01 10:00:00", 91L))
    val ms = MemoryStream[(java.sql.Timestamp, Long, Long, Double, Double)]
    val df = ms.toDF.toDF("time", "user_id", "event_id", "lat", "lon")
    val q = StreamingOps.odometerStream(df).writeStream
      .format("memory").queryName("odo_t").outputMode("update").start()
    def batchTravel(rows: Seq[(java.sql.Timestamp, Long, Long, Double, Double)])
        : Map[Long, (Long, Long, Long)] = {
      val dir = java.nio.file.Files.createTempDirectory("graft-odo-batch").toString
      rows.map(r => (r._3, r._1, r._2)).toDF("event_id", "ts", "user_id")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      SparkEntry.queries("ltss_geo_travel")(spark, dir).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    }
    def streamState(): Map[Long, (Long, Long, Long)] =
      spark.table("odo_t").as[StreamingOps.Odometer].collect()
        .groupBy(_.user_id)
        .map { case (u, os) =>
          val last = os.maxBy(o => (o.n_legs, o.travel_m))
          u -> ((last.n_legs, last.travel_m, last.max_leg_m))
        }
    try {
      ms.addData(b1: _*); q.processAllAvailable()
      assert(streamState() == batchTravel(b1),
        s"prefix-1 odometer diverged: ${streamState()} vs ${batchTravel(b1)}")
      ms.addData(b2: _*); q.processAllAvailable()
      assert(streamState() == batchTravel(b1 ++ b2),
        s"prefix-2 odometer diverged: ${streamState()} vs ${batchTravel(b1 ++ b2)}")
    } finally q.stop()
  }

  test("streaming speed alerts fire on teleports and duplicate-µs pairs, never on slow legs") {
    // GeoTrajectorySpec's speed fixture, streamed across two batches so
    // the last-fix state crosses a batch boundary: user 92 walks 1° in
    // an hour (≈111 km/h, silent) then jumps 30° in a minute (alert);
    // user 93 emits a duplicate-µs pair (alert, None severity)
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    def fix(eid: Long, t: String, uid: Long) = {
      val lat = (uid % 180 - 90).toDouble + 0.5
      val lon = (eid % 360 - 180).toDouble + 0.5
      (ts(t), uid, eid, lat, lon)
    }
    val ms = MemoryStream[(java.sql.Timestamp, Long, Long, Double, Double)]
    val df = ms.toDF.toDF("time", "user_id", "event_id", "lat", "lon")
    val q = StreamingOps.geoSpeedStream(df).writeStream
      .format("memory").queryName("spd_t").outputMode("append").start()
    try {
      ms.addData(fix(180L, "2024-01-01 10:00:00", 92L),
        fix(181L, "2024-01-01 11:00:00", 92L),
        fix(180L, "2024-01-01 10:00:00", 93L))
      q.processAllAvailable()
      assert(spark.table("spd_t").count() == 0,
        "the ~111 km/h leg must not alert")
      // batch 2: the teleport leg pairs with batch 1's last fix
      ms.addData(fix(211L, "2024-01-01 11:01:00", 92L),
        fix(190L, "2024-01-01 10:00:00", 93L))
      q.processAllAvailable()
      // batch 3: a cross-batch OUT-OF-ORDER fix (event time before the
      // entity's frontier → dt < 0) — outside the in-order contract; the
      // batch window can never produce dt_us < 0, so no alert may be
      // fabricated for it
      ms.addData(fix(182L, "2024-01-01 09:00:00", 92L))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("spd_t").as[StreamingOps.SpeedAlert].collect()
      .map(a => (a.user_id, a.event_id, a.speed_kmh_floor)).toSet
    // closed-form expectation, same device as GeoTrajectorySpec
    val leg30 = math.floor(2.0 * 6371.0088 * math.asin(
      math.cos(math.toRadians(2.5)) * math.sin(math.toRadians(30.0) / 2)) * 1000.0).toLong
    val v = math.floor(leg30.toDouble * 3600000.0 / 60000000.0).toLong
    assert(got == Set((92L, 211L, Some(v)), (93L, 190L, None)),
      s"alert set diverged: $got (expected teleport $v km/h + dup-µs None)")
  }

  test("streaming ASAP pick equals the batch window selection over a dense prefix") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val H = 3600000000L
    val counts = Seq(1, 3, 1, 3, 1, 3, 1, 3, 2, 4, 2, 4, 1, 3, 1, 3).map(_.toLong)
    val ms = MemoryStream[(String, Long, Long)]
    val df = ms.toDF.toDF("domain", "bus", "c")
    val q = graft.streaming.StreamingOps.asapStream(df).writeStream
      .format("memory").queryName("asap_t").outputMode("update").start()
    try {
      val buses = counts.zipWithIndex.map { case (c, i) => ("click", i * H, c) }
      val (b1, b2) = buses.splitAt(9)
      ms.addData(b1: _*); q.processAllAvailable()
      ms.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    import spark.implicits._
    val fin = spark.table("asap_t")
      .as[graft.streaming.StreamingOps.AsapPick].collect().maxBy(_.m)
    // batch reference over the SAME dense series (c events per hour)
    val rows = counts.zipWithIndex.flatMap { case (c, h) =>
      Seq.fill(c.toInt)((java.sql.Timestamp.valueOf(f"2024-01-01 ${h}%02d:00:00"),
        "click.1", "1.00"))
    }
    val batch = graft.operators.TimeSeries.asapSmooth(
        rows.toDF("time", "entity_id", "state")).collect()
      .filter(_.getAs[Int]("is_best") == 1).head
    assert(fin.w_best == batch.getAs[Int]("w"),
      s"stream pick ${fin.w_best} != batch ${batch.getAs[Int]("w")}")
    assert(fin.var_int == batch.getAs[Long]("var_int"))
    assert(fin.roughness == batch.getAs[Double]("roughness"))
    assert(fin.m == batch.getAs[Long]("m"))
  }

  test("streaming zone dwell: held intervals settle on the next arrival, batch-exact") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(java.sql.Timestamp, Long, Double, Double)]
    val df = ms.toDF.toDF("time", "user_id", "lat", "lon")
    val q = StreamingOps.zoneDwellStream(df, centerLat = 0.0, centerLon = 0.0,
        radiusKm = 200.0).writeStream
      .format("memory").queryName("zd_t").outputMode("update").start()
    def t(m: Int) = ts(f"2024-01-01 10:$m%02d:00")
    try {
      // inside 10:00→10:10 (held 600s), outside 10:10→10:30, inside from 10:30
      ms.addData((t(0), 1L, 0.0, 0.5), (t(10), 1L, 0.0, 50.0))
      q.processAllAvailable()
      ms.addData((t(30), 1L, 0.0, 0.1), (t(40), 1L, 0.0, 0.2))
      q.processAllAvailable()
    } finally q.stop()
    import spark.implicits._
    val fin = spark.table("zd_t").as[StreamingOps.ZoneDwellRow].collect()
      .maxBy(_.n_obs)
    // dwell: 600s (first hold) + 600s (10:30→10:40) = 1200s; 2 visits
    assert(fin.n_obs == 4L)
    assert(fin.dwell_us == 1200L * 1000000L, s"dwell ${fin.dwell_us}")
    assert(fin.n_visits == 2L)
    assert(fin.first_seen == t(0) && fin.last_seen == t(40))
  }

  test("streaming zone dwell keeps the sub-millisecond digits the batch unix_micros sees") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(java.sql.Timestamp, Long, Double, Double)]
    val df = ms.toDF.toDF("time", "user_id", "lat", "lon")
    val q = StreamingOps.zoneDwellStream(df, centerLat = 0.0, centerLon = 0.0,
        radiusKm = 200.0).writeStream
      .format("memory").queryName("zd_us_t").outputMode("update").start()
    // µs-precision event times: getTime*1000 arithmetic would truncate
    // the 123/907 µs digits and report dwell 600_000_000 instead of the
    // batch twin's unix_micros difference
    def tUs(sec: String, us: Int) = {
      val t = ts(s"2024-01-01 10:$sec")
      t.setNanos(us * 1000); t
    }
    try {
      ms.addData(
        (tUs("00:00", 123), 1L, 0.0, 0.5),   // inside
        (tUs("10:00", 907), 1L, 0.0, 50.0))  // outside — settles the hold
      q.processAllAvailable()
    } finally q.stop()
    import spark.implicits._
    val fin = spark.table("zd_us_t").as[StreamingOps.ZoneDwellRow].collect()
      .maxBy(_.n_obs)
    assert(fin.dwell_us == 600L * 1000000L + (907 - 123), s"dwell ${fin.dwell_us}")
    assert(fin.first_seen == tUs("00:00", 123) && fin.last_seen == tUs("10:00", 907))
  }

  test("streaming SpaceSaving: guarantees hold and state stays bounded at k") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(String, String)]
    val df = ms.toDF.toDF("entity_id", "state")
    val q = StreamingOps.heavyHittersStream(df, k = 3).writeStream
      .format("memory").queryName("ss_t").outputMode("update").start()
    // true counts: a×6, b×4, c×2, then one-offs d, e forcing evictions
    val arrivals =
      Seq.fill(6)("a") ++ Seq.fill(4)("b") ++ Seq.fill(2)("c") ++ Seq("d", "e")
    try {
      val (h1, h2) = arrivals.splitAt(9)
      ms.addData(h1.map(s => ("click.1", s)): _*)
      q.processAllAvailable()
      ms.addData(h2.map(s => ("click.1", s)): _*)
      q.processAllAvailable()
    } finally q.stop()
    import spark.implicits._
    val all = spark.table("ss_t").as[StreamingOps.HeavyHitter].collect()
    // bounded state: no emission batch ever tracks more than k states
    assert(all.map(_.state).distinct.size <= 3 + 4, "emissions beyond the k-churn set")
    val fin = all.groupBy(_.state).map { case (_, v) => v.maxBy(_.est) }
    val lastBatch = all.filter(h => Set("d", "e").contains(h.state))
    // N = 15, k = 3 → any state with true count > 15/3 = 5 must be tracked
    // in the final counters: that's "a" (6)
    val finalStates = {
      // reconstruct final counters: the emissions carrying the largest est per state
      // that survive to the end — "a" must be among the last emission's rows
      val maxEst = all.map(_.est).max
      assert(all.exists(h => h.state == "a" && h.est >= 6L),
        "the guaranteed heavy hitter must be tracked with est >= true")
      maxEst
    }
    // est >= true >= est - err for the never-evicted head states
    val a = fin.find(_.state == "a").get
    assert(a.est >= 6L && a.est - a.err <= 6L)
    val b = fin.find(_.state == "b").get
    assert(b.est >= 4L && b.est - b.err <= 4L)
    // exact flag: a and b were tracked from their first arrival (slots free)
    assert(a.exact == 1 && b.exact == 1)
    // an evicting newcomer inherits error: some late arrival has err > 0
    assert(lastBatch.exists(_.err > 0L), s"expected inherited error bounds: $lastBatch")
    assert(finalStates >= 6L)
  }

  test("streaming KMV: k-min state stays bounded and matches the batch sketch arithmetic") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    def md5p(s: String): Long = graft.functions.TextHash.md5Prefix64(
      org.apache.spark.unsafe.types.UTF8String.fromString(s))
    val ms = MemoryStream[(String, String)]
    val df = ms.toDF.toDF("entity_id", "state")
    val q = StreamingOps.kmvStream(df, k = 4).writeStream
      .format("memory").queryName("kmv_t").outputMode("update").start()
    try {
      ms.addData(("click.1", "a"), ("click.2", "b"), ("click.3", "c"))
      q.processAllAvailable()
      // 5 distincts > k = 4; a re-arrival must not change the sketch
      ms.addData(("click.4", "d"), ("click.5", "e"), ("click.1", "a"))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("kmv_t")
      .as[(String, String, Long, Long, Double)].collect().toSeq
    // expected final row per target: the 4 smallest of the 5 hashes,
    // estimate (k-1)*2^60 / h_4 — the batch query's exact arithmetic
    def expect(vals: Seq[String]) = {
      val top = vals.map(md5p).sorted.take(4)
      ("click", top.size.toLong, top.last,
        3.0 * 1152921504606846976.0d / top.last.toDouble)
    }
    val (d1, n1, k1, e1) = expect((1 to 5).map(i => s"click.$i"))
    val (d2, n2, k2, e2) = expect(Seq("a", "b", "c", "d", "e"))
    assert(rows.contains((d1, "entities", n1, k1, e1)),
      s"entities sketch missing from updates: $rows")
    assert(rows.contains((d2, "states", n2, k2, e2)),
      s"states sketch missing from updates: $rows")
    // bounded state: no update ever tracks more than k
    assert(rows.forall(_._3 <= 4))
  }

  test("streaming as-of enrichment: clicks carry the latest at-or-before purchase frontier") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(java.sql.Timestamp, String, String)]
    val df = ms.toDF.toDF("time", "entity_id", "state")
    val q = StreamingOps.asofStream(df).writeStream
      .format("memory").queryName("asof_t").outputMode("append").start()
    try {
      // in-batch: the 09:00 click precedes any purchase → unenriched;
      // the purchase then sets the frontier
      ms.addData(
        (ts("2024-01-01 09:00:00"), "click.1", "1"),
        (ts("2024-01-01 10:00:00"), "purchase.1", "5"))
      q.processAllAvailable()
      // next batch: a click at the purchase instant matches (≤ tie rule),
      // a later click carries the same frontier
      ms.addData(
        (ts("2024-01-01 10:00:00"), "click.1", "2"),
        (ts("2024-01-01 10:30:00"), "click.1", "9"))
      q.processAllAvailable()
      // same-instant purchase+click in one batch: purchase applies first
      ms.addData(
        (ts("2024-01-01 11:00:00"), "purchase.1", "7"),
        (ts("2024-01-01 11:00:00"), "click.1", "3"))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("asof_t")
      .as[(Long, java.sql.Timestamp, String, Option[java.sql.Timestamp], Option[String])]
      .collect().toSet
    assert(rows == Set(
      (1L, ts("2024-01-01 09:00:00"), "1", None, None),
      (1L, ts("2024-01-01 10:00:00"), "2", Some(ts("2024-01-01 10:00:00")), Some("5")),
      (1L, ts("2024-01-01 10:30:00"), "9", Some(ts("2024-01-01 10:00:00")), Some("5")),
      (1L, ts("2024-01-01 11:00:00"), "3", Some(ts("2024-01-01 11:00:00")), Some("7"))),
      s"got $rows")
  }

  test("streaming as-of: out-of-order purchases never regress the frontier; pre-frontier clicks stay unenriched") {
    // VERDICT r7 #7: the scaladoc'd out-of-order contract, pinned.
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(java.sql.Timestamp, String, String)]
    val df = ms.toDF.toDF("time", "entity_id", "state")
    val q = StreamingOps.asofStream(df).writeStream
      .format("memory").queryName("asof_ooo_t").outputMode("append").start()
    try {
      // in-batch: events apply in event-time order, so the 10:00 click
      // precedes the 12:00 purchase and goes out unenriched
      ms.addData(
        (ts("2024-01-01 10:00:00"), "click.1", "c1"),
        (ts("2024-01-01 12:00:00"), "purchase.1", "9"))
      q.processAllAvailable()
      // a LATE purchase older than the held frontier must not replace it
      ms.addData((ts("2024-01-01 09:00:00"), "purchase.1", "1"))
      q.processAllAvailable()
      // a click before the frontier instant finds no frontier at-or-before
      // it (the late 09:00 purchase was NOT retained — the documented
      // single-frontier, in-order contract: compose after dedupByPkStream
      // with a watermark sized to the disorder); a later click carries
      // the 12:00 frontier
      ms.addData(
        (ts("2024-01-01 11:00:00"), "click.1", "c2"),
        (ts("2024-01-01 13:00:00"), "click.1", "c3"))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("asof_ooo_t")
      .as[(Long, java.sql.Timestamp, String, Option[java.sql.Timestamp], Option[String])]
      .collect().toSet
    assert(rows == Set(
      (1L, ts("2024-01-01 10:00:00"), "c1", None, None),
      (1L, ts("2024-01-01 11:00:00"), "c2", None, None),
      (1L, ts("2024-01-01 13:00:00"), "c3", Some(ts("2024-01-01 12:00:00")), Some("9"))),
      s"got $rows")
  }

  test("composed dedup->asof pipeline matches the batch as-of join on a PK-duplicated fixture") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    // the fixture repeats a (time, entity_id) PK — the documented
    // composition drops it in-stream before the as-of state ever sees it
    val rows = Seq(
      (ts("2024-01-01 10:00:00"), "purchase.1", "5"),
      (ts("2024-01-01 10:00:00"), "purchase.1", "5"), // PK duplicate
      (ts("2024-01-01 10:30:00"), "click.1", "a"),
      (ts("2024-01-01 11:00:00"), "click.1", "b"),
      (ts("2024-01-01 11:30:00"), "purchase.1", "7"),
      (ts("2024-01-01 11:30:00"), "purchase.1", "7"), // PK duplicate
      (ts("2024-01-01 12:00:00"), "click.1", "c"))
    val ms = MemoryStream[(java.sql.Timestamp, String, String)]
    val df = ms.toDF.toDF("time", "entity_id", "state")
    val q = StreamingOps.asofStream(
      StreamingOps.dedupByPkStream(df, "2 hours")).writeStream
      .format("memory").queryName("asof_dedup_t").outputMode("append").start()
    try {
      ms.addData(rows.take(3): _*)
      q.processAllAvailable()
      ms.addData(rows.drop(3): _*)
      q.processAllAvailable()
    } finally q.stop()
    val stream = spark.table("asof_dedup_t")
      .as[(Long, java.sql.Timestamp, String, Option[java.sql.Timestamp], Option[String])]
      .collect().toSet
    import spark.implicits._
    val batch = graft.operators.Queries.asofBackward(
      rows.distinct.toDF("time", "entity_id", "state"))
      .as[(Long, java.sql.Timestamp, String, Option[java.sql.Timestamp], Option[String])]
      .collect().toSet
    assert(stream == batch, s"stream $stream must equal batch $batch")
  }

  test("streaming trend: running sufficient sums converge to the batch OLS exactly") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(java.sql.Timestamp, String, String)]
    val df = ms.toDF.toDF("time", "entity_id", "state")
    val q = StreamingOps.trendStream(df).writeStream
      .format("memory").queryName("trend_t").outputMode("update").start()
    // both sides see the unparseable state AND a pre-epoch timestamp:
    // the batch op must skip 'oops' rows entirely (not just from the y
    // sums) and floor the negative rebased x, or the twins diverge
    val rows = Seq(
      (ts("2023-12-31 23:59:58.500"), "a.1", "7"), // pre-epoch: x = -2 by floor
      (ts("2024-01-01 10:00:00"), "a.1", "10"),
      (ts("2024-01-01 11:00:00"), "a.1", "25.5"),
      (ts("2024-01-01 12:00:00"), "a.1", "18"),
      (ts("2024-01-01 12:30:00"), "a.1", "oops"), // skipped by BOTH sides
      (ts("2024-01-01 13:00:00"), "a.1", "40"))
    try {
      ms.addData(rows.take(3): _*)
      q.processAllAvailable()
      ms.addData(rows(3), rows(4))
      q.processAllAvailable()
      ms.addData(rows(5))
      q.processAllAvailable()
    } finally q.stop()
    // Update mode: the LAST emitted row per entity is the running trend
    val last = spark.table("trend_t").as[(String, Long, Double, Double)]
      .collect().maxBy(_._2)
    import spark.implicits._
    val batch = graft.operators.TimeSeries.trend(
      rows.toDF("time", "entity_id", "state"))
      .select($"entity_id", $"n", $"slope", $"intercept")
      .as[(String, Long, Double, Double)].collect().head
    assert(last == batch, s"stream $last must equal batch $batch bit-exactly")
  }

  test("streaming trend: sums past 2^53 emit a NaN-flagged row, never a silently-wrong double") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(java.sql.Timestamp, String, String)]
    val df = ms.toDF.toDF("time", "entity_id", "state")
    val q = StreamingOps.trendStream(df).writeStream
      .format("memory").queryName("trend_guard_t").outputMode("update").start()
    try {
      // b.1: yc = 10^9 cents → syyc = 10^18 per row, inside BIGINT but past
      // 2^53 — the closing chain would round; guard must flag it.
      // c.1: yc = 10^12 cents → yc² = 10^24 overflows BIGINT outright — the
      // exact-arithmetic taint path, not the closing-bound path.
      ms.addData(
        (ts("2024-01-01 10:00:00"), "b.1", "10000000.00"),
        (ts("2024-01-01 11:00:00"), "b.1", "10000001.00"),
        (ts("2024-01-01 10:00:00"), "c.1", "9999999999.99"),
        (ts("2024-01-01 11:00:00"), "c.1", "9999999999.98"))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("trend_guard_t")
      .as[(String, Long, Double, Double)].collect()
      .groupBy(_._1).view.mapValues(_.maxBy(_._2)).toMap
    for (k <- Seq("b.1", "c.1")) {
      val (_, n, slope, intercept) = rows(k)
      assert(n == 2, s"$k: n must still count rows, got $n")
      assert(slope.isNaN && intercept.isNaN,
        s"$k: overflow-risk trend must be NaN-flagged, got ($slope, $intercept)")
    }
  }

  test("streaming funnel: ordered steps complete once, out-of-order clicks don't convert") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(java.sql.Timestamp, String, String)]
    val df = ms.toDF.toDF("time", "entity_id", "state")
    val q = StreamingOps.funnelStream(df).writeStream
      .format("memory").queryName("fn_t").outputMode("append").start()
    try {
      // uid 2's click arrives BEFORE any view: must not convert
      ms.addData(
        (ts("2024-01-01 09:00:00"), "click.2", "1"),
        (ts("2024-01-01 10:00:00"), "view.1", "1"))
      q.processAllAvailable()
      ms.addData(
        (ts("2024-01-01 11:00:00"), "click.1", "1"),
        (ts("2024-01-01 11:30:00"), "click.1", "1"), // second click: no re-emit
        (ts("2024-01-01 10:30:00"), "view.2", "1"))
      q.processAllAvailable()
      ms.addData((ts("2024-01-01 12:00:00"), "purchase.1", "1"))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("fn_t")
      .as[(Long, String, java.sql.Timestamp)].collect().toSet
    assert(rows == Set(
      (1L, "1_view", ts("2024-01-01 10:00:00")),
      (1L, "2_click", ts("2024-01-01 11:00:00")),
      (1L, "3_purchase", ts("2024-01-01 12:00:00")),
      (2L, "1_view", ts("2024-01-01 10:30:00"))))
  }

  test("streaming funnel: a same-instant view converts a click that arrives first (batch >= tie rule)") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(java.sql.Timestamp, String, String)]
    val df = ms.toDF.toDF("time", "entity_id", "state")
    val q = StreamingOps.funnelStream(df).writeStream
      .format("memory").queryName("fn_tie_t").outputMode("append").start()
    val t = ts("2024-01-01 10:00:00")
    // one instant, arriving purchase, click, view: the batch RANGE frame
    // sees the view at the click's time and the click at the purchase's
    val feed = Seq((t, "purchase.7", "1"), (t, "click.7", "1"), (t, "view.7", "1"))
    try {
      ms.addData(feed: _*)
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("fn_tie_t")
      .as[(Long, String, java.sql.Timestamp)].collect().toSet
    assert(rows == Set((7L, "1_view", t), (7L, "2_click", t), (7L, "3_purchase", t)),
      s"got $rows")
    val batch = graft.operators.Queries.funnelTimes(feed.toDF("time", "entity_id", "state"))
      .as[(Long, java.sql.Timestamp, java.sql.Timestamp, java.sql.Timestamp)].collect()
    assert(batch.toSeq == Seq((7L, t, t, t)), s"batch funnel: ${batch.toSeq}")
  }

  /** The rows `twin` emits when `feed` arrives as ONE micro-batch of a
    * fresh query, followed by `flush` as a second one when it is given. */
  private def emittedOnce[A: org.apache.spark.sql.Encoder](
      feed: Seq[A], flush: Seq[A], cols: Seq[String], mode: String,
      twin: org.apache.spark.sql.DataFrame => org.apache.spark.sql.Dataset[_]): Seq[String] = {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[A]
    val name = "order_inv_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = twin(ms.toDF.toDF(cols: _*)).toDF.writeStream
      .format("memory").queryName(name).outputMode(mode).start()
    try {
      ms.addData(feed)
      q.processAllAvailable()
      if (flush.nonEmpty) {
        ms.addData(flush)
        q.processAllAvailable()
      }
    } finally q.stop()
    spark.table(name).collect().map(_.toString).sorted.toSeq
  }

  test("order-invariance: each keyed-fold twin emits the same rows for a batch fed forward or reversed") {
    // one micro-batch is one MemoryStream partition, and each key's rows
    // reach its fold in feed order, so reversing the feed reverses them.
    // A timed twin then gets one far-future row in a second batch: the
    // watermark passes every deadline, so every held key's timeout fires
    def at(s: String) = ts(s"2024-01-01 $s")
    val ltss = Seq(
      (at("10:00:00"), "sensor.1", "5.00"),
      (at("10:00:00"), "sensor.1", "9.00"), // tie
      (at("10:20:00"), "sensor.1", "2.00"),
      (at("11:40:00"), "sensor.1", "on"), // junk
      (at("13:10:00"), "sensor.1", "7.50"),
      (at("13:10:00.000001"), "sensor.1", "1.00"), // µs apart
      (at("14:30:00"), "sensor.1", "8.25"),
      (at("09:00:00"), "sensor.2", "3.00"),
      (at("12:00:00"), "sensor.2", "4.00"),
      (at("12:00:00"), "sensor.2", "4.00"), // exact duplicate
      (at("10:00:00"), "view.7", "v"),
      (at("10:00:00"), "click.7", "c"), // same instant as the view
      (at("10:05:00"), "purchase.7", "12.00"),
      (at("10:05:00"), "click.7", "c2"),
      (at("10:30:00"), "click.7", "c3"),
      (at("11:00:00"), "view.8", "v"),
      (at("11:00:00"), "purchase.8", "3.00"))
    val fixes = Seq(
      (ts("2024-01-31 10:00:00"), 100L, 79L, 10.5, -100.5),
      (ts("2024-01-31 10:00:00"), 100L, 80L, 10.5, -40.5), // same µs
      (ts("2024-01-31 23:00:00"), 100L, 139L, 10.5, -40.4),
      (ts("2024-02-01 12:00:00"), 100L, 190L, 10.5, 10.5), // next month
      (ts("2024-02-02 01:00:00"), 100L, 191L, 10.6, 10.5),
      (ts("2024-02-02 20:00:00"), 100L, 210L, 10.5, 30.5),
      (ts("2024-03-01 12:00:00"), 100L, 280L, 10.5, 100.5),
      (ts("2024-01-31 10:00:00"), 9L, 180L, -80.5, 0.5),
      (ts("2024-01-31 10:00:00"), 9L, 181L, -80.5, 0.6),
      (ts("2024-02-01 10:00:00"), 9L, 182L, 57.7, 11.97))
    val counts = (0L until 30L).map(b => ("d", b, (b * 7L) % 5L + (if (b == 20L) 9L else 0L)))
    val groups = Seq(
      StreamingOps.HourGroupRow(10L, 1L, 3L, "1,2,3"),
      StreamingOps.HourGroupRow(11L, 1L, 3L, "1,2,3"),
      StreamingOps.HourGroupRow(12L, 1L, 4L, "1,2,3,4"),
      StreamingOps.HourGroupRow(12L, 7L, 3L, "7,8,9"),
      StreamingOps.HourGroupRow(13L, 7L, 3L, "7,8,9"),
      StreamingOps.HourGroupRow(15L, 1L, 3L, "1,2,3"))
    val text = "the quick brown fox jumps over the lazy dog by the river bank"
    val docs = Seq((1L, text), (2L, text), (3L, text + " again"), (4L, text))
    val zones = graft.operators.Queries.ZoneDefs.map { case (id, _, vs) => (id, vs) }
    // nearby trackers (lat from the user, lon from the event) for the
    // contact and contact-cell twins
    def near(eid: Long, t: String, uid: Long) =
      (ts(t), uid, eid, (uid % 180 - 90).toDouble + 0.5, (eid % 360 - 180).toDouble + 0.5)
    val nearFixes = Seq(
      near(182L, "2024-01-01 11:30:00", 12L), near(180L, "2024-01-01 10:30:00", 120L),
      near(180L, "2024-01-01 10:00:00", 10L),
      near(181L, "2024-01-01 10:00:00", 11L), // same µs as user 10
      near(184L, "2024-01-01 13:00:00", 12L), near(186L, "2024-01-01 14:00:00", 10L),
      near(188L, "2024-01-01 16:00:00", 12L))
    val farFix = Seq(near(900L, "2024-03-01 00:00:00", 500L))
    def ce(ta: String, ua: Long, ea: Long, tb: String, ub: Long, eb: Long) =
      StreamingOps.ContactEvent(ts(ta), ua, ea, ts(tb), ub, eb, 8.0,
        (ts(tb).getTime - ts(ta).getTime) * 1000L)
    // pair (10,12) meets over hours 10..12 (two rows tie on both times),
    // (10,11) once at hour 15; (12,14) over hours 10..12 and (14,16) at
    // hour 11 chain them into hourly groups
    val contacts = Seq(
      ce("2024-01-01 10:15:00", 10L, 180L, "2024-01-01 10:15:00", 12L, 182L),
      ce("2024-01-01 10:15:00", 10L, 180L, "2024-01-01 11:20:00", 12L, 186L),
      ce("2024-01-01 10:15:00", 12L, 182L, "2024-01-01 11:20:00", 10L, 184L),
      ce("2024-01-01 10:15:00", 12L, 182L, "2024-01-01 12:05:00", 10L, 188L),
      ce("2024-01-01 12:05:00", 10L, 188L, "2024-01-01 12:05:00", 12L, 190L),
      ce("2024-01-01 11:20:00", 10L, 184L, "2024-01-01 11:20:00", 12L, 186L),
      ce("2024-01-01 11:20:00", 10L, 184L, "2024-01-01 12:05:00", 12L, 190L),
      ce("2024-01-01 11:20:00", 12L, 186L, "2024-01-01 12:05:00", 10L, 188L),
      ce("2024-01-01 15:00:00", 10L, 196L, "2024-01-01 15:00:00", 11L, 194L),
      ce("2024-01-01 10:10:00", 12L, 183L, "2024-01-01 10:20:00", 14L, 185L),
      ce("2024-01-01 11:10:00", 12L, 187L, "2024-01-01 11:20:00", 14L, 189L),
      ce("2024-01-01 12:10:00", 12L, 191L, "2024-01-01 12:20:00", 14L, 193L),
      ce("2024-01-01 11:20:00", 14L, 189L, "2024-01-01 11:25:00", 16L, 195L))
    val farContact = Seq(ce("2024-03-01 00:00:00", 50L, 300L, "2024-03-01 00:00:00", 51L, 302L))
    val contactCols = Seq("time_a", "user_a", "event_a", "time_b", "user_b", "event_b", "d2", "dt_us")
    val timedDocs = docs.zipWithIndex.map { case ((id, t), i) =>
      (id, t, ts(f"2024-01-01 10:${5 * (i / 2)}%02d:00")) } // two docs per instant
    val farDoc = Seq((99L, "unrelated words far in the future", ts("2024-03-01 00:00:00")))
    val H = 3600000000L
    type Twin = org.apache.spark.sql.DataFrame => org.apache.spark.sql.Dataset[_]
    def run[A: org.apache.spark.sql.Encoder](feed: Seq[A], cols: String*)(
        mode: String, flush: Seq[A] = Nil)(twin: Twin): Boolean => Seq[String] =
      rev => emittedOnce(if (rev) feed.reverse else feed, flush, cols, mode, twin)
    def onLtss(mode: String)(twin: Twin) = run(ltss, "time", "entity_id", "state")(mode)(twin)
    def onFixes(mode: String)(twin: Twin) =
      run(fixes, "time", "user_id", "event_id", "lat", "lon")(mode)(twin)
    val table: Seq[(String, Boolean => Seq[String])] = Seq(
      "latestState" -> onLtss("update")(StreamingOps.latestState),
      "gapfillLocfStream" -> onLtss("append")(StreamingOps.gapfillLocfStream(_)),
      "gapfillInterpStream" -> onLtss("append")(StreamingOps.gapfillInterpStream(_)),
      "counterDeltaStream" -> onLtss("append")(StreamingOps.counterDeltaStream),
      "heldIntervalStream" -> onLtss("append")(StreamingOps.heldIntervalStream(_)),
      "heartbeatStream" -> onLtss("append")(StreamingOps.heartbeatStream(_, H)),
      "stateAggStream" -> onLtss("update")(StreamingOps.stateAggStream),
      "funnelStream" -> onLtss("append")(StreamingOps.funnelStream),
      "asofStream" -> onLtss("append")(StreamingOps.asofStream),
      "trendStream" -> onLtss("update")(StreamingOps.trendStream),
      "ewmaStream" -> onLtss("update")(StreamingOps.ewmaStream),
      "drawdownStream" -> onLtss("update")(StreamingOps.drawdownStream),
      "sloStream" -> onLtss("update")(StreamingOps.sloStream(_, H)),
      "rateAnomalyStream" -> onLtss("append")(StreamingOps.rateAnomalyStream(_)),
      "changepointStream" -> onLtss("append")(StreamingOps.changepointStream(_, 1L, 1L)),
      "kmvStream" -> onLtss("update")(StreamingOps.kmvStream(_, k = 4)),
      "cmsStream" -> onLtss("update")(StreamingOps.cmsStream(_, depth = 2, width = 8)),
      "hampelStream" -> onLtss("append")(StreamingOps.hampelStream),
      "heavyHittersStream" -> onLtss("update")(StreamingOps.heavyHittersStream(_, k = 2)),
      "geofenceStream" -> onFixes("append")(StreamingOps.geofenceStream(_)),
      "odometerStream" -> onFixes("update")(StreamingOps.odometerStream),
      "geoSpeedStream" -> onFixes("append")(StreamingOps.geoSpeedStream(_)),
      "geoZonesStream" -> onFixes("append")(StreamingOps.geoZonesStream(_, zones)),
      "zonesDwellStream" -> onFixes("update")(StreamingOps.zonesDwellStream(_, zones)),
      "staypointStream" -> onFixes("append")(StreamingOps.staypointStream(_)),
      "odFlowStream" -> onFixes("append")(StreamingOps.odFlowStream(_)),
      "trackSegmentStream" -> onFixes("append")(StreamingOps.trackSegmentStream),
      "dpSimplifyLiveStream" -> onFixes("update")(StreamingOps.dpSimplifyLiveStream(_)),
      "zoneDwellStream" -> onFixes("update")(StreamingOps.zoneDwellStream(_)),
      "asapStream" -> run(counts, "domain", "bus", "c")("update")(
        StreamingOps.asapStream(_)),
      "convoyGroupsCoreStream" -> run(groups, "hr", "gid", "n_members", "members")(
        "append")(g => StreamingOps.convoyGroupsCoreStream(g.as[StreamingOps.HourGroupRow])),
      "nearDupStream (unbounded)" -> run(docs, "doc_id", "text")("append")(
        StreamingOps.nearDupStream(_, unboundedRetention = true)),
      "nearDupStream" -> run(timedDocs, "doc_id", "text", "ingest_time")("append", farDoc)(
        StreamingOps.nearDupStream(_)),
      "contactsStream" -> run(nearFixes, "time", "user_id", "event_id", "lat", "lon")(
        "append", farFix)(StreamingOps.contactsStream(_)),
      "contactCellsStreamLive" -> run(nearFixes, "time", "user_id", "event_id", "lat", "lon")(
        "append", farFix)(StreamingOps.contactCellsStreamLive(_)),
      "convoysStream" -> run(contacts, contactCols: _*)("append", farContact)(
        c => StreamingOps.convoysStream(c.as[StreamingOps.ContactEvent])),
      "convoyHourGroupsStream" -> run(contacts, contactCols: _*)("append", farContact)(
        c => StreamingOps.convoyHourGroupsStream(c.as[StreamingOps.ContactEvent])),
      "convoyGroupsStream" -> run(groups, "hr", "gid", "n_members", "members")(
        "append", Seq(StreamingOps.HourGroupRow(1000L, 50L, 3L, "50,51,52")))(
        g => StreamingOps.convoyGroupsStream(g.as[StreamingOps.HourGroupRow])))
    val differ = table.flatMap { case (name, emitted) =>
      val fwd = emitted(false)
      assert(fwd.nonEmpty, s"$name emits nothing on the fixture: the row shows nothing")
      val rev = emitted(true)
      if (fwd == rev) None else Some(s"$name\n  forward  $fwd\n  reversed $rev")
    }
    assert(differ.isEmpty, s"arrival order changed the output of:\n${differ.mkString("\n")}")
  }

  test("streaming funnel state survives a checkpoint restart") {
    import java.nio.file.{Files, Paths}
    def tmp(p: String) = Files.createTempDirectory(p).toString
    val in = tmp("fn-in"); val out = tmp("fn-out"); val ckpt = tmp("fn-ckpt")
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "time TIMESTAMP, entity_id STRING, state STRING")
    def start() = StreamingOps
      .funnelStream(spark.readStream.schema(schema).json(in))
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    Files.writeString(Paths.get(in, "b1.json"),
      """{"time":"2024-01-01T10:00:00Z","entity_id":"view.1","state":"1"}""")
    val q1 = start(); q1.processAllAvailable(); q1.stop()
    assert(spark.read.parquet(out).count() == 1) // 1_view emitted
    // the click converts ONLY if the first-view timestamp came back
    // from the checkpoint
    Files.writeString(Paths.get(in, "b2.json"),
      """{"time":"2024-01-01T11:00:00Z","entity_id":"click.1","state":"1"}""")
    val q2 = start(); q2.processAllAvailable(); q2.stop()
    val steps = spark.read.parquet(out)
      .collect().map(r => r.getAs[String]("step")).sorted.toSeq
    assert(steps == Seq("1_view", "2_click"))
  }

  test("streaming CUSUM: recursion tracks the shift and silent buckets bleed it off") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(java.sql.Timestamp, String, String)]
    val df = ms.toDF.toDF("time", "entity_id", "state")
    val q = StreamingOps.changepointStream(df, refPerBucket = 2L, alarmAt = 4L)
      .writeStream.format("memory").queryName("cusum_t").outputMode("append").start()
    try {
      // hours 0..4 run at 3 events/bucket against ref 2: S climbs 1,2,3,4,5
      ms.addData((for (h <- 0 until 5; i <- 0 until 3)
        yield (ts(f"2024-01-01 $h%02d:$i%02d:00"), "click.1", "1")): _*)
      // one event at hour 8 closes h4 AND the silent h5..h7 as zeros
      ms.addData((ts("2024-01-01 08:00:00"), "click.1", "1"))
      // one at hour 9 closes h8 (count 1)
      ms.addData((ts("2024-01-01 09:00:00"), "click.1", "1"))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("cusum_t")
      .as[(String, java.sql.Timestamp, Long, Long, Int)]
      .collect().sortBy(_._2.getTime).toSeq
    // the hand-run recursion S <- max(0, S + (c - 2)):
    //   h0..h4 (c=3): 1,2,3,4,5 (alarm at 5 > 4)
    //   h5..h7 (c=0): 3,1,0 — the dense-grid zeros bleed the statistic off
    //   h8     (c=1): 0
    val exp = Seq(
      ("click", ts("2024-01-01 00:00:00"), 3L, 1L, 0),
      ("click", ts("2024-01-01 01:00:00"), 3L, 2L, 0),
      ("click", ts("2024-01-01 02:00:00"), 3L, 3L, 0),
      ("click", ts("2024-01-01 03:00:00"), 3L, 4L, 0),
      ("click", ts("2024-01-01 04:00:00"), 3L, 5L, 1),
      ("click", ts("2024-01-01 05:00:00"), 0L, 3L, 0),
      ("click", ts("2024-01-01 06:00:00"), 0L, 1L, 0),
      ("click", ts("2024-01-01 07:00:00"), 0L, 0L, 0),
      ("click", ts("2024-01-01 08:00:00"), 1L, 0L, 0))
    assert(rows == exp)
  }

  test("streaming rate anomaly: spike bucket flags against the running moments") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(java.sql.Timestamp, String, String)]
    val df = ms.toDF.toDF("time", "entity_id", "state")
    val q = StreamingOps.rateAnomalyStream(df).writeStream
      .format("memory").queryName("ra_t").outputMode("append").start()
    try {
      ms.addData((0 until 15).map(h =>
        (ts(f"2024-01-01 $h%02d:00:00"), "click.1", "1")): _*)
      q.processAllAvailable() // buckets 0..13 closed, all count 1, no flags
      ms.addData((0 until 30).map(m =>
        (ts(f"2024-01-01 15:$m%02d:00"), "click.1", "2")): _*)
      ms.addData((ts("2024-01-01 16:00:00"), "click.1", "3")) // closes the spike
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("ra_t")
      .as[(String, java.sql.Timestamp, Long, Int)].collect().sortBy(_._2.getTime)
    assert(rows.length == 16)
    assert(rows.map(_._4).sum == 1)
    assert(rows.last == ("click", ts("2024-01-01 15:00:00"), 30L, 1))
  }

  test("cagg maintenance: streamed partials merge to the exact batch aggregate") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val out = java.nio.file.Files.createTempDirectory("cagg-stream").toString
    val ms = MemoryStream[(java.sql.Timestamp, String, String)]
    val df = ms.toDF.toDF("time", "entity_id", "state")
    val q = StreamingOps.caggMaintainStream(df, watermark = "0 seconds")
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", out + "-ckpt").outputMode("append").start()
    try {
      ms.addData(
        (ts("2024-01-01 10:05:00"), "a.1", "10.00"),
        (ts("2024-01-01 10:40:00"), "a.1", "20.50"),
        (ts("2024-01-01 11:10:00"), "a.1", "1.25"),
        (ts("2024-01-01 10:30:00"), "b.1", "5.00"))
      q.processAllAvailable()
      ms.addData((ts("2024-01-01 14:00:00"), "z.1", "0.00")) // close 10h+11h
      q.processAllAvailable()
      ms.addData((ts("2024-01-01 15:00:00"), "z.1", "0.00")) // flush
      q.processAllAvailable()
    } finally q.stop()
    // the appended partials, merged like caggRealtime merges them, must
    // equal the direct batch aggregate of the same events
    val merged = spark.read.parquet(out)
      .groupBy($"entity_id", $"bus")
      .agg(sum($"cnt").as("n"), sum($"ssum").cast("double").as("s"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .filter(_._1 != "z.1").toSet
    val H = 3600000000L
    val b10 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    def bus(t: java.sql.Timestamp) = t.getTime * 1000L - (t.getTime * 1000L) % H
    assert(merged == Set(
      ("a.1", bus(b10), 2L, 30.5),
      ("a.1", bus(b10) + H, 1L, 1.25),
      ("b.1", bus(b10), 1L, 5.0)))
  }

  test("streaming state_agg accumulators survive a checkpoint restart") {
    import java.nio.file.{Files, Paths}
    def tmp(p: String) = Files.createTempDirectory(p).toString
    val in = tmp("sa-in"); val ckpt = tmp("sa-ckpt")
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "time TIMESTAMP, entity_id STRING, state STRING")
    val got = scala.collection.mutable.ArrayBuffer
      .empty[(String, String, Long, Long)]
    def start() = StreamingOps
      .stateAggStream(spark.readStream.schema(schema).json(in))
      .writeStream.outputMode("update")
      .option("checkpointLocation", ckpt)
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[StreamingOps.StateAggRow], _: Long) =>
          val rows = b.collect()
            .map(r => (r.entity_id, r.state_class, r.duration_us, r.n_intervals))
          got.synchronized { got ++= rows }
          ()
      }.start()
    Files.writeString(Paths.get(in, "b1.json"),
      """{"time":"2024-01-01T10:00:00Z","entity_id":"a.1","state":"10"}
        |{"time":"2024-01-01T11:00:00Z","entity_id":"a.1","state":"30"}""".stripMargin)
    val q1 = start(); q1.processAllAvailable(); q1.stop()
    val H = 3600000000L
    assert(got.synchronized(got.toSet) == Set(("a.1", "low", H, 1L)))
    // restart: closing two more intervals must CONTINUE the recovered
    // accumulators — low reaches 2h/2 only if the pre-restart hour and
    // the frontier pair both came back from the checkpoint
    Files.writeString(Paths.get(in, "b2.json"),
      """{"time":"2024-01-01T13:00:00Z","entity_id":"a.1","state":"15"}
        |{"time":"2024-01-01T14:00:00Z","entity_id":"a.1","state":"99"}""".stripMargin)
    val q2 = start(); q2.processAllAvailable(); q2.stop()
    val latest = got.synchronized(got.toSeq).groupBy(r => (r._1, r._2))
      .map { case (k, rs) => (k._1, k._2, rs.map(_._3).max, rs.map(_._4).max) }.toSet
    assert(latest == Set(
      ("a.1", "low", 2 * H, 2L),
      ("a.1", "mid", 2 * H, 1L)))
  }

  test("streaming sessionize: exact-gap events stay in-session, matching the batch rule") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val ms = MemoryStream[(java.sql.Timestamp, String, String)]
    val df = ms.toDF.toDF("time", "entity_id", "state")
    val q = StreamingOps.sessionized(df, watermark = "0 seconds").writeStream
      .format("memory").queryName("sess2_t").outputMode("append").start()
    try {
      ms.addData(
        (ts("2024-01-01 10:00:00"), "a.1", "1"),
        (ts("2024-01-01 10:10:00"), "a.1", "2"), // 10 min — same session
        (ts("2024-01-01 11:00:00"), "a.1", "3"), // 50 min gap — NEW session
        (ts("2024-01-01 10:00:00"), "b.1", "1"),
        (ts("2024-01-01 10:30:00"), "b.1", "2")) // EXACTLY the gap — stays
      q.processAllAvailable()
      // advance the watermark past every session end to flush them
      ms.addData((ts("2024-01-01 14:00:00"), "c.1", "9"))
      q.processAllAvailable()
    } finally q.stop()
    val sessions = spark.table("sess2_t")
      .select($"entity_id", $"n_events")
      .as[(String, Long)].collect().toSeq
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    // a.1: sessions of 2 events then 1; b.1: ONE session of 2 (the batch
    // `> gap` rule — Spark's raw `< gap` merge would have split it)
    assert(sessions("a.1") == Seq(1L, 2L), s"got $sessions")
    assert(sessions("b.1") == Seq(2L), s"got $sessions")
  }

  test("streaming decontamination: exact verify kills non-matches, evidence rows exact") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val bench = Seq("q1 q2 q3", "q2 q3 q4").toDF("sh")
    val ms = MemoryStream[(Long, String)]
    val docs = ms.toDF.toDF("doc_id", "text")
    val q = StreamingOps.contaminationStream(docs, bench).writeStream
      .format("memory").queryName("contam_t").outputMode("append").start()
    try {
      ms.addData(
        (1L, "x1 q1 q2 q3 x2"), // one 3-gram hits the suite
        (2L, "z1 z2 z3 z4"),    // clean — must not emit
        (3L, "q1 q2 q3 q4"))    // hits BOTH benchmark shingles
      q.processAllAvailable()
    } finally q.stop()
    val hits = spark.table("contam_t")
      .as[(Long, String)].collect().toSet
    assert(hits == Set(
      (1L, "q1 q2 q3"),
      (3L, "q1 q2 q3"),
      (3L, "q2 q3 q4")), s"got $hits")
  }

  test("splitStream: a streaming near-dup inherits its cluster's split; novel docs found their own") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    // corpus: docs 1 and 2 are identical (one near-dup cluster, rep 1);
    // the index maps every band of both docs to group 1
    val boiler = (1 to 30).map(i => s"w$i").mkString(" ")
    val corpus = Seq((1L, boiler), (2L, boiler)).toDF("doc_id", "text")
    val labels = Seq((1L, 1L), (2L, 1L)).toDF("doc_id", "label")
    val index = graft.operators.Dedup.bandsOf(corpus)
      .join(labels, Seq("doc_id"), "left")
      .select(col("band_idx"), col("band_val"),
        coalesce(col("label"), col("doc_id")).as("grp"))
    val ms = MemoryStream[(Long, String)]
    val q = StreamingOps.splitStream(ms.toDF.toDF("doc_id", "text"), index)
      .writeStream.format("memory").queryName("split_t").outputMode("update").start()
    try {
      ms.addData(
        (10L, boiler),                                    // identical → inherits grp 1
        (11L, (1 to 30).map(i => s"z$i").mkString(" ")))  // novel → own group
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("split_t")
      .as[(Long, Long, String)].collect().toSet
    // md5("1") starts 'c' → val; md5("11") starts '6' → train — the doc
    // would have LEAKED into train under a naive per-doc hash split
    // (md5("10") starts 'd' too, but inheritance, not luck, decides)
    assert(out == Set((10L, 1L, "val"), (11L, 11L, "train")), s"got $out")
    // parity: the inherited split equals the batch rule applied to grp 1
    val batchSplit = Seq(1L).toDF("grp")
      .select(substring(md5(col("grp").cast("string")), 1, 1).as("h"))
      .collect().head.getString(0)
    assert(Set("c", "d").contains(batchSplit))
  }

  test("streaming ewma: bounded window state replays the batch closed form bit-exactly") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(java.sql.Timestamp, String, String)]
    val df = ms.toDF.toDF("time", "entity_id", "state")
    val q = StreamingOps.ewmaStream(df).writeStream
      .format("memory").queryName("ewma_t").outputMode("update").start()
    // 20 in-order observations — four MORE than the span, so the stream's
    // bounded window must age out the oldest values exactly as the batch
    // op's 16-lag truncation does
    val rows = (0 until 20).map { i =>
      (ts(f"2024-01-01 10:${i}%02d:00"), "a.1", f"${(i * 37) % 100}%d.25")
    }
    try {
      ms.addData(rows.take(7): _*)
      q.processAllAvailable()
      ms.addData(rows.slice(7, 15): _*)
      q.processAllAvailable()
      ms.addData(rows.drop(15): _*)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("ewma_t")
      .as[(String, java.sql.Timestamp, Double, Double, Long)].collect().toSet
    val want = graft.operators.TimeSeries.ewma(
        rows.toDF("time", "entity_id", "state"))
      .as[(String, java.sql.Timestamp, Double, Double, Long)].collect().toSet
    assert(got == want, s"stream rows must equal batch rows bit-exactly")
  }

  test("streaming ewma: frontier ties max-merge; late events are dropped") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(java.sql.Timestamp, String, String)]
    val df = ms.toDF.toDF("time", "entity_id", "state")
    val q = StreamingOps.ewmaStream(df).writeStream
      .format("memory").queryName("ewma_tie_t").outputMode("update").start()
    val dup = Seq(
      (ts("2024-01-01 10:00:00"), "a.1", "5.00"),
      (ts("2024-01-01 10:00:00"), "a.1", "9.00"), // tie: MAX wins, like batch
      (ts("2024-01-01 09:00:00"), "a.1", "50.00")) // behind frontier: dropped
    try {
      ms.addData(dup.take(2): _*)
      q.processAllAvailable()
      // a later batch: the row is behind the frontier the first one set
      ms.addData(dup(2))
      q.processAllAvailable()
    } finally q.stop()
    val emitted = spark.table("ewma_tie_t")
      .as[(String, java.sql.Timestamp, Double, Double, Long)].collect()
    assert(emitted.length == 2, s"two accepted events, got ${emitted.toSeq}")
    val batch = graft.operators.TimeSeries.ewma(
        dup.take(2).toDF("time", "entity_id", "state"))
      .as[(String, java.sql.Timestamp, Double, Double, Long)].collect().toSet
    assert(emitted.toSet.intersect(batch) == batch,
      "the merged frontier row must match the batch tie rule")
  }

  private def batchDrawdown(
      rows: Seq[(java.sql.Timestamp, String, String)]) = {
    import org.apache.spark.sql.functions.col
    graft.operators.TimeSeries.drawdown(
        rows.toDF("time", "entity_id", "state"))
      .select(col("entity_id"), col("n_obs"), col("peak_sv"),
        col("trough_sv"), col("trough_time"), col("max_dd"), col("rel_dd"))
      .as[(String, Long, Double, Double, java.sql.Timestamp, Double,
        Option[Double])].collect().toSet
  }

  test("streaming drawdown: every emission replays the batch answer on its prefix") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(java.sql.Timestamp, String, String)]
    val df = ms.toDF.toDF("time", "entity_id", "state")
    val q = StreamingOps.drawdownStream(df).writeStream
      .format("memory").queryName("dd_t").outputMode("update").start()
    // peak → deep trough → partial recovery → lower trough: the argmax
    // must stick at the first trough even as later drawdowns appear
    val vals = Seq("10.00", "30.00", "25.00", "5.00", "28.00", "12.00")
    val rows = vals.zipWithIndex.map { case (v, i) =>
      (ts(f"2024-01-01 10:0$i:00"), "a.1", v)
    }
    try {
      ms.addData(rows.take(2): _*)
      q.processAllAvailable()
      ms.addData(rows.slice(2, 5): _*)
      q.processAllAvailable()
      ms.addData(rows.drop(5): _*)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("dd_t")
      .as[(String, Long, Double, Double, java.sql.Timestamp, Double,
        Option[Double])].collect().toSet
    // one emission per accepted event, each the batch answer on its prefix
    val want = (1 to rows.length).map(k => batchDrawdown(rows.take(k)))
      .reduce(_ ++ _)
    assert(got == want, s"stream emissions must equal the batch prefixes\ngot  $got\nwant $want")
  }

  test("streaming drawdown: frontier ties max-merge like batch; late events drop") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(java.sql.Timestamp, String, String)]
    val df = ms.toDF.toDF("time", "entity_id", "state")
    val q = StreamingOps.drawdownStream(df).writeStream
      .format("memory").queryName("dd_tie_t").outputMode("update").start()
    val t0 = ts("2024-01-01 10:00:00")
    val feed = Seq(
      (t0, "a.1", "5.00"),
      (t0, "a.1", "12.00"), // tie: MAX wins — and must RESHAPE the open obs
      (ts("2024-01-01 10:01:00"), "a.1", "4.00"),
      (ts("2024-01-01 09:00:00"), "a.1", "99.00")) // behind frontier: dropped
    try {
      ms.addData(feed.take(3): _*)
      q.processAllAvailable()
      // a later batch: the row is behind the frontier the first one set
      ms.addData(feed(3))
      q.processAllAvailable()
    } finally q.stop()
    val emitted = spark.table("dd_tie_t")
      .as[(String, Long, Double, Double, java.sql.Timestamp, Double,
        Option[Double])].collect()
    assert(emitted.length == 3, s"three accepted events, got ${emitted.toSeq}")
    // the final emission equals batch on the collapsed in-order data
    val batch = batchDrawdown(feed.take(3))
    assert(Set(emitted.maxBy(_._2)) == batch,
      s"final row must match batch incl. the 12.00 tie, got ${emitted.toSeq}")
    assert(emitted.maxBy(_._2)._6 == 8.0, "drawdown measured off the tie-max peak")
  }

  private def batchSlo(
      rows: Seq[(java.sql.Timestamp, String, String)], livenessUs: Long) = {
    import org.apache.spark.sql.functions._
    graft.operators.TimeSeries.heartbeat(
        rows.toDF("time", "entity_id", "state"), livenessUs)
      .select(col("entity_id"), col("span_us"), col("uptime_us"),
        col("downtime_us"), col("n_outages"))
      .withColumn("allowed_down_us", expr("span_us div 10"))
      .withColumn("budget_remaining_us",
        col("allowed_down_us") - col("downtime_us"))
      .withColumn("slo_met",
        (col("downtime_us") * 10 <= col("span_us")).cast("int"))
      .as[(String, Long, Long, Long, Long, Long, Long, Int)].collect().toSet
  }

  test("streaming slo: five-BIGINT state replays the batch uptime panel on every prefix") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val H = 3600000000L // 1h liveness so the 4h gap below is an outage
    val ms = MemoryStream[(java.sql.Timestamp, String, String)]
    val df = ms.toDF.toDF("time", "entity_id", "state")
    val q = StreamingOps.sloStream(df, H).writeStream
      .format("memory").queryName("slo_t").outputMode("update").start()
    val hours = Seq(0, 1, 2, 6, 7) // gap 2→6 = 4h: 1h credited, 1 outage
    val rows = hours.map(h =>
      (ts(f"2024-01-01 1$h%01d:00:00"), "a.1", s"$h.00"))
    try {
      ms.addData(rows.take(3): _*)
      q.processAllAvailable()
      ms.addData(rows.drop(3): _*)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("slo_t")
      .as[(String, Long, Long, Long, Long, Long, Long, Int)].collect().toSet
    // emissions start at the first span (n=2); each is the batch panel
    // on its prefix — incl. the flip of slo_met when the outage lands
    val want = (2 to rows.length).map(k => batchSlo(rows.take(k), H))
      .reduce(_ ++ _)
    assert(got == want, s"got  $got\nwant $want")
    assert(got.exists(_._8 == 0) && got.exists(_._8 == 1),
      "fixture must exercise both slo_met outcomes")
  }

  test("streaming slo: ties advance the count only; late events drop") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val H = 3600000000L
    val ms = MemoryStream[(java.sql.Timestamp, String, String)]
    val df = ms.toDF.toDF("time", "entity_id", "state")
    val q = StreamingOps.sloStream(df, H).writeStream
      .format("memory").queryName("slo_tie_t").outputMode("update").start()
    val feed = Seq(
      (ts("2024-01-01 10:00:00"), "a.1", "1.00"),
      (ts("2024-01-01 10:30:00"), "a.1", "2.00"),
      (ts("2024-01-01 10:30:00"), "a.1", "3.00"), // tie: gap 0, no uptime
      (ts("2024-01-01 09:00:00"), "a.1", "9.00")) // late: dropped
    try {
      ms.addData(feed.take(3): _*)
      q.processAllAvailable()
      // a later batch: the row is behind the frontier the first one set
      ms.addData(feed(3))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("slo_tie_t")
      .as[(String, Long, Long, Long, Long, Long, Long, Int)].collect()
    // two emissions (n=2 and the tie), both the same panel row; the late
    // event emits nothing
    assert(got.length == 2 && got.toSet.size == 1, s"got ${got.toSeq}")
    assert(got.head == (("a.1", 1800000000L, 1800000000L, 0L, 0L,
      180000000L, 180000000L, 1)), s"got ${got.head}")
    assert(got.toSet == batchSlo(feed.take(3), H))
  }

  test("diffStream classifies arrivals against the snapshot hash index like the batch diff") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.functions._
    val snapshot = Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text")
    val index = snapshot.select(col("doc_id"), md5(col("text")).as("h1"))
    val ms = MemoryStream[(Long, String)]
    val q = StreamingOps.diffStream(ms.toDF.toDF("doc_id", "text"), index)
      .writeStream.format("memory").queryName("diff_t").outputMode("append").start()
    try {
      ms.addData((1L, "alpha"), (2L, "beta edited"), (9L, "gamma"))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("diff_t").as[(Long, String)].collect().toSet
    assert(got == Set((1L, "unchanged"), (2L, "changed"), (9L, "added")), s"got $got")
    // parity with the batch diff verdicts on the same (v1, v2) pair —
    // modulo `removed`, which absence cannot deliver to a stream
    val v2 = Seq((1L, "alpha"), (2L, "beta edited"), (9L, "gamma")).toDF("doc_id", "text")
    val batch = index.join(v2.select(col("doc_id"), md5(col("text")).as("h2")),
        Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("h1").isNull, "added").when(col("h2").isNull, "removed")
          .when(col("h1") =!= col("h2"), "changed").otherwise("unchanged").as("s"))
      .as[(Long, String)].collect().toSet
    assert(got == batch.filter(_._2 != "removed"))
  }

  test("centsOf12_2 matches the batch try_cast(decimal(12,2)) acceptance domain edge-for-edge") {
    import spark.implicits._
    // the full divergence surface the raw BigDecimal constructor had:
    // surrounding whitespace (the engine cast trims), precision
    // overflow (try_cast NULLs; the plain ANSI cast would THROW, which
    // a skipping stream cannot mirror), scientific notation, signs,
    // rounding ties, junk, null-ish strings
    val inputs = Seq(
      "1.5", " 1.5 ", "\t-3.25\n", "0", "-0.005", "0.005", "1.005",
      "9999999999.99", "10000000000.00", "-9999999999.99", "99999999999",
      "1.2e3", "1.2E-2", "+7", "-.5", ".", "", "  ", "abc", "1,2",
      "NaN", "Infinity", "1.999", "123456789012345", "0.004999")
    val batch = inputs.toDF("s")
      .select(col("s"), expr("try_cast(s as decimal(12,2))").as("d"))
      .collect()
      .map(r => r.getString(0) ->
        Option(r.getDecimal(1)).map(_.movePointRight(2).longValueExact()))
      .toMap
    for (s <- inputs)
      assert(StreamingOps.centsOf12_2(s) == batch(s),
        s"'$s': stream=${StreamingOps.centsOf12_2(s)} batch=${batch(s)}")
    assert(StreamingOps.centsOf12_2(null) == None) // batch cast of NULL is NULL
  }

  test("junk states skip (batch try_cast semantics) in counter/held/interp twins, never crash") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    // every numeric-state twin gets a junk state mid-stream, in the same
    // micro-batch as valid readings AND alone in a batch: the batch twins'
    // try_cast(decimal(12,2)) null-skips those rows, so the streams must
    // skip them too (the earlier bare-BigDecimal parse threw
    // NumberFormatException inside flatMapGroupsWithState and KILLED the
    // query). Values with >2 decimals also round like the cast ("1.005"
    // is 1.00 to the batch window, so it must be to the stream).
    val msC = MemoryStream[(java.sql.Timestamp, String, String)]
    val qC = StreamingOps.counterDeltaStream(msC.toDF.toDF("time", "entity_id", "state"))
      .writeStream.format("memory").queryName("junk_cd_t").outputMode("append").start()
    try {
      msC.addData(
        (ts("2024-01-01 10:00:00"), "p.1", "100"),
        (ts("2024-01-01 10:05:00"), "p.1", "unknown"), // junk between readings
        (ts("2024-01-01 10:10:00"), "p.1", "150.005")) // rounds to 150.01
      qC.processAllAvailable()
      msC.addData((ts("2024-01-01 10:15:00"), "p.1", "NaN")) // junk alone
      qC.processAllAvailable()
      msC.addData((ts("2024-01-01 10:20:00"), "p.1", "170"))
      qC.processAllAvailable()
    } finally qC.stop()
    assert(qC.exception.isEmpty, s"counterDeltaStream died: ${qC.exception}")
    val deltas = spark.table("junk_cd_t")
      .as[(String, java.sql.Timestamp, Double)].collect().sortBy(_._2.getTime)
      .map(_._3).toSeq
    assert(deltas == Seq(50.01, 19.99)) // junk rows contribute no frontier

    val msH = MemoryStream[(java.sql.Timestamp, String, String)]
    val qH = StreamingOps.heldIntervalStream(
        msH.toDF.toDF("time", "entity_id", "state"), bucketWidthUs = 3600000000L)
      .writeStream.format("memory").queryName("junk_hi_t").outputMode("append").start()
    try {
      msH.addData(
        (ts("2024-01-01 10:00:00"), "a.1", "10"),
        (ts("2024-01-01 10:30:00"), "a.1", "n/a")) // junk must not close the hold
      qH.processAllAvailable()
      msH.addData((ts("2024-01-01 11:00:00"), "a.1", "20"))
      qH.processAllAvailable()
    } finally qH.stop()
    assert(qH.exception.isEmpty, s"heldIntervalStream died: ${qH.exception}")
    val held = spark.table("junk_hi_t")
      .as[(String, java.sql.Timestamp, Double, Long)].collect().toSeq
    assert(held == Seq( // one FULL-hour interval: the junk row never existed
      ("a.1", ts("2024-01-01 10:00:00"), 10.0, 3600000000L)))

    val msI = MemoryStream[(java.sql.Timestamp, String, String)]
    val qI = StreamingOps.gapfillInterpStream(msI.toDF.toDF("time", "entity_id", "state"))
      .writeStream.format("memory").queryName("junk_in_t").outputMode("append").start()
    try {
      msI.addData((ts("2024-01-01 10:10:00"), "a.1", "10"))
      qI.processAllAvailable()
      msI.addData((ts("2024-01-01 11:10:00"), "a.1", "oops")) // junk in a gap bucket
      qI.processAllAvailable()
      msI.addData((ts("2024-01-01 12:10:00"), "a.1", "30"))
      qI.processAllAvailable()
    } finally qI.stop()
    assert(qI.exception.isEmpty, s"gapfillInterpStream died: ${qI.exception}")
    val interp = spark.table("junk_in_t")
      .as[(String, java.sql.Timestamp, Double, Int)].collect().sortBy(_._2.getTime).toSeq
    assert(interp == Seq( // 11:00 interpolates ACROSS the skipped junk row
      ("a.1", ts("2024-01-01 10:00:00"), 10.0, 0),
      ("a.1", ts("2024-01-01 11:00:00"), 20.0, 1),
      ("a.1", ts("2024-01-01 12:00:00"), 30.0, 0)))
  }

  test("trackSegmentStream closes months into the batch layout's own rows") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    // two entities, fixes delivered JUMBLED within each month and split
    // across batches; user 7 spans Jan→Feb→Mar (two closed segments),
    // user 8 stays in Jan (nothing may emit); one stale Jan fix arrives
    // after Jan closed and must drop
    val fixes = Seq(
      (ts("2024-01-05 10:00:00"), 7L, 102L, 1.5, 10.5),
      (ts("2024-01-03 10:00:00"), 7L, 101L, 1.5, 8.5),
      (ts("2024-02-01 09:00:00"), 7L, 103L, 1.5, 12.5),
      (ts("2024-02-20 09:00:00"), 7L, 104L, 1.5, 13.5),
      (ts("2024-03-01 09:00:00"), 7L, 105L, 1.5, 14.5),
      (ts("2024-01-02 10:00:00"), 8L, 201L, 2.5, 20.5),
      (ts("2024-01-09 10:00:00"), 8L, 202L, 2.5, 21.5))
    val ms = MemoryStream[(java.sql.Timestamp, Long, Long, Double, Double)]
    val q = StreamingOps.trackSegmentStream(
      ms.toDF.toDF("time", "user_id", "event_id", "lat", "lon"))
      .writeStream.format("memory").queryName("trackseg_t").outputMode("append").start()
    try {
      ms.addData(fixes.take(2): _*); q.processAllAvailable()
      ms.addData(fixes.slice(2, 4): _*); q.processAllAvailable()
      // stale fix for CLOSED January — must drop, not corrupt February
      ms.addData((ts("2024-01-20 10:00:00"), 7L, 199L, 1.5, 9.9)); q.processAllAvailable()
      ms.addData(fixes.drop(4): _*); q.processAllAvailable()
    } finally q.stop()
    assert(q.exception.isEmpty, s"trackSegmentStream died: ${q.exception}")
    val got = spark.table("trackseg_t")
      .selectExpr("user_id", "chunk", "n_fixes",
        "transform(seg, f -> struct(f.ts, f.seq, f.lat, f.lon)) AS seg")
      .as[(Long, java.sql.Timestamp, Int,
        Seq[(java.sql.Timestamp, Long, Double, Double)])]
      .collect().sortBy(r => (r._1, r._2.getTime)).toSeq
    // batch truth: write the SAME fixes through the layout writer and
    // keep every row except each entity's open (latest) month
    val dir = java.nio.file.Files.createTempDirectory("graft-trackseg").toString
    graft.sources.LtssSink.writeTrackLayout(
      fixes.toDF("ts", "id", "seq", "lat", "lon")
        .select($"id", $"ts", $"seq", $"lat", $"lon"), dir)
    val batch = spark.read.parquet(dir)
      .selectExpr("id", "chunk", "n_fixes",
        "transform(seg, f -> struct(f.ts, f.seq, f.lat, f.lon)) AS seg")
      .as[(Long, java.sql.Timestamp, Int,
        Seq[(java.sql.Timestamp, Long, Double, Double)])]
      .collect().toSeq
      .groupBy(_._1).toSeq.sortBy(_._1)
      .flatMap { case (_, segs) =>
        segs.sortBy(_._2.getTime).dropRight(1) } // open month held
    assert(got == batch, s"stream segments diverged from the layout:\n$got\nvs\n$batch")
    assert(got.map(_._1).toSet == Set(7L), "user 8's open January must not emit")
    assert(!got.flatMap(_._4).exists(_._2 == 199L), "the stale Jan fix must drop")
  }

  test("appendTrackMonth lands stream emissions as the batch rebuild; a replayed segment is a no-op") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    // user 7 spans Jan→Feb→Mar; user 8 stays in (open) Jan
    val fixes = Seq(
      (ts("2024-01-03 10:00:00"), 7L, 101L, 1.5, 8.5),
      (ts("2024-01-05 10:00:00"), 7L, 102L, 1.5, 10.5),
      (ts("2024-02-01 09:00:00"), 7L, 103L, 1.5, 12.5),
      (ts("2024-02-20 09:00:00"), 7L, 104L, 1.5, 13.5),
      (ts("2024-03-01 09:00:00"), 7L, 105L, 1.5, 14.5),
      (ts("2024-01-02 10:00:00"), 8L, 201L, 2.5, 20.5),
      (ts("2024-01-09 10:00:00"), 8L, 202L, 2.5, 21.5))
    def writeLayout(fs: Seq[(java.sql.Timestamp, Long, Long, Double, Double)],
        dir: String): Unit =
      graft.sources.LtssSink.writeTrackLayout(
        fs.map { case (t, u, e, la, lo) => (u, t, e, la, lo) }
          .toDF("id", "ts", "seq", "lat", "lon"), dir)
    def dump(dir: String) = spark.read.parquet(dir)
      .selectExpr("id", "chunk", "n_fixes",
        "transform(seg, f -> struct(f.ts, f.seq, f.lat, f.lon)) AS seg")
      .as[(Long, java.sql.Timestamp, Int,
        Seq[(java.sql.Timestamp, Long, Double, Double)])]
      .collect().sortBy(r => (r._1, r._2.getTime)).toSeq
    // initial layout: the January slice (the first batch rebuild)
    val layout = java.nio.file.Files.createTempDirectory("graft-append-track").toString
    writeLayout(fixes.filter(_._1.getTime < ts("2024-02-01 00:00:00").getTime), layout)
    // stream ALL fixes: closed segments = user-7 January (a REPLAYED
    // twin of the stored month) and user-7 February
    val ms = MemoryStream[(java.sql.Timestamp, Long, Long, Double, Double)]
    val q = StreamingOps.trackSegmentStream(
      ms.toDF.toDF("time", "user_id", "event_id", "lat", "lon"))
      .writeStream.format("memory").queryName("append_tk_t").outputMode("append").start()
    try { ms.addData(fixes: _*); q.processAllAvailable() } finally q.stop()
    assert(q.exception.isEmpty, s"trackSegmentStream died: ${q.exception}")
    val emitted = spark.table("append_tk_t")
    assert(emitted.count() == 2, "closed segments: u7 Jan (replay) + u7 Feb")
    graft.sources.LtssSink.appendTrackMonth(emitted, layout)
    // stream emissions + append ≡ the full rebuild minus open months
    val rebuilt = java.nio.file.Files.createTempDirectory("graft-append-full").toString
    writeLayout(fixes.filterNot(f => // drop each entity's open month
      (f._2 == 7L && f._1.getTime >= ts("2024-03-01 00:00:00").getTime)), rebuilt)
    // u8's January is OPEN in the stream but was in the initial layout —
    // the rebuild truth keeps it (append must not disturb unnamed rows)
    assert(dump(layout) == dump(rebuilt),
      s"append diverged from the rebuild:\n${dump(layout)}\nvs\n${dump(rebuilt)}")
    // replaying the SAME emissions is a no-op by content, and the
    // marker is unlocked with a bumped generation
    graft.sources.LtssSink.appendTrackMonth(emitted, layout)
    assert(dump(layout) == dump(rebuilt), "replayed append must be a no-op")
    val m = graft.sources.LtssSink.readLayoutMarker(spark, layout).get
    assert(m.migrating.isEmpty && m.generation >= 4L,
      s"marker must unlock with a monotone generation: $m")
    // a marker-less layout refuses (its chunking vintage is unknown)
    val bare = java.nio.file.Files.createTempDirectory("graft-append-bare").toString + "/l"
    spark.read.parquet(layout).write.parquet(bare)
    val e = intercept[IllegalStateException] {
      graft.sources.LtssSink.appendTrackMonth(emitted, bare)
    }
    assert(e.getMessage.contains("no marker"))
  }

  test("dpSimplifyStream: closed months emit batch-identical Douglas-Peucker polylines") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    // the ltss_geo_dp hand-trace fixture (user 0 under the 2-D mapping:
    // P0 e180, P1 e200 collinear-dropped, P2 e220 max-deviation split,
    // P3 e370) all in January, plus a February fix that closes the
    // month — the stream must emit January simplified to {P0, P2, P3}
    val fixes = Seq(
      (ts("2024-01-01 10:00:00"), 0L, 180L, -89.5, 0.5),
      (ts("2024-01-01 11:00:00"), 0L, 200L, -69.5, 20.5),
      (ts("2024-01-01 12:00:00"), 0L, 220L, -49.5, 40.5),
      (ts("2024-01-01 13:00:00"), 0L, 370L, -79.5, -169.5),
      (ts("2024-02-01 10:00:00"), 0L, 560L, -69.5, 20.5))
    val ms = MemoryStream[(java.sql.Timestamp, Long, Long, Double, Double)]
    val q = StreamingOps.dpSimplifyStream(
      ms.toDF.toDF("time", "user_id", "event_id", "lat", "lon"))
      .writeStream.format("memory").queryName("dp_t").outputMode("append").start()
    try {
      ms.addData(fixes.take(3): _*); q.processAllAvailable()
      assert(spark.table("dp_t").count() == 0, "January is still open")
      ms.addData(fixes.drop(3): _*); q.processAllAvailable()
    } finally q.stop()
    assert(q.exception.isEmpty, s"dpSimplifyStream died: ${q.exception}")
    val got = spark.table("dp_t")
      .selectExpr("user_id", "n_fixes", "n_kept",
        "transform(kept, f -> f.seq) AS seqs")
      .as[(Long, Int, Int, Seq[Long])].collect().toSeq
    assert(got == Seq((0L, 4, 3, Seq(180L, 220L, 370L))),
      s"stream simplify diverged from the hand trace: $got")
    // batch parity on the same events: the registered ltss_geo_dp over
    // a parquet dump, minus the open February month
    val dir = java.nio.file.Files.createTempDirectory("graft-dp-stream").toString
    fixes.map { case (t, u, e, _, _) => (e, t, u) }
      .toDF("event_id", "ts", "user_id")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val batch = SparkEntry.queries("ltss_geo_dp")(spark, dir)
      .filter($"time" < ts("2024-02-01 00:00:00"))
      .selectExpr("event_id").as[Long].collect().toSeq.sorted
    assert(got.head._4.sorted == batch,
      s"stream kept set diverged from batch: ${got.head._4} vs $batch")
  }

  test("contactsStream: out-of-order pairing within the horizon equals the batch join; beyond-horizon fixes drop") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    def fix(eid: Long, t: String, uid: Long) = {
      val lat = (uid % 180 - 90).toDouble + 0.5
      val lon = (eid % 360 - 180).toDouble + 0.5
      (ts(t), uid, eid, lat, lon)
    }
    // the batch hand-trace fixture, delivered ACROSS batches with one
    // cross-batch out-of-order arrival (10:00 after 11:30 — inside the
    // 2 h horizon, so the pair must still form in state)
    val b1 = Seq(fix(182L, "2024-01-01 11:30:00", 12L), fix(180L, "2024-01-01 10:30:00", 120L))
    val b2 = Seq(fix(180L, "2024-01-01 10:00:00", 10L))
    val b3 = Seq(fix(184L, "2024-01-01 13:00:00", 12L), fix(186L, "2024-01-01 14:00:00", 10L))
    // beyond the horizon: 08:00 arrives when the cell frontier is 14:00
    // — 6 h behind, partners evicted; the documented outcome is a DROP
    val late = fix(179L, "2024-01-01 08:00:00", 11L)
    val b4 = Seq(fix(188L, "2024-01-01 16:00:00", 12L), late)
    val ms = MemoryStream[(java.sql.Timestamp, Long, Long, Double, Double)]
    val q = StreamingOps.contactsStream(
      ms.toDF.toDF("time", "user_id", "event_id", "lat", "lon"))
      .writeStream.format("memory").queryName("contacts_t").outputMode("append").start()
    try {
      for (b <- Seq(b1, b2, b3, b4)) { ms.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()
    assert(q.exception.isEmpty, s"contactsStream died: ${q.exception}")
    val got = spark.table("contacts_t")
      .selectExpr("user_a", "event_a", "user_b", "event_b", "d2", "dt_us")
      .as[(Long, Long, Long, Long, Double, Long)].collect().toSeq
    assert(got == got.distinct, "the home-cell device must emit each pair once")
    // parity with the registered batch query over the in-horizon fixes
    val dir = java.nio.file.Files.createTempDirectory("graft-contacts-st").toString
    (b1 ++ b2 ++ b3 ++ b4.take(1)).map { case (t, u, e, _, _) => (e, t, u) }
      .toDF("event_id", "ts", "user_id")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val batch = SparkEntry.queries("ltss_geo_contacts")(spark, dir)
      .selectExpr("user_a", "event_a", "user_b", "event_b", "d2", "dt_us")
      .as[(Long, Long, Long, Long, Double, Long)].collect().toSeq
    assert(got.toSet == batch.toSet,
      s"stream contacts diverged from the batch join: $got vs $batch")
    assert(got.size == 3 && !got.exists(r => r._2 == 179L || r._4 == 179L),
      s"the beyond-horizon fix must DROP, not partially pair: $got")
  }

  test("contactsStream: an idle cell's state evicts once the watermark passes frontier + T + lateness") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    def fix(eid: Long, t: String, uid: Long) = {
      val lat = (uid % 180 - 90).toDouble + 0.5
      val lon = (eid % 360 - 180).toDouble + 0.5
      (ts(t), uid, eid, lat, lon)
    }
    val ms = MemoryStream[(java.sql.Timestamp, Long, Long, Double, Double)]
    val q = StreamingOps.contactsStream(
      ms.toDF.toDF("time", "user_id", "event_id", "lat", "lon"))
      .writeStream.format("memory").queryName("contacts_ttl_t")
      .outputMode("append").start()
    def stateRows(): Long = {
      val p = q.recentProgress.reverse
        .find(_.stateOperators.nonEmpty)
        .getOrElse(fail("no state operator progress recorded"))
      p.stateOperators.head.numRowsTotal
    }
    try {
      // batch 1: one fix in cell A — explodes to its 3×3 neighborhood
      ms.addData(fix(180L, "2024-01-01 10:00:00", 12L)); q.processAllAvailable()
      assert(stateRows() == 9L, s"cell A should hold 9 exploded keys: ${stateRows()}")
      // batch 2: a DISTANT fix drives the watermark to 18:00 — past cell
      // A's eviction point 10:00 + T(2h) + lateness(2h) = 14:00. A
      // post-batch no-data micro-batch MAY already fire the timeout
      // here, so accept either 18 (not yet fired) or 9 (fired)
      ms.addData(fix(90L, "2024-01-01 20:00:00", 100L)); q.processAllAvailable()
      assert(Set(9L, 18L).contains(stateRows()),
        s"unexpected state size after the watermark advance: ${stateRows()}")
      // batch 3: the timeout fires against the 18:00 watermark — cell
      // A's nine keys drop whole; the distant cell's pairing is intact
      ms.addData(fix(90L, "2024-01-01 20:30:00", 101L)); q.processAllAvailable()
      assert(stateRows() == 9L,
        s"the idle neighborhood must evict, the active one must stay: ${stateRows()}")
    } finally q.stop()
    assert(q.exception.isEmpty, s"contactsStream died: ${q.exception}")
    // pairing within the horizon is untouched by eviction: the two
    // distant fixes (30 min apart, same spot) paired
    val got = spark.table("contacts_ttl_t")
      .selectExpr("user_a", "user_b", "dt_us")
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((100L, 101L, 1800000000L)),
      s"in-horizon pairing diverged under eviction: $got")
  }

  test("convoysStream: closed episodes equal the batch convoy rows; the timeout closes the abandoned run") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.streaming.StreamingOps.ContactEvent
    def ce(ta: String, ua: Long, ea: Long, tb: String, ub: Long, eb: Long) =
      ContactEvent(ts(ta), ua, ea, ts(tb), ub, eb, 8.0,
        (ts(tb).getTime - ts(ta).getTime) * 1000L)
    // the batch hand-trace contact set: 8 rows for pair (10,12) over
    // hours 10..12 (see the ltss_geo_convoys fixture), 1 row for
    // (10,11) at hour 15 — delivered with the hour-12 contact BEFORE
    // the hour-11 rows (in-window out-of-order)
    val b1 = Seq(
      ce("2024-01-01 10:15:00", 10L, 180L, "2024-01-01 10:15:00", 12L, 182L),
      ce("2024-01-01 10:15:00", 10L, 180L, "2024-01-01 11:20:00", 12L, 186L),
      ce("2024-01-01 10:15:00", 12L, 182L, "2024-01-01 11:20:00", 10L, 184L),
      ce("2024-01-01 10:15:00", 12L, 182L, "2024-01-01 12:05:00", 10L, 188L),
      ce("2024-01-01 12:05:00", 10L, 188L, "2024-01-01 12:05:00", 12L, 190L))
    val b2 = Seq(
      ce("2024-01-01 11:20:00", 10L, 184L, "2024-01-01 11:20:00", 12L, 186L),
      ce("2024-01-01 11:20:00", 10L, 184L, "2024-01-01 12:05:00", 12L, 190L),
      ce("2024-01-01 11:20:00", 12L, 186L, "2024-01-01 12:05:00", 10L, 188L),
      ce("2024-01-01 15:00:00", 10L, 196L, "2024-01-01 15:00:00", 11L, 194L))
    // far-future contacts of an unrelated pair advance the watermark
    // past every timeout; the second batch lets the timeouts FIRE
    val b3 = Seq(ce("2024-01-05 10:00:00", 50L, 300L, "2024-01-05 10:00:00", 51L, 302L))
    val b4 = Seq(ce("2024-01-06 10:00:00", 50L, 304L, "2024-01-06 10:00:00", 51L, 306L))
    val ms = MemoryStream[ContactEvent]
    val q = StreamingOps.convoysStream(ms.toDS())
      .writeStream.format("memory").queryName("convoys_t")
      .outputMode("append").start()
    try {
      for (b <- Seq(b1, b2, b3, b4)) { ms.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()
    assert(q.exception.isEmpty, s"convoysStream died: ${q.exception}")
    val got = spark.table("convoys_t")
      .selectExpr("id_lo", "id_hi", "hr_start", "n_hours", "n_contacts",
        "CAST(first_contact AS STRING)", "CAST(last_contact AS STRING)")
      .as[(Long, Long, Long, Long, Long, String, String)].collect().toSeq
    // parity with the registered batch query over the SAME underlying
    // fixes (the (10,11) single hour and the far pair's single hours
    // stay below minHours in both engines)
    val dir = java.nio.file.Files.createTempDirectory("graft-convoy-st").toString
    Seq(
      (180L, ts("2024-01-01 10:15:00"), 10L), (182L, ts("2024-01-01 10:15:00"), 12L),
      (184L, ts("2024-01-01 11:20:00"), 10L), (186L, ts("2024-01-01 11:20:00"), 12L),
      (188L, ts("2024-01-01 12:05:00"), 10L), (190L, ts("2024-01-01 12:05:00"), 12L),
      (194L, ts("2024-01-01 15:00:00"), 11L), (196L, ts("2024-01-01 15:00:00"), 10L))
      .toDF("event_id", "ts", "user_id")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val batch = SparkEntry.queries("ltss_geo_convoys")(spark, dir)
      .selectExpr("id_lo", "id_hi", "hr_start", "n_hours", "n_contacts",
        "CAST(first_contact AS STRING)", "CAST(last_contact AS STRING)")
      .as[(Long, Long, Long, Long, Long, String, String)].collect().toSeq
    assert(got == batch && got.size == 1,
      s"closed stream episodes diverged from batch: $got vs $batch")
  }

  test("convoy-group core twin: sealed hourly groups feed the shared CMC hour step; closed episodes equal the batch core rows") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.streaming.StreamingOps.{ContactEvent, HourGroupRow}
    def ce(ta: String, ua: Long, tb: String, ub: Long) =
      ContactEvent(ts(ta), ua, 0L, ts(tb), ub, 1L, 8.0,
        (ts(tb).getTime - ts(ta).getTime) * 1000L)
    // the churn fixture as a CONTACT stream (A=10, B=12, C=14 in a
    // chain A-B, B-C each of hours 10-12; D=16 touches C at hour 11
    // only) — the strict rule fragments it, the Jeung core rides it
    val contacts = (0 until 3).flatMap { h =>
      Seq(
        ce(s"2024-01-01 ${10 + h}:00:00", 10L, s"2024-01-01 ${10 + h}:10:00", 12L),
        ce(s"2024-01-01 ${10 + h}:10:00", 12L, s"2024-01-01 ${10 + h}:20:00", 14L))
    } :+ ce("2024-01-01 11:20:00", 14L, "2024-01-01 11:25:00", 16L)
    // STAGE 1: per-hour components seal on the watermark
    val ms = MemoryStream[ContactEvent]
    val q1 = graft.streaming.StreamingOps.convoyHourGroupsStream(ms.toDS())
      .writeStream.format("memory").queryName("hgrp_t")
      .outputMode("append").start()
    try {
      ms.addData(contacts: _*); q1.processAllAvailable()
      // nothing seals until the watermark proves the hours closed —
      // the monotone-prefix rule
      assert(spark.table("hgrp_t").count() == 0,
        "hours sealed before the watermark could prove them final")
      ms.addData(ce("2024-01-05 10:00:00", 50L, "2024-01-05 10:00:00", 51L))
      q1.processAllAvailable()
      ms.addData(ce("2024-01-06 10:00:00", 50L, "2024-01-06 10:00:00", 51L))
      q1.processAllAvailable()
    } finally q1.stop()
    assert(q1.exception.isEmpty, s"stage 1 died: ${q1.exception}")
    val hr0 = ts("2024-01-01 10:00:00").getTime / 3600000L
    val sealedRows = spark.table("hgrp_t").as[HourGroupRow]
      .collect().sortBy(_.hr).toSeq
    // the pair (50,51) hour stays below k — only the fixture hours seal
    assert(sealedRows.map(r => (r.hr - hr0, r.gid, r.n_members, r.members)) ==
      Seq((0L, 10L, 3L, "10,12,14"), (1L, 10L, 4L, "10,12,14,16"),
        (2L, 10L, 3L, "10,12,14")),
      s"sealed hourly groups diverged from the batch per-hour components: $sealedRows")
    // STAGE 2: the shared CMC hour step over the sealed rows
    val ms2 = MemoryStream[HourGroupRow]
    val q2 = graft.streaming.StreamingOps.convoyGroupsCoreStream(ms2.toDS())
      .writeStream.format("memory").queryName("coreep_t")
      .outputMode("append").start()
    try {
      ms2.addData(sealedRows: _*); q2.processAllAvailable()
      // the 3-core is alive at the frontier: nothing closed yet
      assert(spark.table("coreep_t").count() == 0,
        "an alive class emitted before anything closed it")
      // a later sealed hour (gap) closes everything held — the
      // far-future heartbeat of runbook step 2
      ms2.addData(HourGroupRow(hr0 + 100L, 900L, 3L, "900,901,902"))
      q2.processAllAvailable()
    } finally q2.stop()
    assert(q2.exception.isEmpty, s"stage 2 died: ${q2.exception}")
    val got = spark.table("coreep_t")
      .as[graft.operators.Queries.ConvoyCoreEp].collect().toSeq
      .sortBy(e => (e.group_id, e.hr_start, e.members))
    // parity with the registered batch query over the SAME fixes: the
    // churn fixture's events table, through the full batch path
    val dir = java.nio.file.Files.createTempDirectory("graft-coretwin").toString
    ((0 until 3).flatMap { h =>
      Seq(
        (30L + 20L * h, ts(s"2024-01-01 ${10 + h}:00:00"), 10L),
        (35L + 20L * h, ts(s"2024-01-01 ${10 + h}:10:00"), 12L),
        (40L + 20L * h, ts(s"2024-01-01 ${10 + h}:20:00"), 14L))
    } :+ ((62L, ts("2024-01-01 11:25:00"), 16L)))
      .toDF("event_id", "ts", "user_id")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val batch = SparkEntry.queries("ltss_geo_convoy_groups_core")(spark, dir)
      .as[graft.operators.Queries.ConvoyCoreEp].collect().toSeq
      .sortBy(e => (e.group_id, e.hr_start, e.members))
    assert(got == batch && got.size == 1,
      s"twin episodes diverged from batch: $got vs $batch")
  }

  test("strict convoy-group twin: same-set runs close by timeout-absence; episodes equal the batch strict rows; churn fragments on both engines") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.streaming.StreamingOps.{GroupEpisode, HourGroupRow}
    val hr0 = ts("2024-01-01 10:00:00").getTime / 3600000L
    // (a) a STABLE set over 3 consecutive sealed hours: one episode,
    // emitted only once the watermark proves hour hr0+3 held no row
    // for the key (absence-by-timeout — a members key never sees other
    // sets' rows)
    val ms = MemoryStream[HourGroupRow]
    val q = graft.streaming.StreamingOps.convoyGroupsStream(ms.toDS())
      .writeStream.format("memory").queryName("sgrp_t")
      .outputMode("append").start()
    try {
      ms.addData(
        HourGroupRow(hr0, 10L, 3L, "10,12,14"),
        HourGroupRow(hr0 + 1L, 10L, 3L, "10,12,14"),
        HourGroupRow(hr0 + 2L, 10L, 3L, "10,12,14"))
      q.processAllAvailable()
      assert(spark.table("sgrp_t").count() == 0,
        "an open run must not emit before absence is provable")
      // two far sealed hours: the first advances the watermark source
      // value, the second lets the (one-batch-lagged) watermark fire
      // the timeout
      ms.addData(HourGroupRow(hr0 + 10L, 50L, 3L, "50,51,52"))
      q.processAllAvailable()
      ms.addData(HourGroupRow(hr0 + 11L, 50L, 3L, "50,51,52"))
      q.processAllAvailable()
    } finally q.stop()
    assert(q.exception.isEmpty, s"strict twin died: ${q.exception}")
    val got = spark.table("sgrp_t").as[GroupEpisode].collect().toSeq
    // batch parity: the same stable fleet through the full batch path
    val dir = java.nio.file.Files.createTempDirectory("graft-sgrp").toString
    (0 until 3).flatMap { h =>
      Seq(
        (30L + 20L * h, ts(s"2024-01-01 ${10 + h}:00:00"), 10L),
        (35L + 20L * h, ts(s"2024-01-01 ${10 + h}:10:00"), 12L),
        (40L + 20L * h, ts(s"2024-01-01 ${10 + h}:20:00"), 14L))
    }.toDF("event_id", "ts", "user_id")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val batch = SparkEntry.queries("ltss_geo_convoy_groups")(spark, dir)
      .as[GroupEpisode].collect().toSeq
    assert(got == batch && got.size == 1 &&
      got.head == GroupEpisode(10L, 3L, "10,12,14", hr0, 3L, hr0 + 2L),
      s"strict twin diverged from batch: $got vs $batch")
    // (b) the churn fixture: the set CHANGES at hour hr0+1, so the
    // strict rule fragments into sub-m runs — EMPTY on both engines
    // (the batch assertion lives in the churn fixture test)
    val ms2 = MemoryStream[HourGroupRow]
    val q2 = graft.streaming.StreamingOps.convoyGroupsStream(ms2.toDS())
      .writeStream.format("memory").queryName("sgrp_churn_t")
      .outputMode("append").start()
    try {
      ms2.addData(
        HourGroupRow(hr0, 10L, 3L, "10,12,14"),
        HourGroupRow(hr0 + 1L, 10L, 4L, "10,12,14,16"),
        HourGroupRow(hr0 + 2L, 10L, 3L, "10,12,14"))
      q2.processAllAvailable()
      ms2.addData(HourGroupRow(hr0 + 10L, 50L, 3L, "50,51,52"))
      q2.processAllAvailable()
      ms2.addData(HourGroupRow(hr0 + 11L, 50L, 3L, "50,51,52"))
      q2.processAllAvailable()
    } finally q2.stop()
    assert(q2.exception.isEmpty, s"strict churn twin died: ${q2.exception}")
    assert(spark.table("sgrp_churn_t").count() == 0,
      "the strict rule must fragment the churn fixture below m on the twin too")
  }

  test("core twin holds a split-delivered hour until a later hour proves it complete") {
    // review-found r20: a transport may split ONE sealed hour's rows
    // across micro-batches (file-listing boundary, maxOffsetsPerTrigger)
    // — folding the partial hour would wrongly close {1,2,3} at hour
    // 101 (a 2-hour episode) and drop the remainder as a replay. The
    // machine must HOLD hour 102 until a later hour proves it complete.
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.streaming.StreamingOps.HourGroupRow
    val ms = MemoryStream[HourGroupRow]
    val q = graft.streaming.StreamingOps.convoyGroupsCoreStream(ms.toDS())
      .writeStream.format("memory").queryName("coresplit_t")
      .outputMode("append").start()
    try {
      ms.addData(HourGroupRow(100L, 1L, 3L, "1,2,3")); q.processAllAvailable()
      ms.addData(HourGroupRow(101L, 1L, 3L, "1,2,3")); q.processAllAvailable()
      // hour 102 arrives SPLIT: first only the unrelated group...
      ms.addData(HourGroupRow(102L, 7L, 3L, "7,8,9")); q.processAllAvailable()
      // ...the {1,2,3} piece lands one batch later
      ms.addData(HourGroupRow(102L, 1L, 3L, "1,2,3")); q.processAllAvailable()
      assert(spark.table("coresplit_t").count() == 0,
        "a held (possibly-partial) hour must not close anything")
      // a later hour releases the hold; the gap closes the survivors
      ms.addData(HourGroupRow(200L, 50L, 3L, "50,51,52"))
      q.processAllAvailable()
    } finally q.stop()
    assert(q.exception.isEmpty, s"split-hour twin died: ${q.exception}")
    val eps = spark.table("coresplit_t")
      .as[graft.operators.Queries.ConvoyCoreEp].collect().toSeq
    // {1,2,3} rode THROUGH the split hour (3 hours, not a premature 2);
    // {7,8,9} held one hour only — below m
    assert(eps == Seq(graft.operators.Queries.ConvoyCoreEp(
      1L, 3L, "1,2,3", 100L, 3L, 102L)),
      s"split-delivered hour mishandled: $eps")
  }

  test("dpSimplifyLiveStream: every batch emits the open month's provisional D-P equal to batch ltss_geo_dp on the prefix") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val fixes = Seq(
      (ts("2024-01-01 10:00:00"), 0L, 180L, -89.5, 0.5),
      (ts("2024-01-01 11:00:00"), 0L, 200L, -69.5, 20.5),
      (ts("2024-01-01 12:00:00"), 0L, 220L, -49.5, 40.5),
      (ts("2024-01-01 13:00:00"), 0L, 370L, -79.5, -169.5),
      (ts("2024-02-01 10:00:00"), 0L, 560L, -69.5, 20.5))
    val ms = MemoryStream[(java.sql.Timestamp, Long, Long, Double, Double)]
    val q = StreamingOps.dpSimplifyLiveStream(
      ms.toDF.toDF("time", "user_id", "event_id", "lat", "lon"))
      .writeStream.format("memory").queryName("dplive_t").outputMode("update").start()
    def emitted(): Seq[(Long, String, Int, Int, Seq[Long])] =
      spark.table("dplive_t")
        .selectExpr("user_id", "CAST(chunk AS STRING) AS chunk", "n_fixes",
          "n_kept", "transform(kept, f -> f.seq) AS seqs")
        .as[(Long, String, Int, Int, Seq[Long])].collect().toSeq
    def batchDp(upTo: Int, month: String): Seq[Long] = {
      val dir = java.nio.file.Files.createTempDirectory("graft-dplive").toString
      fixes.take(upTo).map { case (t, u, e, _, _) => (e, t, u) }
        .toDF("event_id", "ts", "user_id")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      SparkEntry.queries("ltss_geo_dp")(spark, dir)
        .filter(expr(s"date_trunc('month', time) = TIMESTAMP '$month'"))
        .selectExpr("event_id").as[Long].collect().toSeq.sorted
    }
    try {
      // batch 1: the collinear prefix — a PROVISIONAL polyline emits
      // NOW (the whole point vs dpSimplifyStream), interior point gone
      ms.addData(fixes.take(3): _*); q.processAllAvailable()
      val e1 = emitted()
      assert(e1.map(r => (r._1, r._5)) == Seq((0L, Seq(180L, 220L))),
        s"open-month provisional diverged: $e1")
      assert(e1.head._5.sorted == batchDp(3, "2024-01-01 00:00:00"),
        "provisional must equal batch ltss_geo_dp on the delivered prefix")
      // batch 2: the max-deviation fix arrives — provisional re-simplifies
      ms.addData(fixes(3)); q.processAllAvailable()
      val e2 = emitted().drop(e1.size)
      assert(e2.map(_._5) == Seq(Seq(180L, 220L, 370L)),
        s"re-simplified provisional diverged: $e2")
      assert(e2.head._5.sorted == batchDp(4, "2024-01-01 00:00:00"))
      // batch 3: February opens — January's FINAL row plus the new
      // month's single-fix provisional, in one batch
      ms.addData(fixes(4)); q.processAllAvailable()
      val e3 = emitted().drop(e1.size + e2.size)
      assert(e3.map(r => (r._2, r._5)).sortBy(_._1) == Seq(
        ("2024-01-01 00:00:00", Seq(180L, 220L, 370L)),
        ("2024-02-01 00:00:00", Seq(560L))),
        s"close+open emissions diverged: $e3")
      assert(e3.find(_._2.startsWith("2024-02")).get._5.sorted ==
        batchDp(5, "2024-02-01 00:00:00"))
    } finally q.stop()
    assert(q.exception.isEmpty, s"dpSimplifyLiveStream died: ${q.exception}")
  }

  test("hullStream: closed months emit batch-identical hull boundaries") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    // the ltss_geo_hull hand-walk fixture (user 0 under the skew
    // mapping: boundary {e0, e100, e300, e359, e360-dup}, interior
    // {e150, e200}) all in January, plus a February fix closing it
    val jan = Seq(0L, 100L, 150L, 200L, 300L, 359L, 360L).zipWithIndex.map {
      case (e, i) =>
        val lat = ((0L + 7 * e) % 180 - 90).toDouble + 0.5
        val lon = (e % 360 - 180).toDouble + 0.5
        (ts(f"2024-01-01 1$i%01d:00:00"), 0L, e, lat, lon)
    }
    val feb = (ts("2024-02-01 10:00:00"), 0L, 720L, -89.5, 0.5)
    val ms = MemoryStream[(java.sql.Timestamp, Long, Long, Double, Double)]
    val q = StreamingOps.hullStream(
      ms.toDF.toDF("time", "user_id", "event_id", "lat", "lon"))
      .writeStream.format("memory").queryName("hull_t").outputMode("append").start()
    try {
      ms.addData(jan: _*); q.processAllAvailable()
      assert(spark.table("hull_t").count() == 0, "January is still open")
      ms.addData(feb); q.processAllAvailable()
    } finally q.stop()
    assert(q.exception.isEmpty, s"hullStream died: ${q.exception}")
    val got = spark.table("hull_t")
      .selectExpr("user_id", "n_fixes", "n_boundary",
        "transform(boundary, f -> f.seq) AS seqs")
      .as[(Long, Int, Int, Seq[Long])].collect().toSeq
    assert(got == Seq((0L, 7, 5, Seq(0L, 100L, 300L, 359L, 360L))),
      s"stream hull diverged from the hand walk: $got")
    // batch parity: the registered query over the same January events
    val dir = java.nio.file.Files.createTempDirectory("graft-hull-stream").toString
    (jan :+ feb).map { case (t, u, e, _, _) => (e, t, u) }
      .toDF("event_id", "ts", "user_id")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val batch = SparkEntry.queries("ltss_geo_hull")(spark, dir)
      .filter($"time" < ts("2024-02-01 00:00:00"))
      .selectExpr("event_id").as[Long].collect().toSeq.sorted
    assert(got.head._4.sorted == batch,
      s"stream boundary diverged from batch: ${got.head._4} vs $batch")
  }

  test("geoZonesStream: multi-zone enter/exit log, held sets equal the batch join per prefix") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val zones = graft.operators.Queries.ZoneDefs.map { case (id, _, vs) => (id, vs) }
    // user 100 (lat 10.5) sweeps east: outside → zone1 → overlap{1,3}
    // → zone3 only → outside; user 9 (lat -80.5) sits in zone2
    val fixes = Seq(
      (ts("2024-01-01 10:00:00"), 100L, 79L, 10.5, -100.5),
      (ts("2024-01-01 11:00:00"), 100L, 139L, 10.5, -40.5),
      (ts("2024-01-01 12:00:00"), 100L, 190L, 10.5, 10.5),
      (ts("2024-01-01 13:00:00"), 100L, 210L, 10.5, 30.5),
      (ts("2024-01-01 14:00:00"), 100L, 280L, 10.5, 100.5),
      (ts("2024-01-01 10:00:00"), 9L, 180L, -80.5, 0.5))
    val ms = MemoryStream[(java.sql.Timestamp, Long, Long, Double, Double)]
    val q = StreamingOps.geoZonesStream(
      ms.toDF.toDF("time", "user_id", "event_id", "lat", "lon"), zones)
      .writeStream.format("memory").queryName("zones_t").outputMode("append").start()
    def implied(uid: Long): Set[Long] = {
      val log = spark.table("zones_t")
        .as[(Long, java.sql.Timestamp, Long, Long, String)]
        .collect().filter(_._1 == uid).sortBy(r => (r._2.getTime, r._3)).toSeq
      log.foldLeft(Set.empty[Long]) { case (in, (_, _, _, z, ev)) =>
        if (ev == "enter") in + z else in - z
      }
    }
    try {
      ms.addData(fixes.take(3): _*); ms.addData(fixes.last); q.processAllAvailable()
      // prefix check: the held sets must equal the batch join on the
      // SAME fixes (latest fix per user → containing zones)
      val dir = java.nio.file.Files.createTempDirectory("graft-zones-stream").toString
      (fixes.take(3) :+ fixes.last).map { case (t, u, e, _, _) => (e, t, u) }
        .toDF("event_id", "ts", "user_id")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      val batch = SparkEntry.queries("ltss_geo_zones")(spark, dir)
        .collect().map(r => (r.getLong(2), r.getLong(0)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      assert(implied(100L) == batch.getOrElse(100L, Set.empty),
        s"user 100 held set diverged: ${implied(100L)} vs $batch")
      assert(implied(9L) == batch.getOrElse(9L, Set.empty))
      // remainder of the sweep: exit 1 at lon 30.5, exit 3 at lon 100.5
      ms.addData(fixes.slice(3, 5): _*); q.processAllAvailable()
    } finally q.stop()
    assert(q.exception.isEmpty, s"geoZonesStream died: ${q.exception}")
    val log100 = spark.table("zones_t")
      .as[(Long, java.sql.Timestamp, Long, Long, String)]
      .collect().filter(_._1 == 100L).sortBy(r => (r._2.getTime, r._3)).toSeq
      .map(r => (r._3, r._4, r._5))
    assert(log100 == Seq(
      (139L, 1L, "enter"), (190L, 3L, "enter"),
      (210L, 1L, "exit"), (280L, 3L, "exit")),
      s"transition log diverged from the hand walk: $log100")
    assert(implied(100L).isEmpty && implied(9L) == Set(2L))
  }

  test("zone-version contract: an upsertZones mid-stream fails the restarted twin loudly, fresh checkpoint re-seeds") {
    import java.nio.file.{Files, Paths}
    val root = Files.createTempDirectory("graft-zonev").toString
    val zdir = s"$root/zones"; val in = s"$root/in"
    Files.createDirectories(Paths.get(in))
    def zdf(rows: Seq[(Long, String, Seq[(Double, Double)])]) =
      rows.toDF("zone_id", "name", "verts")
        .withColumn("verts", expr("transform(verts, v -> struct(v._1 AS x, v._2 AS y))"))
    graft.sources.LtssSink.writeZoneLayout(
      zdf(graft.operators.Queries.ZoneDefs), zdir) // zone_version 1
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "time TIMESTAMP, user_id LONG, event_id LONG, lat DOUBLE, lon DOUBLE")
    def start(out: String, ckpt: String) = StreamingOps
      .geoZonesStreamFromLayout(spark.readStream.schema(schema).json(in), zdir)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    def fix(t: String, eid: Long, lon: Double) =
      s"""{"time":"${t}Z","user_id":100,"event_id":$eid,"lat":10.5,"lon":$lon}"""
    // batch 1 against version 1: user 100 enters zone 1; the held
    // containment set lands in the checkpoint stamped version 1
    Files.writeString(Paths.get(in, "b1.json"), fix("2024-01-01T10:00:00", 1L, -40.5))
    val q1 = start(s"$root/out1", s"$root/ckpt1")
    q1.processAllAvailable(); q1.stop()
    assert(q1.exception.isEmpty, s"bootstrap run died: ${q1.exception}")
    assert(spark.read.parquet(s"$root/out1").count() == 1L) // the enter row
    // the dimension is REDRAWN mid-stream: version 2
    graft.sources.LtssSink.upsertZones(
      zdf(Seq((99L, "new_tri", Seq((0.0, 0.0), (5.0, 0.0), (3.0, 4.0))))), zdir)
    assert(graft.sources.LtssSink.zoneLayoutVersion(spark, zdir) == 2L)
    // restart over the same checkpoint: the twin reconstructs against
    // version 2, the restored state says version 1 — the PINNED outcome
    // is a loud failure on the entity's first arrival, never a silent
    // enter/exit diff against the redrawn rings
    Files.writeString(Paths.get(in, "b2.json"), fix("2024-01-01T11:00:00", 2L, 10.5))
    val q2 = start(s"$root/out1", s"$root/ckpt1")
    intercept[Exception] { q2.processAllAvailable() }
    q2.stop()
    val err = q2.exception.map(_.toString).getOrElse("")
    assert(err.contains("zone layout version changed") &&
      err.contains("bootstrapped at zone_version 1") &&
      err.contains("constructed against zone_version 2"),
      s"restart across an upsert must fail with the documented message: $err")
    // the documented recovery: a FRESH checkpoint re-seeds from the next
    // fix per entity and runs clean against the new table
    val q3 = start(s"$root/out2", s"$root/ckpt2")
    q3.processAllAvailable(); q3.stop()
    assert(q3.exception.isEmpty, s"re-seeded run died: ${q3.exception}")
    // re-seeded state has no pre-redraw baseline: both fixes replay —
    // enter zone 1 at lon −40.5, then (still in 1) enter zone 3 at the
    // 1∩3 overlap lon 10.5
    val replay = spark.read.parquet(s"$root/out2")
      .selectExpr("event_id", "zone_id", "event").as[(Long, Long, String)]
      .collect().sortBy(_._1).toSeq
    assert(replay == Seq((1L, 1L, "enter"), (2L, 3L, "enter")),
      s"re-seeded transitions diverged: $replay")
  }

  test("zonesDwellStream: latest ledgers equal the batch multi-zone dwell report per prefix") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val zones = graft.operators.Queries.ZoneDefs.map { case (id, _, vs) => (id, vs) }
    // the batch hand-trace fixture: user 90 (lat 0.5) inside zones 1+4
    // at lon 0.5, away at lon 100.5, back at lon 0.5; user 9 (lat
    // −80.5) one fix in zone 2 — delivered across batches so the held
    // intervals settle cross-batch
    val fixes = Seq(
      (ts("2024-01-01 10:00:00"), 90L, 180L, 0.5, 0.5),
      (ts("2024-01-01 11:00:00"), 90L, 280L, 0.5, 100.5),
      (ts("2024-01-01 13:00:00"), 90L, 540L, 0.5, 0.5),
      (ts("2024-01-01 10:00:00"), 9L, 180L, -80.5, 0.5))
    val ms = MemoryStream[(java.sql.Timestamp, Long, Long, Double, Double)]
    val q = StreamingOps.zonesDwellStream(
      ms.toDF.toDF("time", "user_id", "event_id", "lat", "lon"), zones)
      .writeStream.format("memory").queryName("zdwell_t").outputMode("update").start()
    // latest emission per (zone, user): Update mode appends a snapshot
    // per touched entity per batch — the newest (by last_inside, then
    // cumulative counters) is the running report
    def latest(): Seq[(Long, Long, Long, Long, Long)] =
      spark.table("zdwell_t")
        .as[(Long, Long, Long, Long, Long, java.sql.Timestamp, java.sql.Timestamp)]
        .collect().toSeq
        .groupBy(r => (r._1, r._2)).toSeq
        .map { case (_, rs) => rs.maxBy(r => (r._3, r._4)) }
        .map(r => (r._1, r._2, r._3, r._4, r._5))
        .sortBy(r => (r._1, r._2))
    def batch(upTo: Int): Seq[(Long, Long, Long, Long, Long)] = {
      val dir = java.nio.file.Files.createTempDirectory("graft-zdwell-b").toString
      fixes.take(upTo).map { case (t, u, e, _, _) => (e, t, u) }
        .toDF("event_id", "ts", "user_id")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      SparkEntry.queries("ltss_zones_dwell")(spark, dir)
        .selectExpr("zone_id", "user_id", "n_inside_obs", "dwell_us", "n_visits")
        .as[(Long, Long, Long, Long, Long)].collect().toSeq
    }
    try {
      ms.addData(fixes.take(2): _*); q.processAllAvailable()
      assert(latest() == batch(2), s"prefix 2 diverged: ${latest()} vs ${batch(2)}")
      ms.addData(fixes.drop(2): _*); q.processAllAvailable()
    } finally q.stop()
    assert(q.exception.isEmpty, s"zonesDwellStream died: ${q.exception}")
    val hourUs = 3600000000L
    assert(latest() == Seq(
      (1L, 90L, 2L, hourUs, 2L),
      (2L, 9L, 1L, 0L, 1L),
      (4L, 90L, 2L, hourUs, 2L)),
      s"final ledgers diverged from the hand trace: ${latest()}")
    assert(latest() == batch(4), "full-run ledgers must equal the batch report")
  }

  test("staypointStream emits the batch visits as runs close; the open run is held") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    // the batch hand-trace fixture plus a February fix that flushes the
    // open run (the lone lon-130.5 fix — still no visit)
    val fixes = Seq(
      (ts("2024-01-01 00:00:00"), 97L, 180L, 7.5, 0.5),
      (ts("2024-01-01 13:00:00"), 97L, 181L, 7.5, 1.5),
      (ts("2024-01-02 00:00:00"), 97L, 240L, 7.5, 60.5),
      (ts("2024-01-02 12:00:00"), 97L, 241L, 7.5, 61.5),
      (ts("2024-01-03 00:00:00"), 97L, 310L, 7.5, 130.5),
      (ts("2024-02-01 00:00:00"), 97L, 400L, 7.5, 0.5))
    val ms = MemoryStream[(java.sql.Timestamp, Long, Long, Double, Double)]
    val q = StreamingOps.staypointStream(
      ms.toDF.toDF("time", "user_id", "event_id", "lat", "lon"))
      .writeStream.format("memory").queryName("stay_t").outputMode("append").start()
    try {
      ms.addData(fixes.take(2): _*); q.processAllAvailable()
      // nothing can emit yet: the first run is still open
      assert(spark.table("stay_t").count() == 0)
      ms.addData(fixes.slice(2, 5): _*); q.processAllAvailable()
      ms.addData(fixes.drop(5): _*); q.processAllAvailable()
    } finally q.stop()
    assert(q.exception.isEmpty, s"staypointStream died: ${q.exception}")
    val got = spark.table("stay_t")
      .as[(Long, java.sql.Timestamp, java.sql.Timestamp, Long, Long, Double, Double)]
      .collect().sortBy(_._2.getTime).toSeq
    // batch truth on the same fixes: the registered query over a parquet
    // dump — every emitted visit must match it, and the only batch row
    // the stream may lack is the still-open February run (no visit here)
    val dir = java.nio.file.Files.createTempDirectory("graft-stay-stream").toString
    fixes.map { case (t, u, e, _, _) => (e, t, u) }
      .toDF("event_id", "ts", "user_id")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val batch = SparkEntry.queries("ltss_geo_staypoints")(spark, dir)
      .as[(Long, java.sql.Timestamp, java.sql.Timestamp, Long, Long, Double, Double)]
      .collect().toSeq
    assert(got == batch, s"stream visits diverged from batch:\n$got\nvs\n$batch")
    assert(got.map(r => (r._2, r._4, r._5, r._7)) == Seq(
      (ts("2024-01-01 00:00:00"), 2L, 13L * 3600000000L, 0.5),
      (ts("2024-01-02 00:00:00"), 2L, 12L * 3600000000L, 60.5)))
  }

  test("odFlowStream emits the batch OD trips as visits close; the open visit's trip is held") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    // user 97 (lat 7.5) makes three visits with wandering in between —
    // event ids chosen so the STREAM lats/lons equal what the batch
    // query re-derives from the parquet keys (e % 360 − 180 + 0.5):
    //   V1 Jan 1 00:00–13:00 at lon 0.5/1.5   (13 h ≥ 12 h, visit)
    //   V2 Jan 2 00:00–12:00 at lon 60.5/61.5 (12 h, visit)
    //   lone Jan 3 fix at lon 130.5           (run, never a visit)
    //   V3 Feb 1 00:00–13:00 at lon 0.5/1.5   (visit, closed by March)
    // Trips: V1→V2 (emits when V2 closes at the lone fix) and V2→V3
    // (emits when March closes V3) — the V2 origin must survive the
    // transparent non-visit run between them, exactly like the batch
    // lag over the VISITS frame.
    val fixes = Seq(
      (ts("2024-01-01 00:00:00"), 97L, 180L, 7.5, 0.5),
      (ts("2024-01-01 13:00:00"), 97L, 181L, 7.5, 1.5),
      (ts("2024-01-02 00:00:00"), 97L, 240L, 7.5, 60.5),
      (ts("2024-01-02 12:00:00"), 97L, 241L, 7.5, 61.5),
      (ts("2024-01-03 00:00:00"), 97L, 310L, 7.5, 130.5),
      (ts("2024-02-01 00:00:00"), 97L, 540L, 7.5, 0.5),
      (ts("2024-02-01 13:00:00"), 97L, 541L, 7.5, 1.5),
      (ts("2024-03-01 00:00:00"), 97L, 670L, 7.5, 130.5))
    val ms = MemoryStream[(java.sql.Timestamp, Long, Long, Double, Double)]
    val q = StreamingOps.odFlowStream(
      ms.toDF.toDF("time", "user_id", "event_id", "lat", "lon"))
      .writeStream.format("memory").queryName("od_t").outputMode("append").start()
    def batchOd(upTo: Int): Seq[(Long, Long, Long, Long, Long, Long)] = {
      val dir = java.nio.file.Files.createTempDirectory("graft-od-batch").toString
      fixes.take(upTo).map { case (t, u, e, _, _) => (e, t, u) }
        .toDF("event_id", "ts", "user_id")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      SparkEntry.queries("ltss_geo_od")(spark, dir)
        .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    }
    try {
      ms.addData(fixes.take(4): _*); q.processAllAvailable()
      assert(spark.table("od_t").count() == 0, "no visit has closed yet")
      ms.addData(fixes(4)); q.processAllAvailable()
      // prefix check: aggregating the emitted trips reproduces the
      // batch matrix over the same fixes (the lone run never visits,
      // so nothing is held back here)
      val agg1 = spark.table("od_t")
        .groupBy($"o_cell_lat", $"o_cell_lon", $"d_cell_lat", $"d_cell_lon")
        .agg(count(lit(1)).as("n_trips"), sum($"origin_dwell_us").as("origin_dwell_us"))
        .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
      assert(agg1 == batchOd(5), s"prefix trips diverged: $agg1 vs ${batchOd(5)}")
      ms.addData(fixes.slice(5, 7): _*); q.processAllAvailable()
      assert(spark.table("od_t").count() == 1, "V3 is still open — its trip is held")
      ms.addData(fixes.drop(7): _*); q.processAllAvailable()
    } finally q.stop()
    assert(q.exception.isEmpty, s"odFlowStream died: ${q.exception}")
    val got = spark.table("od_t")
      .as[(Long, java.sql.Timestamp, Long, Long, Long, Long, Long)]
      .collect().sortBy(_._2.getTime).toSeq
    assert(got == Seq(
      (97L, ts("2024-01-01 13:00:00"), 0L, 0L, 0L, 6L, 13L * 3600000000L),
      (97L, ts("2024-01-02 12:00:00"), 0L, 6L, 0L, 0L, 12L * 3600000000L)),
      s"trips diverged from the hand trace: $got")
    val aggAll = spark.table("od_t")
      .groupBy($"o_cell_lat", $"o_cell_lon", $"d_cell_lat", $"d_cell_lon")
      .agg(count(lit(1)).as("n_trips"), sum($"origin_dwell_us").as("origin_dwell_us"))
      .orderBy($"o_cell_lat", $"o_cell_lon", $"d_cell_lat", $"d_cell_lon")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(aggAll == batchOd(8), s"full-run matrix diverged: $aggAll vs ${batchOd(8)}")
  }

  test("streaming hampel twin: prefix-equal to batch minus the two held samples") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    // p.a: clean series with one spike (99 among ~10s) — row 3's window
    // is rows 1..5, median 10.20, MAD 10 cents → 8880 > 30 → replaced.
    // p.b: a junk reading mid-series — it must EMIT as a null-sv
    // passthrough AND shrink its neighbors' defined windows below 5.
    val rows = Seq(
      (ts("2024-01-01 10:00:00"), "p.a", "10.00"),
      (ts("2024-01-01 10:01:00"), "p.a", "10.20"),
      (ts("2024-01-01 10:02:00"), "p.a", "10.10"),
      (ts("2024-01-01 10:03:00"), "p.a", "99.00"),
      (ts("2024-01-01 10:04:00"), "p.a", "10.30"),
      (ts("2024-01-01 10:05:00"), "p.a", "10.20"),
      (ts("2024-01-01 10:06:00"), "p.a", "10.05"),
      (ts("2024-01-01 10:00:00"), "p.b", "5.00"),
      (ts("2024-01-01 10:01:00"), "p.b", "junk"),
      (ts("2024-01-01 10:02:00"), "p.b", "5.10"),
      (ts("2024-01-01 10:03:00"), "p.b", "5.20"),
      (ts("2024-01-01 10:04:00"), "p.b", "5.00"))
    val ms = MemoryStream[(java.sql.Timestamp, String, String)]
    val q = StreamingOps.hampelStream(ms.toDF.toDF("time", "entity_id", "state"))
      .writeStream.format("memory").queryName("hampel_t").outputMode("append").start()
    try {
      // staggered delivery exercises the cross-batch ring; the final
      // batch replays an already-consumed reading (behind the frontier)
      ms.addData(rows.take(3): _*); q.processAllAvailable()
      ms.addData(rows.slice(3, 5): _*); q.processAllAvailable()
      ms.addData(rows.drop(5): _*); q.processAllAvailable()
      ms.addData((ts("2024-01-01 10:02:00"), "p.a", "10.10")); q.processAllAvailable()
    } finally q.stop()
    assert(q.exception.isEmpty, s"hampelStream died: ${q.exception}")
    val got = spark.table("hampel_t")
      .as[(String, java.sql.Timestamp, Option[Double], Long, Int, Option[Double])]
      .collect().sortBy(r => (r._1, r._2.getTime)).toSeq
    // batch truth on the same static frame, minus each entity's last
    // two samples (their centered windows are incomplete forever)
    val batch = graft.operators.TimeSeries.hampel(
      rows.toDF("time", "entity_id", "state"))
      .orderBy($"entity_id", $"time")
      .as[(String, java.sql.Timestamp, Option[Double], Long, Int, Option[Double])]
      .collect().toSeq
      .groupBy(_._1).toSeq.sortBy(_._1)
      .flatMap { case (_, es) => es.dropRight(2) }
    assert(got == batch, s"stream diverged from batch prefix:\n$got\nvs\n$batch")
    // the spike verdict emitted two samples late, replaced by the median
    val spike = got.find(_._5 == 1).get
    assert(spike._1 == "p.a" && spike._2 == ts("2024-01-01 10:03:00") &&
      spike._6.contains(10.20))
    // the junk row emitted as null-sv passthrough with a shrunk window
    val junk = got.find(_._3.isEmpty).get
    assert(junk._1 == "p.b" && junk._4 < 5 && junk._5 == 0 && junk._6.isEmpty)
  }

  test("hampelStream admits a duplicate (time, value) reading tying the frontier (ADVICE r14)") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    // two IDENTICAL readings at 10:01 — the batch window keeps both as
    // distinct members; the stream receives the duplicate in a LATER
    // batch, exactly tying the (time, cents) frontier, and must admit
    // it rather than drop it as a replay
    val rows = Seq(
      (ts("2024-01-01 10:00:00"), "p.c", "7.00"),
      (ts("2024-01-01 10:01:00"), "p.c", "7.10"),
      (ts("2024-01-01 10:01:00"), "p.c", "7.10"),
      (ts("2024-01-01 10:02:00"), "p.c", "7.20"),
      (ts("2024-01-01 10:03:00"), "p.c", "7.30"),
      (ts("2024-01-01 10:04:00"), "p.c", "7.40"))
    val ms = MemoryStream[(java.sql.Timestamp, String, String)]
    val q = StreamingOps.hampelStream(ms.toDF.toDF("time", "entity_id", "state"))
      .writeStream.format("memory").queryName("hampel_dup_t").outputMode("append").start()
    try {
      ms.addData(rows.take(2): _*); q.processAllAvailable()
      ms.addData(rows(2)); q.processAllAvailable() // the frontier tie
      ms.addData(rows.drop(3): _*); q.processAllAvailable()
    } finally q.stop()
    assert(q.exception.isEmpty, s"hampelStream died: ${q.exception}")
    val got = spark.table("hampel_dup_t")
      .as[(String, java.sql.Timestamp, Option[Double], Long, Int, Option[Double])]
      .collect().sortBy(r => (r._2.getTime, r._3)).toSeq
    val batch = graft.operators.TimeSeries.hampel(
      rows.toDF("time", "entity_id", "state"))
      .orderBy($"time", $"sv")
      .as[(String, java.sql.Timestamp, Option[Double], Long, Int, Option[Double])]
      .collect().toSeq.dropRight(2)
    assert(got == batch, s"stream diverged from batch prefix:\n$got\nvs\n$batch")
    // both copies of the duplicate emitted, and the full 5-windows saw 5
    assert(got.count(r => r._2 == ts("2024-01-01 10:01:00")) == 2,
      "the tying duplicate must emit as its own row")
    assert(got.exists(_._4 == 5), "later windows must count both duplicates")
  }

  test("trackSegmentStream month boundaries follow the session timezone like the batch layout (ADVICE r14)") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val prevTz = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      // 2024-02-01 02:00 UTC is 2024-01-31 21:00 in New York — still
      // JANUARY under the session tz, though a UTC chunker would have
      // closed January at it. The Feb 2 12:00 UTC fix is February in
      // both, closing the NY January segment.
      def utc(s: String) = java.sql.Timestamp.from(java.time.Instant.parse(s))
      val fixes = Seq(
        (utc("2024-01-20T10:00:00Z"), 5L, 301L, 1.5, 10.5),
        (utc("2024-02-01T02:00:00Z"), 5L, 302L, 1.5, 11.5),
        (utc("2024-02-02T12:00:00Z"), 5L, 303L, 1.5, 12.5))
      val ms = MemoryStream[(java.sql.Timestamp, Long, Long, Double, Double)]
      val q = StreamingOps.trackSegmentStream(
        ms.toDF.toDF("time", "user_id", "event_id", "lat", "lon"))
        .writeStream.format("memory").queryName("trackseg_tz_t").outputMode("append").start()
      try {
        ms.addData(fixes: _*); q.processAllAvailable()
      } finally q.stop()
      assert(q.exception.isEmpty, s"trackSegmentStream died: ${q.exception}")
      val got = spark.table("trackseg_tz_t")
        .selectExpr("user_id", "chunk", "n_fixes",
          "transform(seg, f -> f.seq) AS seqs")
        .as[(Long, java.sql.Timestamp, Int, Seq[Long])].collect().toSeq
      // the NY January segment holds BOTH January-in-NY fixes
      assert(got.map(r => (r._1, r._3, r._4)) == Seq((5L, 2, Seq(301L, 302L))),
        s"session-tz chunking diverged: $got")
      // and the chunk equals the batch layout's date_trunc month
      val dir = java.nio.file.Files.createTempDirectory("graft-trackseg-tz").toString
      graft.sources.LtssSink.writeTrackLayout(
        fixes.toDF("ts", "id", "seq", "lat", "lon")
          .select($"id", $"ts", $"seq", $"lat", $"lon"), dir)
      val batchChunks = spark.read.parquet(dir)
        .selectExpr("chunk").as[java.sql.Timestamp].collect().sortBy(_.getTime).toSeq
      assert(got.head._2 == batchChunks.head,
        s"stream chunk ${got.head._2} != batch date_trunc ${batchChunks.head}")
    } finally spark.conf.set("spark.sql.session.timeZone", prevTz)
  }

  test("contactCellsStream: closed windows equal the batch density panel; closed state evicts whole") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    def fix(eid: Long, t: String, uid: Long) = {
      val lat = (uid % 180 - 90).toDouble + 0.5
      val lon = (eid % 360 - 180).toDouble + 0.5
      (ts(t), uid, eid, lat, lon)
    }
    // two users share a cell in one bucket (pairs bound 1), a third
    // sits one lon-cell over (feeds the neighbors' ek but not their k),
    // and a second bucket reuses the cell (distinct windows)
    val fixes = Seq(
      fix(180L, "2024-01-01 10:00:00", 10L),
      fix(181L, "2024-01-01 10:30:00", 12L),
      fix(190L, "2024-01-01 10:00:00", 14L),
      fix(181L, "2024-01-01 13:30:00", 10L))
    // a far sentinel (space AND time) closes every fixture window; its
    // own windows never close, so it must NOT surface
    val sentinel = fix(90L, "2024-02-01 00:00:00", 100L)
    val ms = MemoryStream[(java.sql.Timestamp, Long, Long, Double, Double)]
    val q = StreamingOps.contactCellsStream(
      ms.toDF.toDF("time", "user_id", "event_id", "lat", "lon"))
      .writeStream.format("memory").queryName("cells_t")
      .outputMode("append").start()
    def stateRows(): Long = {
      val p = q.recentProgress.reverse.find(_.stateOperators.nonEmpty)
        .getOrElse(fail("no state operator progress recorded"))
      p.stateOperators.head.numRowsTotal
    }
    try {
      ms.addData(fixes: _*); q.processAllAvailable()
      ms.addData(sentinel); q.processAllAvailable()
      // one more no-op batch so the event-time timeouts fire against
      // the advanced watermark
      ms.addData(fix(90L, "2024-02-01 00:30:00", 100L)); q.processAllAvailable()
    } finally q.stop()
    assert(q.exception.isEmpty, s"contactCellsStream died: ${q.exception}")
    val got = spark.table("cells_t")
      .selectExpr("tb", "cx", "cy", "n_fixes", "n_users",
        "n_pairs_within", "n_candidates")
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().toSet
    // batch parity on the fixture fixes alone (the sentinel's windows
    // are still open and must not have emitted)
    val dir = java.nio.file.Files.createTempDirectory("graft-cells-st").toString
    fixes.map { case (t, u, e, _, _) => (e, t, u) }
      .toDF("event_id", "ts", "user_id")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val batch = SparkEntry.queries("ltss_geo_contact_cells")(spark, dir)
      .selectExpr("tb", "cx", "cy", "n_fixes", "n_users",
        "n_pairs_within", "n_candidates")
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().toSet
    assert(got == batch,
      s"closed-window panel diverged from the batch forecast: $got vs $batch")
    // every fixture key evicted whole; only the two sentinel fixes'
    // exploded keys remain (they overlap: same cell, buckets tb/tb+1
    // for 00:00 and 00:30 in one 2h bucket -> 18 shared keys)
    assert(stateRows() == 18L,
      s"closed windows must drop their state whole: ${stateRows()}")
  }

  test("contactCellsStreamLive: provisional rows are monotone prefixes; the close row equals the batch panel") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    def fix(eid: Long, t: String, uid: Long) = {
      val lat = (uid % 180 - 90).toDouble + 0.5
      val lon = (eid % 360 - 180).toDouble + 0.5
      (ts(t), uid, eid, lat, lon)
    }
    // batch 1: two users share a cell-bucket; batch 2: a neighbor-cell
    // fix feeds that key's candidate counter (ek) without touching its
    // home count, plus a second bucket opens — so the hot key emits
    // TWO provisional rows with growing counters before its close
    val batch1 = Seq(
      fix(180L, "2024-01-01 10:00:00", 10L),
      fix(181L, "2024-01-01 10:30:00", 12L))
    val batch2 = Seq(
      fix(190L, "2024-01-01 10:00:00", 14L),
      fix(181L, "2024-01-01 13:30:00", 10L))
    val ms = MemoryStream[(java.sql.Timestamp, Long, Long, Double, Double)]
    val q = StreamingOps.contactCellsStreamLive(
      ms.toDF.toDF("time", "user_id", "event_id", "lat", "lon"))
      .writeStream.format("memory").queryName("cells_live_t")
      .outputMode("append").start()
    try {
      ms.addData(batch1: _*); q.processAllAvailable()
      ms.addData(batch2: _*); q.processAllAvailable()
      ms.addData(fix(90L, "2024-02-01 00:00:00", 100L)); q.processAllAvailable()
      ms.addData(fix(90L, "2024-02-01 00:30:00", 100L)); q.processAllAvailable()
    } finally q.stop()
    assert(q.exception.isEmpty, s"contactCellsStreamLive died: ${q.exception}")
    val rows = spark.table("cells_live_t")
      .selectExpr("tb", "cx", "cy", "n_fixes", "n_users",
        "n_pairs_within", "n_candidates", "is_final")
      .as[(Long, Long, Long, Long, Long, Long, Long, Boolean)]
      .collect().toSeq
    val fin = rows.filter(_._8).map(r => (r._1, r._2, r._3, r._4, r._5, r._6, r._7))
    val prov = rows.filterNot(_._8)
    // (b) the close rows equal the batch panel on the fixture fixes
    val dir = java.nio.file.Files.createTempDirectory("graft-cells-live").toString
    (batch1 ++ batch2).map { case (t, u, e, _, _) => (e, t, u) }
      .toDF("event_id", "ts", "user_id")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val batch = SparkEntry.queries("ltss_geo_contact_cells")(spark, dir)
      .selectExpr("tb", "cx", "cy", "n_fixes", "n_users",
        "n_pairs_within", "n_candidates")
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().toSet
    assert(fin.toSet == batch,
      s"live close rows diverged from the batch panel: ${fin.toSet} vs $batch")
    // (a) provisional rows form a monotone chain per key, each below
    // its final row — counters only grow toward the close
    val finByKey = fin.map(r => (r._1, r._2, r._3) -> r).toMap
    prov.groupBy(r => (r._1, r._2, r._3)).foreach { case (key, ps) =>
      val chain = ps.sortBy(_._7)
      chain.sliding(2).foreach {
        case Seq(a, b) =>
          assert(a._4 <= b._4 && a._5 <= b._5 && a._6 <= b._6 && a._7 <= b._7,
            s"provisional counters regressed for $key: $a then $b")
        case _ => ()
      }
      finByKey.get(key).foreach { f =>
        val last = chain.last
        assert(last._4 <= f._4 && last._5 <= f._5 &&
          last._6 <= f._6 && last._7 <= f._7,
          s"provisional overshot the close row for $key: $last vs $f")
      }
    }
    // the hot key's two provisional snapshots, pinned: batch 1 sees
    // both home fixes (2 fixes, 1 pair, ek=2 -> 4 candidates); batch 2
    // adds only the neighbor's candidate copy (ek=3 -> 6)
    val hot = prov.filter(p => finByKey.get((p._1, p._2, p._3))
        .exists(f => f._6 == 1L))
      .map(p => (p._4, p._5, p._6, p._7)).sortBy(_._4)
    assert(hot.toList == List((2L, 2L, 1L, 4L), (2L, 2L, 1L, 6L)),
      s"hot-key provisional snapshots diverged: $hot")
  }

  test("drainManifest: watermark, frontier arithmetic, state rows, and the watermark-drop counter off a drained stream") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    def fix(eid: Long, t: String, uid: Long) = {
      val lat = (uid % 180 - 90).toDouble + 0.5
      val lon = (eid % 360 - 180).toDouble + 0.5
      (ts(t), uid, eid, lat, lon)
    }
    val ms = MemoryStream[(java.sql.Timestamp, Long, Long, Double, Double)]
    val q = StreamingOps.contactCellsStream(
      ms.toDF.toDF("time", "user_id", "event_id", "lat", "lon"))
      .writeStream.format("memory").queryName("drain_t")
      .outputMode("append").start()
    try {
      ms.addData(
        fix(180L, "2024-01-01 10:00:00", 10L),
        fix(181L, "2024-01-01 10:30:00", 12L))
      q.processAllAvailable()
      ms.addData(fix(181L, "2024-01-01 13:30:00", 10L))
      val horizonMs = (7200L + 7200L) * 1000L // T + default lateness
      val m = graft.streaming.StreamingIngest.drainManifest(q, horizonMs)
      assert(m.drained, s"source must read drained: $m")
      // the watermark is a REAL parsed event-time frontier: at least
      // batch 1's (10:30 − 2 h lateness), at most batch 2's (13:30 −
      // 2 h) — which of the two lastProgress carries depends on
      // whether the trailing no-data batch committed, both are
      // legitimate drain points
      val lo = ts("2024-01-01 08:30:00").getTime
      val hi = ts("2024-01-01 11:30:00").getTime
      val w = m.watermarkMs.getOrElse(fail(s"no watermark in $m"))
      assert(w >= lo && w <= hi, s"watermark out of range: $w not in [$lo, $hi]")
      assert(m.frontierMs.contains(w - horizonMs),
        s"frontier must be watermark minus the horizon: $m")
      assert(m.stateOperators.nonEmpty &&
        m.stateOperators.head.numRowsTotal > 0L,
        s"state operator rows must be recorded: $m")
      assert(m.stateOperators.forall(_.numRowsDroppedByWatermark == 0L),
        s"nothing was late yet: $m")
      assert(m.sourceEndOffsets.nonEmpty, s"rewind offsets missing: $m")
      // now a genuinely LATE fix (behind the far-future watermark):
      // the global-frontier drop becomes observable in the progress
      // history the manifest field surfaces
      ms.addData(fix(90L, "2024-03-01 00:00:00", 100L))
      q.processAllAvailable()
      ms.addData(fix(180L, "2024-01-01 10:00:00", 11L))
      val m2 = graft.streaming.StreamingIngest.drainManifest(q, horizonMs)
      assert(m2.drained)
      // the MANIFEST itself must surface the drop even though the
      // drain's trailing no-data batch reports 0 for that field — the
      // helper sums the per-batch counter over the retained history
      assert(m2.stateOperators.exists(_.numRowsDroppedByWatermark >= 1L),
        s"the late fix must show in the manifest's drop counter: $m2")
      // r19 ADVICE: the sum is cumulative-within-buffer, so a caller
      // diffing successive manifests baselines on the previous
      // manifest's lastBatchId — nothing arrived since m2, so the
      // since-filtered sum must read ZERO instead of re-reporting m2's
      // drop
      val m3 = graft.streaming.StreamingIngest.drainManifest(q, horizonMs,
        sinceBatchId = m2.lastBatchId.getOrElse(fail(s"no batchId: $m2")))
      assert(m3.stateOperators.forall(_.numRowsDroppedByWatermark == 0L),
        s"since-baseline must exclude already-reported batches: $m3")
    } finally q.stop()
  }

  test("drainManifest: chained same-name stateful operators keep per-operator drop counts") {
    // two dedupe stages share the operator NAME — the manifest must key
    // its history sum by operator INDEX, or both rows would report the
    // combined total and a consumer summing the manifest double-counts
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(java.sql.Timestamp, Long)]
    val df = ms.toDF.toDF("time", "id")
      .withWatermark("time", "1 second")
      .dropDuplicates("id", "time")
      .dropDuplicates("id")
    val q = df.writeStream.format("memory").queryName("drain_dup_t")
      .outputMode("append").start()
    try {
      ms.addData((ts("2024-01-01 10:00:00"), 1L)); q.processAllAvailable()
      ms.addData((ts("2024-02-01 10:00:00"), 2L)); q.processAllAvailable()
      ms.addData((ts("2024-01-01 09:00:00"), 3L)) // late: dropped once
      val m = graft.streaming.StreamingIngest.drainManifest(q)
      assert(m.drained && m.stateOperators.size == 2,
        s"two dedupe operators expected: $m")
      val drops = m.stateOperators.map(_.numRowsDroppedByWatermark)
      assert(drops.sum == 1L && drops.count(_ == 1L) == 1,
        s"the late row must count ONCE, on the operator that dropped it: $m")
    } finally q.stop()
  }
}
