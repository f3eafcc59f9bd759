package graft

import java.nio.file.Files
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import graft.config.{FilterSpec, LtssConfig}
import graft.sources.LtssSink
import graft.streaming.StreamingIngest

/** End-to-end streaming lifecycle (the bats-test analog, SURVEY.md §5):
  * JSON event files → filter/project → chunked parquet sink → drain →
  * assert stored rows, schema, and partition layout. */
class StreamingSpec extends SparkSpec {

  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString

  test("ingest stream: events → filters → chunked parquet, graceful drain") {
    val in = tmp("ltss-in")
    val out = tmp("ltss-out")
    val ckpt = tmp("ltss-ckpt")
    val events =
      """{"event_id":1,"ts":"2024-01-01T00:00:00.000001Z","user_id":1,"event_type":"sensor","value":21.5,"props":"{\"latitude\": 1.5, \"longitude\": 2.5}"}
        |{"event_id":2,"ts":"2024-02-15T00:00:00.000001Z","user_id":2,"event_type":"sensor","value":7.25,"props":"{\"k\": 3}"}
        |{"event_id":3,"ts":"2024-01-02T00:00:00.000001Z","user_id":3,"event_type":"noise","value":1.0,"props":"{}"}
        |{"event_id":4,"ts":"2024-01-03T00:00:00.000001Z","user_id":4,"event_type":"sensor","value":null,"props":"{}"}
        |""".stripMargin
    Files.writeString(java.nio.file.Paths.get(in, "batch1.json"), events)

    val cfg = LtssConfig(
      include = FilterSpec(domains = Seq("sensor")),
      enableLocation = true)
    val q = StreamingIngest.start(StreamingIngest.readJsonEvents(spark, in), cfg, out, ckpt)
    StreamingIngest.drainAndStop(q)

    val stored = spark.read.parquet(out)
    // event 3 fails the entity filter; event 4 has null value → state "null"?
    // no: null value → format_string yields null → validity drops it
    val rows = stored.orderBy("entity_id").collect()
    assert(rows.map(_.getAs[String]("entity_id")).toSeq == Seq("sensor.1", "sensor.2"))
    // chunk partition dirs exist (time-partitioned layout ≙ hypertable chunks)
    val chunks = new java.io.File(out).listFiles().filter(_.getName.startsWith("chunk="))
    assert(chunks.length == 2) // Jan + Feb chunks (30-day buckets)
    // location extracted for event 1
    val r1 = stored.filter(col("entity_id") === "sensor.1").head()
    assert(r1.getAs[org.apache.spark.sql.Row]("location").getDouble(0) == 2.5)
    val r2 = stored.filter(col("entity_id") === "sensor.2").head()
    assert(r2.getAs[org.apache.spark.sql.Row]("location") == null)
  }

  test("ingest stream materializes configured attribute keys as typed columns (GIN analog)") {
    import spark.implicits._
    val in = tmp("ltss-in-ak"); val out = tmp("ltss-out-ak"); val ckpt = tmp("ltss-ckpt-ak")
    Files.writeString(java.nio.file.Paths.get(in, "b1.json"),
      """{"event_id":1,"ts":"2024-01-01T00:00:00Z","user_id":1,"event_type":"a","value":1.0,"props":"{\"k\": 95}"}
        |{"event_id":2,"ts":"2024-01-01T00:00:01Z","user_id":2,"event_type":"a","value":2.0,"props":"{\"k\": 10}"}
        |{"event_id":3,"ts":"2024-01-01T00:00:02Z","user_id":3,"event_type":"a","value":3.0,"props":"{}"}
        |""".stripMargin)
    val cfg = LtssConfig(enableLocation = false)
    val q = StreamingIngest.start(StreamingIngest.readJsonEvents(spark, in), cfg, out, ckpt,
      attrKeys = Seq("k" -> "long"))
    StreamingIngest.drainAndStop(q)
    val stored = spark.read.parquet(out)
    assert(stored.columns.contains("attr_k"))
    // typed column round-trips; absent key → null; predicate answers
    // without re-parsing JSON
    assert(stored.filter(col("attr_k") >= 90).select("entity_id").as[String].collect().toSeq
      == Seq("a.1"))
    assert(stored.filter(col("attr_k").isNull).count() == 1)
    // the marker records the key set, so a mismatched later batch fails loudly
    assert(graft.sources.LtssSink.readLayoutMarker(spark, out).get.attrKeys
      == Seq("k" -> "long"))
  }

  test("restart with CHANGED attrKeys fails the stream loudly mid-stream, landing nothing") {
    import spark.implicits._
    val in = tmp("ltss-in-ak2"); val out = tmp("ltss-out-ak2"); val ckpt = tmp("ltss-ckpt-ak2")
    Files.writeString(java.nio.file.Paths.get(in, "b1.json"),
      """{"event_id":1,"ts":"2024-01-01T00:00:00Z","user_id":1,"event_type":"a","value":1.0,"props":"{\"k\": 5}"}""")
    val cfg = LtssConfig(enableLocation = false)
    val q1 = StreamingIngest.start(StreamingIngest.readJsonEvents(spark, in), cfg, out, ckpt,
      attrKeys = Seq("k" -> "long"))
    StreamingIngest.drainAndStop(q1)
    assert(spark.read.parquet(out).count() == 1)

    // new input + restart with a DIFFERENT materialized key set: the
    // layout marker guard must fail the QUERY (foreachBatch rethrows →
    // the checkpoint does not advance), not silently mix schemas
    Files.writeString(java.nio.file.Paths.get(in, "b2.json"),
      """{"event_id":2,"ts":"2024-01-01T00:00:01Z","user_id":2,"event_type":"a","value":2.0,"props":"{\"j\": 7}"}""")
    val q2 = StreamingIngest.start(StreamingIngest.readJsonEvents(spark, in), cfg, out, ckpt,
      attrKeys = Seq("j" -> "long"))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      StreamingIngest.drainAndStop(q2)
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("materializes attribute keys")),
      s"expected the marker guard's message; got: ${messages(e)}")
    // nothing from the failed batch landed; the layout still has the
    // original key set and the original row only
    val stored = spark.read.parquet(out)
    assert(stored.count() == 1)
    assert(stored.filter(col("attr_k") === 5).count() == 1)
    assert(LtssSink.readLayoutMarker(spark, out).get.attrKeys == Seq("k" -> "long"))
  }

  test("restart with same checkpoint does not duplicate processed input") {
    val in = tmp("ltss-in2"); val out = tmp("ltss-out2"); val ckpt = tmp("ltss-ckpt2")
    Files.writeString(java.nio.file.Paths.get(in, "b1.json"),
      """{"event_id":1,"ts":"2024-01-01T00:00:00Z","user_id":1,"event_type":"a","value":1.0,"props":"{}"}""")
    val cfg = LtssConfig()
    val q1 = StreamingIngest.start(StreamingIngest.readJsonEvents(spark, in), cfg, out, ckpt)
    StreamingIngest.drainAndStop(q1)
    val q2 = StreamingIngest.start(StreamingIngest.readJsonEvents(spark, in), cfg, out, ckpt)
    StreamingIngest.drainAndStop(q2)
    assert(spark.read.parquet(out).count() == 1)
  }

  test("jdbc sink: a failed write rethrows") {
    import spark.implicits._
    val df = Seq(("a", 1)).toDF("entity_id", "v")
    val cfg = LtssConfig(dbUrl = "jdbc:invalid://nowhere")
    // the write rethrows, so a streaming checkpoint can't advance past loss
    assertThrows[Exception] {
      LtssSink.writeJdbc(df, cfg, maxRetries = 2, retryWaitMs = 1, sleep = _ => ())
    }
  }

  test("jdbc bootstrap creates the ltss table with PK, idempotently; writes append (D1)") {
    val url = s"jdbc:derby:memory:graftd1_${System.nanoTime()};create=true"
    val cfg = LtssConfig(dbUrl = url, enableLocation = true)
    LtssSink.bootstrapJdbc(cfg) // creates
    LtssSink.bootstrapJdbc(cfg) // introspects, skips — must not throw
    import spark.implicits._
    val rows = Seq(
      (java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "sensor.1", "1.00", """{"k":1}""", null: String),
      (java.sql.Timestamp.valueOf("2024-01-01 00:00:01"), "sensor.2", "2.00", """{"k":2}""", null: String))
      .toDF("time", "entity_id", "state", "attributes", "location")
    LtssSink.writeJdbc(rows, cfg, retryWaitMs = 1)
    val back = spark.read.jdbc(url, "ltss", new java.util.Properties())
    assert(back.count() == 2)
    assert(back.columns.map(_.toLowerCase).toSet ==
      Set("time", "entity_id", "state", "attributes", "location"))
    // PK (time, entity_id) is enforced; a replayed batch's chunk hits
    // the stored keys, replays row by row and the database skips each
    // stored key — no throw, no duplicate rows (reference
    // drop-on-PK-conflict, __init__.py:229-231)
    LtssSink.writeJdbc(rows, cfg, maxRetries = 1, retryWaitMs = 1, sleep = _ => ())
    assert(spark.read.jdbc(url, "ltss", new java.util.Properties()).count() == 2)
  }

  test("jdbc bootstrap: bounded connect-retry then readiness / give-up (L1)") {
    var attempts = 0
    var slept = 0L
    def flaky(failures: Int): String => java.sql.Connection = { url =>
      attempts += 1
      if (attempts <= failures) throw new java.sql.SQLTransientConnectionException("down")
      java.sql.DriverManager.getConnection(url)
    }
    val url = s"jdbc:derby:memory:graftl1_${System.nanoTime()};create=true"
    // recovers after 2 failures → ready
    LtssSink.bootstrapJdbc(LtssConfig(dbUrl = url), retryWaitMs = 3,
      sleep = ms => slept += ms, connect = flaky(2))
    assert(attempts == 3 && slept == 6)
    // never recovers → throws the last connect error after maxRetries
    attempts = 0; slept = 0
    assertThrows[java.sql.SQLException] {
      LtssSink.bootstrapJdbc(LtssConfig(dbUrl = url), maxRetries = 4, retryWaitMs = 3,
        sleep = ms => slept += ms, connect = _ => throw new java.sql.SQLTransientConnectionException("down"))
    }
    assert(slept == 9) // maxRetries-1 waits, like the reference's loop
  }

  test("end-to-end: stream → bootstrap → JDBC sink lands rows in the database") {
    val in = tmp("ltss-in4"); val ckpt = tmp("ltss-ckpt4")
    Files.writeString(java.nio.file.Paths.get(in, "b1.json"),
      """{"event_id":1,"ts":"2024-01-01T00:00:00Z","user_id":1,"event_type":"a","value":1.5,"props":"{\"k\": 1}"}
        |{"event_id":2,"ts":"2024-01-01T00:00:01Z","user_id":2,"event_type":"a","value":2.5,"props":"{\"k\": 2}"}
        |""".stripMargin)
    val url = s"jdbc:derby:memory:grafte2e_${System.nanoTime()};create=true"
    val cfg = LtssConfig(dbUrl = url, enableLocation = false)
    val q = StreamingIngest.start(StreamingIngest.readJsonEvents(spark, in), cfg, "", ckpt)
    StreamingIngest.drainAndStop(q)
    val back = spark.read.jdbc(url, "ltss", new java.util.Properties())
    assert(back.count() == 2)
    assert(back.select("entity_id").collect().map(_.getString(0)).sorted.toSeq == Seq("a.1", "a.2"))
  }

  test("jdbc sink: a trigger whose commit entry was lost replays and lands every row once") {
    val in = tmp("ltss-in6"); val ckpt = tmp("ltss-ckpt6")
    def line(i: Int) =
      s"""{"event_id":$i,"ts":"2024-01-01T00:00:0$i.000001Z","user_id":$i,"event_type":"a","value":$i.5,"props":"{}"}"""
    Files.writeString(java.nio.file.Paths.get(in, "b1.json"), (1 to 3).map(line).mkString("\n"))
    val url = s"jdbc:derby:memory:graftc3_${System.nanoTime()};create=true"
    val cfg = LtssConfig(dbUrl = url, enableLocation = false)
    StreamingIngest.drainAndStop(
      StreamingIngest.start(StreamingIngest.readJsonEvents(spark, in), cfg, "", ckpt))
    // the trigger's rows reached the sink but its commits/<id> entry did
    // not: the restart re-runs that trigger from its offsets entry
    val commits = new java.io.File(ckpt, "commits")
    val newest = commits.listFiles().map(_.getName).filter(_.forall(_.isDigit)).maxBy(_.toLong)
    assert(new java.io.File(commits, newest).delete())
    new java.io.File(commits, s".$newest.crc").delete()
    Files.writeString(java.nio.file.Paths.get(in, "b2.json"), line(4))
    val q2 = StreamingIngest.start(StreamingIngest.readJsonEvents(spark, in), cfg, "", ckpt)
    StreamingIngest.drainAndStop(q2)
    assert(q2.recentProgress.exists(p => p.batchId == newest.toLong && p.numInputRows == 3),
      "the restart did not replay the uncommitted trigger")
    val back = spark.read.jdbc(url, "ltss", new java.util.Properties())
    assert(back.select("entity_id").collect().map(_.getString(0)).sorted.toSeq ==
      (1 to 4).map(i => s"a.$i"))
  }

  test("sink failure fails the streaming query — checkpoint cannot advance past loss") {
    val in = tmp("ltss-in5"); val ckpt = tmp("ltss-ckpt5")
    Files.writeString(java.nio.file.Paths.get(in, "b1.json"),
      """{"event_id":1,"ts":"2024-01-01T00:00:00Z","user_id":1,"event_type":"a","value":1.0,"props":"{}"}""")
    // unreachable JDBC target, but a registered driver scheme (derby URL
    // with no create → connect fails): bootstrap gives up by THROWING,
    // before any stream starts — the readiness contract (L1)
    val cfg = LtssConfig(dbUrl = "jdbc:derby:memory:absent_db_no_create")
    assertThrows[java.sql.SQLException] {
      StreamingIngest.start(StreamingIngest.readJsonEvents(spark, in), cfg, "", ckpt)
    }
  }

  test("locationToWkt renders the struct as the reference's WKT wire format (models.py:61)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, struct, lit, when}
    val df = Seq((1, Some((11.97, 57.7))), (2, None)).toDF("id", "raw")
      .withColumn("location",
        when(col("raw").isNotNull,
          struct(col("raw._1").as("lon"), col("raw._2").as("lat"))))
      .drop("raw")
    val out = LtssSink.locationToWkt(df).orderBy("id")
      .select("location").as[String].collect().toSeq
    assert(out == Seq("SRID=4326;POINT(11.97 57.7)", null))
    // string/absent location columns pass through untouched
    assert(LtssSink.locationToWkt(df.drop("location")).columns.toSeq == Seq("id"))
  }

  test("stream drops rows with non-JSON attributes, keeps the rest (P4, __init__.py:212-216)") {
    val in = tmp("ltss-in3"); val out = tmp("ltss-out3"); val ckpt = tmp("ltss-ckpt3")
    Files.writeString(java.nio.file.Paths.get(in, "b1.json"),
      """{"event_id":1,"ts":"2024-01-01T00:00:00Z","user_id":1,"event_type":"a","value":1.0,"props":"{\"k\": 1}"}
        |{"event_id":2,"ts":"2024-01-01T00:00:01Z","user_id":2,"event_type":"a","value":2.0,"props":"not json"}
        |{"event_id":3,"ts":"2024-01-01T00:00:02Z","user_id":3,"event_type":"a","value":3.0,"props":"{\"k\": "}
        |""".stripMargin)
    val q = StreamingIngest.start(
      StreamingIngest.readJsonEvents(spark, in), LtssConfig(enableLocation = false), out, ckpt)
    StreamingIngest.drainAndStop(q)
    val stored = spark.read.parquet(out)
    assert(stored.select("entity_id").as[String](org.apache.spark.sql.Encoders.STRING)
      .collect().toSeq == Seq("a.1"))
  }

  /** One JSON file in a fresh source directory, drained through
    * [[StreamingIngest.start]] into a fresh parquet layout; the query's
    * progress reports with input, and the layout path. */
  private def ingestOnce(lines: String, cfg: LtssConfig)
      : (Seq[org.apache.spark.sql.streaming.StreamingQueryProgress], String) = {
    val in = tmp("ltss-in-obs"); val out = tmp("ltss-out-obs"); val ckpt = tmp("ltss-ckpt-obs")
    Files.writeString(java.nio.file.Paths.get(in, "b1.json"), lines)
    val q = StreamingIngest.start(StreamingIngest.readJsonEvents(spark, in), cfg, out, ckpt)
    StreamingIngest.drainAndStop(q)
    (q.recentProgress.toSeq.filter(_.numInputRows > 0), out)
  }

  test("observed drop counts equal the rows each reason removes (S2, F2, P4)") {
    import graft.operators.Transform
    // two invalid rows (null value, null event_type), one excluded
    // entity, two non-JSON attributes, one row failing both S2 and P4
    // (counted against S2, the first reason it fails), two kept rows, and
    // one whose attributes are valid JSON only once the projection has
    // popped an invalid latitude (NaN), as the reference encodes them
    val lines =
      """{"event_id":1,"ts":"2024-01-01T00:00:00Z","user_id":1,"event_type":"a","value":1.0,"props":"{\"k\": 1}"}
        |{"event_id":2,"ts":"2024-01-01T00:00:01Z","user_id":2,"event_type":"a","value":null,"props":"{}"}
        |{"event_id":3,"ts":"2024-01-01T00:00:02Z","user_id":3,"value":3.0,"props":"{}"}
        |{"event_id":4,"ts":"2024-01-01T00:00:03Z","user_id":4,"event_type":"noise","value":4.0,"props":"{}"}
        |{"event_id":5,"ts":"2024-01-01T00:00:04Z","user_id":5,"event_type":"a","value":5.0,"props":"not json"}
        |{"event_id":6,"ts":"2024-01-01T00:00:05Z","user_id":6,"event_type":"a","value":6.0,"props":"{\"k\": "}
        |{"event_id":7,"ts":"2024-01-01T00:00:06Z","user_id":7,"event_type":"a","value":null,"props":"not json"}
        |{"event_id":8,"ts":"2024-01-01T00:00:07Z","user_id":8,"event_type":"a","value":8.0,"props":null}
        |{"event_id":9,"ts":"2024-01-01T00:00:08Z","user_id":9,"event_type":"a","value":9.0,"props":"{\"latitude\": NaN, \"k\": 2}"}
        |""".stripMargin
    for (loc <- Seq(false, true)) {
      val cfg = LtssConfig(exclude = FilterSpec(domains = Seq("noise")), enableLocation = loc)
      val (progress, out) = ingestOnce(lines, cfg)
      assert(progress.size == 1)
      val m = progress.head.observedMetrics.get(Transform.ObservedName)
      assert(m != null, s"no ${Transform.ObservedName} in ${progress.head.observedMetrics}")
      def n(f: String) = m.getAs[Long](f)
      // the rows each filter removes, counted on the batch path
      val events = spark.read.schema(graft.schema.LtssSchema.eventSchema)
        .json(spark.createDataset(lines.split("\n").toSeq)(org.apache.spark.sql.Encoders.STRING))
      val afterS2 = Transform.eventsToLtss(events, LtssConfig(enableLocation = loc)).count()
      val afterF2 = Transform.eventsToLtss(events, cfg)
      val afterP4 = afterF2.filter(Transform.validJsonAttrs(col("attributes"))).count()
      val stored = spark.read.parquet(out).count()
      assert(n("rows_in") == events.count())
      assert(n("dropped_validity") == events.count() - afterS2)
      assert(n("dropped_entity_filter") == afterS2 - afterF2.count())
      assert(n("dropped_invalid_json") == afterF2.count() - afterP4)
      assert(n("rows_out") == stored && stored == afterP4)
      val names = Seq("rows_in", "dropped_validity", "dropped_entity_filter",
        "dropped_invalid_json", "rows_out")
      assert(m.schema.fieldNames.toSeq == names)
      assert(names.map(n) == (if (loc) Seq(9L, 3L, 1L, 2L, 3L) else Seq(9L, 3L, 1L, 3L, 2L)))
    }
  }

  test("drop log: the first trigger's invalid-JSON drops log one WARN map message") {
    import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    import org.apache.logging.log4j.message.StringMapMessage
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import StreamingQueryListener._
    val messages = new java.util.concurrent.ConcurrentLinkedQueue[StringMapMessage]()
    val capture = new AbstractAppender("drop-log-capture", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = e.getMessage match {
        case m: StringMapMessage => messages.add(m)
        case _ =>
      }
    }
    capture.start()
    val logger = org.apache.logging.log4j.LogManager
      .getLogger("graft.streaming.StreamingIngest").asInstanceOf[CoreLogger]
    // the listener bus delivers events in order, to each listener in the
    // order it was added: once this one has seen the query end, the drop
    // log has seen every progress report before it
    val ended = java.util.concurrent.ConcurrentHashMap.newKeySet[java.util.UUID]()
    val watch = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ended.add(e.id)
    }
    val in = tmp("ltss-in-droplog"); val out = tmp("ltss-out-droplog"); val ckpt = tmp("ltss-ckpt-droplog")
    Files.writeString(java.nio.file.Paths.get(in, "b1.json"),
      """{"event_id":1,"ts":"2024-01-01T00:00:00Z","user_id":1,"event_type":"a","value":1.0,"props":"{}"}
        |{"event_id":2,"ts":"2024-01-01T00:00:01Z","user_id":2,"event_type":"a","value":2.0,"props":"nope"}
        |{"event_id":3,"ts":"2024-01-01T00:00:02Z","user_id":3,"event_type":"a","value":3.0,"props":"{\"k\": "}
        |""".stripMargin)
    logger.addAppender(capture)
    spark.streams.addListener(watch)
    val q =
      try {
        val q = StreamingIngest.start(StreamingIngest.readJsonEvents(spark, in),
          LtssConfig(enableLocation = false), out, ckpt)
        StreamingIngest.drainAndStop(q)
        val deadline = System.nanoTime() + 30000000000L
        while (!ended.contains(q.id) && System.nanoTime() < deadline) Thread.sleep(20)
        assert(ended.contains(q.id), "the query's end never reached the listeners")
        q
      } finally {
        spark.streams.removeListener(watch)
        logger.removeAppender(capture)
      }
    val mine = messages.toArray(Array.empty[StringMapMessage]).toSeq
      .filter(m => m.get("query") == q.name)
    assert(mine.map(m => (m.get("event"), m.get("batch"), m.get("dropped_invalid_json"),
      m.get("rows_in"), m.get("rows_out"))) == Seq(("dropped_invalid_json", "0", "2", "3", "1")),
      s"messages: $mine")
  }

  test("a parquet trigger is one pass: no cache-building job, no separate count job") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val marker = s"after-trigger-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerJobStart]()
    @volatile var markerSeen = false
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val props = Option(js.properties)
        if (props.exists(_.getProperty("streaming.sql.batchId") == "0")) jobs.add(js)
        if (props.exists(_.getProperty("spark.jobGroup.id") == marker)) markerSeen = true
      }
    }
    sc.addSparkListener(listener)
    val (progress, _) =
      try {
        val r = ingestOnce(
          """{"event_id":1,"ts":"2024-01-01T00:00:00Z","user_id":1,"event_type":"a","value":1.0,"props":"{}"}
            |{"event_id":2,"ts":"2024-02-15T00:00:00Z","user_id":2,"event_type":"a","value":2.0,"props":"nope"}
            |""".stripMargin, LtssConfig(enableLocation = false))
        // listener events arrive in order: once a job run after the
        // query is seen, every job of the trigger has been
        sc.setJobGroup(marker, marker)
        try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
        val deadline = System.nanoTime() + 30000000000L
        while (!markerSeen && System.nanoTime() < deadline) Thread.sleep(20)
        assert(markerSeen, "the listener never saw the marker job")
        r
      } finally sc.removeSparkListener(listener)
    assert(progress.map(_.batchId) == Seq(0L))
    // a streaming query runs its jobs in a job group named by its run id
    val started = jobs.toArray(Array.empty[SparkListenerJobStart]).toSeq
      .filter(_.properties.getProperty("spark.jobGroup.id") == progress.head.runId.toString)
    assert(started.nonEmpty)
    val cached = started.filter(_.stageInfos.exists(_.rddInfos.exists(_.storageLevel.isValid)))
    assert(cached.isEmpty, s"jobs over a persisted batch: ${cached.map(_.jobId)}")
    val sites = started.map(_.properties.getProperty("callSite.short", ""))
    assert(!sites.exists(_.startsWith("count at")), s"a count job ran: $sites")
    // the write's shuffle-map job and the write job
    assert(started.size <= 2, s"${started.size} jobs in one trigger: $sites")
  }

  test("layout marker: equal appends leave it alone; a reader never sees a partial marker") {
    import spark.implicits._
    val out = tmp("ltss-out-marker")
    val rows = Seq((java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "a.1", "1.00", "{}"))
      .toDF("time", "entity_id", "state", "attributes")
    val cfg = LtssConfig(enableLocation = false)
    LtssSink.writeParquet(rows, out, cfg)
    // a rewrite makes a new file with a current mtime, so a marker dated
    // in the past stays dated there only if no append rewrote it
    val marker = java.nio.file.Paths.get(out, "_ltss_layout.json")
    val past = java.nio.file.attribute.FileTime.fromMillis(1000000L)
    Files.setLastModifiedTime(marker, past)
    val m0 = LtssSink.readLayoutMarker(spark, out).get
    @volatile var stop = false
    var reads, failed = 0
    var firstFailure: Throwable = null
    val reader = new Thread(() =>
      while (!stop) {
        reads += 1
        try {
          if (LtssSink.readLayoutMarker(spark, out).isEmpty)
            throw new AssertionError("marker missing")
        } catch {
          case t: Throwable =>
            failed += 1
            if (firstFailure == null) firstFailure = t
        }
      })
    reader.start()
    try {
      for (_ <- 1 to 5) LtssSink.writeParquet(rows, out, cfg, mode = SaveMode.Append)
      assert(Files.getLastModifiedTime(marker) == past, "an append with an equal marker rewrote it")
      for (g <- 1 to 200)
        LtssSink.writeLayoutMarker(spark, out, m0.copy(generation = g.toLong))
    } finally { stop = true; reader.join() }
    // join() publishes the reader's counts to this thread
    assert(failed == 0, s"of $reads reads during rewrites; first: $firstFailure")
    assert(reads > 0)
    assert(LtssSink.readLayoutMarker(spark, out).get == m0.copy(generation = 200L))
    // no temp or checksum files left next to it
    assert(new java.io.File(out).list().filter(_.contains("_ltss_layout")).toSeq
      == Seq("_ltss_layout.json"))
  }
}
