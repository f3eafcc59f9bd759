package graft

import graft.operators.{Dedup, Similarity}

/** Plan-shape assertions for the scale-sensitive operators: these pin the
  * physical plan properties the 100 TB design relies on, not just result
  * correctness. */
class PlanSpec extends SparkSpec {

  test("fanOut is gated: no repartition when the scan already has enough partitions") {
    val wide = spark.range(0, 100, 1, 8).toDF("id")
    assert(Tables.fanOut(wide) eq wide) // same object — no exchange added
    val narrow = spark.range(0, 100, 1, 1).toDF("id")
    assert(Tables.fanOut(narrow).rdd.getNumPartitions ==
      spark.conf.get("spark.sql.shuffle.partitions").toInt)
  }

  test("minhash LSH self-join reads the persisted band frame on both sides") {
    val df = Dedup.minhashLsh.run(spark, "/root/testdata/sf0.001")
    df.count() // materialize the cache + finalize AQE
    val plan = df.queryExecution.executedPlan.toString
    val cacheScans =
      "InMemoryTableScan".r.findAllIn(plan).size + "TableCacheQueryStage".r.findAllIn(plan).size
    assert(cacheScans >= 2,
      s"expected both join sides to scan the cached band frame; plan:\n$plan")
    // the expensive signature aggregate must not appear in the join plan
    // at all — it ran once, inside the cache materialization
    assert(!plan.contains("HashAggregate(keys=[doc_id"),
      s"signature aggregate leaked past the cache; plan:\n$plan")
  }

  test("chunkScan partition-prunes the chunked layout (hypertable chunk exclusion)") {
    import spark.implicits._
    import graft.sources.LtssSink
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val out = java.nio.file.Files.createTempDirectory("graft-chunks").toString
    val df = Seq(
      (ts("2024-01-05 00:00:00"), "a.1", "1", "{}"),
      (ts("2024-03-20 00:00:00"), "a.1", "2", "{}"),
      (ts("2024-06-25 00:00:00"), "a.1", "3", "{}"))
      .toDF("time", "entity_id", "state", "attributes")
    LtssSink.writeParquet(df, out)
    val scan = LtssSink.chunkScan(spark, out,
      ts("2024-01-01 00:00:00"), ts("2024-01-31 00:00:00"))
    assert(scan.collect().map(_.getAs[String]("state")).toSeq == Seq("1"))
    val plan = scan.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("chunk"),
      s"expected a chunk partition filter on the layout scan; plan:\n$plan")
  }

  test("dropChunks removes only expired chunk partitions; compactChunk merges files losslessly") {
    import spark.implicits._
    import graft.sources.LtssSink
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val out = java.nio.file.Files.createTempDirectory("graft-retention").toString
    val df = Seq(
      (ts("2024-01-05 00:00:00"), "a.1", "1", "{}"),
      (ts("2024-03-20 00:00:00"), "a.1", "2", "{}"),
      (ts("2024-06-25 00:00:00"), "b.1", "3", "{}"))
      .toDF("time", "entity_id", "state", "attributes")
    LtssSink.writeParquet(df, out)
    // write a second increment into the same newest chunk → multiple files
    LtssSink.writeParquet(df.filter($"state" === "3"), out)
    val chunks = new java.io.File(out).listFiles().filter(_.getName.startsWith("chunk=")).map(_.getName)
    assert(chunks.length == 3)

    // retention: drop chunks ENTIRELY before the cutoff (the chunk
    // containing the cutoff survives, like TimescaleDB drop_chunks)
    val dropped = LtssSink.dropChunks(spark, out, ts("2024-05-01 00:00:00"))
    assert(dropped.length == 2)
    assert(spark.read.parquet(out).select("state").as[String].collect().sorted.toSeq == Seq("3", "3"))

    // compaction: many files → one, same rows
    val newest = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("chunk=")).head.getName.stripPrefix("chunk=")
    val before = new java.io.File(s"$out/chunk=$newest").listFiles().count(_.getName.endsWith(".parquet"))
    assert(before >= 2)
    LtssSink.compactChunk(spark, out, newest)
    val after = new java.io.File(s"$out/chunk=$newest").listFiles().count(_.getName.endsWith(".parquet"))
    assert(after == 1)
    assert(spark.read.parquet(out).count() == 2)
  }

  test("ltss_chunk_stats is timezone-independent: misplaced=0 on a non-UTC session too") {
    // the audit compares the PHYSICAL chunk value (written with
    // TZ-independent epoch arithmetic) against a recomputed expectation;
    // a to_date/cast rendering in the session zone would report every
    // row misplaced and shift chunk_start keys the moment the session
    // isn't UTC (the suite's pinned zone — which is why this must be
    // pinned explicitly)
    val sfDir = "/root/testdata/sf0.001"
    val run = graft.SparkEntry.queries("ltss_chunk_stats")
    def snapshot() = run(spark, sfDir)
      .select("chunk_start", "n_rows", "misplaced")
      .collect().map(r => (r.getTimestamp(0).getTime, r.getLong(1), r.getLong(2)))
      .toSeq
    val utc = snapshot()
    assert(utc.nonEmpty && utc.forall(_._3 == 0L), s"bad UTC baseline: $utc")
    val was = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try {
      val nyc = snapshot()
      assert(nyc.forall(_._3 == 0L), s"spurious misplaced rows off-UTC: $nyc")
      // chunk_start keys are epoch-pinned instants (UTC midnights), not
      // session-zone renderings — byte-identical across sessions
      assert(nyc == utc, s"chunk audit shifted off-UTC:\n utc=$utc\n nyc=$nyc")
    } finally spark.conf.set("spark.sql.session.timeZone", was)
  }

  test("compactChunkMeasured: the compress-plan (segmentby, orderby) sort shrinks parquet bytes") {
    import spark.implicits._
    import graft.sources.LtssSink
    val out = java.nio.file.Files.createTempDirectory("graft-compact-measured").toString
    // ONE chunk whose states form LONG per-entity runs on the time axis
    // (runs of 64 — exactly what ltss_compress_plan's rle_ratio flags as
    // recompressible) but ARRIVE time-interleaved across 4 entities, the
    // stream order that leaves adjacent rows alternating entities
    val base = java.sql.Timestamp.valueOf("2024-01-05 00:00:00").getTime
    val rows = for {
      i <- 0 until 1024
      e <- Seq("sensor.1", "sensor.2", "sensor.3", "sensor.4")
    } yield (new java.sql.Timestamp(base + i * 60000L), e, s"$e-v${i / 64}", "{}")
    rows.grouped(1024).foreach { inc => // several increments → many files
      LtssSink.writeParquet(inc.toDF("time", "entity_id", "state", "attributes"), out)
    }
    val chunk = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("chunk=")).head.getName.stripPrefix("chunk=")
    val checksumBefore = spark.read.parquet(out)
      .selectExpr("sum(crc32(concat_ws('|', time, entity_id, state)))")
      .head().getLong(0)
    // control: compact in plain TIME order — single file, entities still
    // interleaved, so value runs stay length ~1
    val timeOrdered = LtssSink.compactChunkMeasured(spark, out, chunk,
      sortCols = Seq("time"))
    assert(timeOrdered.files_before >= 2 && timeOrdered.files_after == 1, timeOrdered)
    // the recommendation: segmentby entity, orderby time — same rows,
    // same single file; the ONLY difference is the sort, so the byte
    // delta is pure recompression (RLE/dictionary pages over the runs)
    val planOrdered = LtssSink.compactChunkMeasured(spark, out, chunk,
      sortCols = Seq("entity_id", "time"))
    assert(planOrdered.files_after == 1, planOrdered)
    assert(planOrdered.bytes_after < timeOrdered.bytes_after,
      s"recommended order did not shrink the chunk: $timeOrdered vs $planOrdered")
    assert(planOrdered.ratio > 1.0, planOrdered)
    // lossless: same rows after both rewrites
    val after = spark.read.parquet(out)
    assert(after.count() == rows.length)
    assert(after.selectExpr("sum(crc32(concat_ws('|', time, entity_id, state)))")
      .head().getLong(0) == checksumBefore)
  }

  test("arrival-order increments: compaction heals the many-small-files ingest residue, measured") {
    // The ProbeCompact scenario as an assertion (VERDICT r12 #8): a
    // streaming ingest appends consecutive TIME SLICES, so every chunk
    // accumulates one small file set per micro-batch that overlapped it.
    // Measured compaction with the compress-plan sort must heal every
    // chunk to one file, shrink total bytes, and lose nothing.
    import spark.implicits._
    import graft.sources.LtssSink
    val out = java.nio.file.Files.createTempDirectory("graft-compact-arrival").toString
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val steps = 2880 // 60 days at 30-min cadence → 2 default 30-day chunks
    val rows = for {
      i <- 0 until steps
      e <- Seq("sensor.1", "sensor.2", "sensor.3", "sensor.4")
    } yield (new java.sql.Timestamp(base + i * 1800000L), e, s"$e-v${i / 64}", "{}")
    // 8 arrival-order increments → 4 micro-batch appends per chunk
    rows.grouped(rows.length / 8).foreach { inc =>
      LtssSink.writeParquet(inc.toDF("time", "entity_id", "state", "attributes"), out)
    }
    val chunks = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("chunk=")).map(_.getName.stripPrefix("chunk=")).sorted
    // chunk boundaries are epoch-aligned (not fixture-aligned), so 60
    // days lands in 2–3 default chunks depending on phase
    assert(chunks.length >= 2, s"fixture must span several chunks: ${chunks.toSeq}")
    val checksumBefore = spark.read.parquet(out)
      .selectExpr("sum(crc32(concat_ws('|', time, entity_id, state)))")
      .head().getLong(0)
    var tb = 0L; var ta = 0L
    for (c <- chunks) {
      val filesBefore = new java.io.File(s"$out/chunk=$c").listFiles()
        .count(_.getName.endsWith(".parquet"))
      assert(filesBefore >= 2,
        s"chunk $c should hold several increments' files, got $filesBefore")
      val a = LtssSink.compactChunkMeasured(spark, out, c,
        sortCols = Seq("entity_id", "time"))
      assert(a.files_before == filesBefore && a.files_after == 1, a)
      assert(a.bytes_after > 0 && !a.ratio.isNaN, a)
      tb += a.bytes_before; ta += a.bytes_after
    }
    assert(ta < tb,
      s"plan-ordered rewrite must shrink the multi-file ingest residue: $tb -> $ta")
    val after = spark.read.parquet(out)
    assert(after.count() == rows.length)
    assert(after.selectExpr("sum(crc32(concat_ws('|', time, entity_id, state)))")
      .head().getLong(0) == checksumBefore)
    // the audit's division guard: a parquet-less result reports NaN, not
    // Infinity (which would poison JSON lifecycle logs)
    assert(LtssSink.CompactionAudit("c", Seq("time"), 1L, 10L, 0L, 0L).ratio.isNaN)
  }

  test("retention floors to the MARKER's interval and refuses a migration-locked layout") {
    import spark.implicits._
    import graft.sources.LtssSink
    import graft.config.LtssConfig
    def ts(x: String) = java.sql.Timestamp.valueOf(x)
    val out = java.nio.file.Files.createTempDirectory("graft-retention-marker").toString
    // default 30-day layout: chunk 2024-01-18 covers [01-18, 02-17) and
    // HOLDS a row inside the retention window (02-10); an old chunk is
    // fully expired
    LtssSink.writeParquet(Seq(
      (ts("2023-11-05 00:00:00"), "a.1", "old", "{}"),
      (ts("2024-01-20 00:00:00"), "a.1", "1", "{}"),
      (ts("2024-02-10 00:00:00"), "a.1", "keep", "{}"))
      .toDF("time", "entity_id", "state", "attributes"), out)
    // the caller passes a MISMATCHED 7-day cfg: its finer floor lands at
    // 2024-02-01, lexically above the 30-day chunk's 2024-01-18 name —
    // an unguarded drop would delete the chunk with the in-window row.
    // The marker's recorded 30-day interval must win.
    val dropped = LtssSink.dropChunks(spark, out, ts("2024-02-01 00:00:00"),
      LtssConfig(chunkTimeIntervalUs = 7L * 86400000000L))
    assert(dropped.forall(_ < "2024-01-18"), s"dropped in-window chunk: $dropped")
    val states = spark.read.parquet(out).select("state").as[String].collect().sorted.toSeq
    assert(states == Seq("1", "keep"),
      s"retention must keep the chunk holding in-window rows: $states")
    // migration lock: retention mid-migration could delete a live chunk
    // whose hidden copy the recovery would later RESURRECT — refuse
    val m = LtssSink.readLayoutMarker(spark, out).get
    LtssSink.writeLayoutMarker(spark, out,
      m.copy(generation = m.generation + 1, migrating = Some("variant")))
    val e = intercept[IllegalStateException](
      LtssSink.dropChunks(spark, out, ts("2024-03-01 00:00:00")))
    assert(e.getMessage.contains("migrat"), e.getMessage)
    LtssSink.writeLayoutMarker(spark, out, m) // unlock for other tests
  }

  test("attributes-encoding migration: json layout -> variant in place, locked, idempotent, crash-proof") {
    import spark.implicits._
    import graft.sources.LtssSink
    def ts(x: String) = java.sql.Timestamp.valueOf(x)
    val out = java.nio.file.Files.createTempDirectory("graft-enc-migrate").toString
    // a json-encoded layout spanning two chunks, attributes extractable
    val rows = Seq(
      (ts("2024-01-05 00:00:00"), "a.1", "1", """{"k": 1}"""),
      (ts("2024-01-06 00:00:00"), "a.1", "2", """{"k": 2}"""),
      (ts("2024-03-20 00:00:00"), "b.1", "3", """{"k": 3}"""))
    LtssSink.writeParquet(rows.toDF("time", "entity_id", "state", "attributes"), out)
    assert(LtssSink.readLayoutMarker(spark, out).get.attributesEncoding == "json")
    val migrated = LtssSink.migrateAttributesEncoding(spark, out)
    assert(migrated.size == 2, s"both chunks must rewrite: $migrated")
    val m = LtssSink.readLayoutMarker(spark, out).get
    assert(m.attributesEncoding == "variant" && m.migrating.isEmpty, m)
    // physical type flipped; variant extraction works; values survived
    val back = spark.read.parquet(out)
    assert(back.schema("attributes").dataType ==
      org.apache.spark.sql.types.VariantType)
    val ks = back.selectExpr("entity_id", "variant_get(attributes, '$.k', 'int') AS k")
      .as[(String, Int)].collect().sorted.toSeq
    assert(ks == Seq(("a.1", 1), ("a.1", 2), ("b.1", 3)), ks)
    // idempotent: nothing left to rewrite
    assert(LtssSink.migrateAttributesEncoding(spark, out).isEmpty)
    // the migrated layout accepts variant appends and refuses json ones
    LtssSink.writeParquet(
      Seq((ts("2024-03-21 00:00:00"), "c.1", "4", """{"k": 4}"""))
        .toDF("time", "entity_id", "state", "attributes"),
      out, attributesEncoding = "variant")
    assert(spark.read.parquet(out).count() == 4)
    val eJson = intercept[IllegalStateException](LtssSink.writeParquet(
      rows.toDF("time", "entity_id", "state", "attributes"), out))
    assert(eJson.getMessage.contains("migrateAttributesEncoding") ||
      eJson.getMessage.contains("re-encode"), eJson.getMessage)
  }

  test("encoding migration lock: readers/appenders/compaction refuse mid-migration; re-run completes") {
    import spark.implicits._
    import graft.sources.LtssSink
    def ts(x: String) = java.sql.Timestamp.valueOf(x)
    val out = java.nio.file.Files.createTempDirectory("graft-enc-crash").toString
    LtssSink.writeParquet(Seq(
      (ts("2024-01-05 00:00:00"), "a.1", "1", """{"k": 1}"""),
      (ts("2024-03-20 00:00:00"), "b.1", "3", """{"k": 3}"""))
      .toDF("time", "entity_id", "state", "attributes"), out)
    // simulate a crash mid-migration: lock stamped, one chunk already
    // variant, the other still json, one chunk dir stranded RETIRED
    val m0 = LtssSink.readLayoutMarker(spark, out).get
    LtssSink.writeLayoutMarker(spark, out,
      m0.copy(generation = m0.generation + 1, migrating = Some("variant")))
    val chunkDirs = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("chunk=")).map(_.getName).sorted
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    fs.rename(new org.apache.hadoop.fs.Path(s"$out/${chunkDirs.head}"),
      new org.apache.hadoop.fs.Path(
        s"$out/.migrate_retired_${chunkDirs.head.replace("=", "_")}"))
    // every surface refuses the locked layout, naming the fix
    val eScan = intercept[IllegalStateException](LtssSink.chunkScan(spark, out,
      ts("2024-01-01 00:00:00"), ts("2024-12-31 00:00:00")))
    assert(eScan.getMessage.contains("migrateAttributesEncoding"), eScan.getMessage)
    val eApp = intercept[IllegalStateException](LtssSink.writeParquet(
      Seq((ts("2024-01-07 00:00:00"), "a.1", "9", "{}"))
        .toDF("time", "entity_id", "state", "attributes"), out))
    assert(eApp.getMessage.contains("migrat"), eApp.getMessage)
    val eCmp = intercept[IllegalStateException](LtssSink.compactChunk(spark, out,
      chunkDirs.last.stripPrefix("chunk=")))
    assert(eCmp.getMessage.contains("migrat"), eCmp.getMessage)
    // re-running the migration IS the recovery: restores the stranded
    // chunk, rewrites both, commits, unlocks
    val done = LtssSink.migrateAttributesEncoding(spark, out)
    assert(done.size == 2, s"recovery must restore + rewrite both chunks: $done")
    val m1 = LtssSink.readLayoutMarker(spark, out).get
    assert(m1.attributesEncoding == "variant" && m1.migrating.isEmpty)
    assert(spark.read.parquet(out).count() == 2)
    assert(LtssSink.chunkScan(spark, out,
      ts("2024-01-01 00:00:00"), ts("2024-12-31 00:00:00")).count() == 2)
  }

  test("compaction crash between renames: readers refuse via the generation stamp; recovery repairs") {
    import spark.implicits._
    import graft.sources.LtssSink
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val out = java.nio.file.Files.createTempDirectory("graft-compact-crash").toString
    val df = Seq(
      (ts("2024-01-05 00:00:00"), "a.1", "1", "{}"),
      (ts("2024-01-06 00:00:00"), "b.1", "2", "{}"))
      .toDF("time", "entity_id", "state", "attributes")
    LtssSink.writeParquet(df, out)
    val chunk = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("chunk=")).head.getName.stripPrefix("chunk=")
    val live = new java.io.File(s"$out/chunk=$chunk")
    val staged = new java.io.File(s"$out/.compact_staged_chunk_$chunk")
    val retired = new java.io.File(s"$out/.compact_retired_chunk_$chunk")
    def stamp(): LtssSink.LayoutMarker = {
      val m = LtssSink.readLayoutMarker(spark, out).get
      LtssSink.writeLayoutMarker(spark, out,
        m.copy(generation = m.generation + 1, compacting = Some(chunk)))
      m
    }

    // CRASH POINT A: between the two renames (staged complete, live gone)
    val m0 = stamp()
    spark.read.parquet(live.toString).repartition(1)
      .write.mode("overwrite").parquet(staged.toString)
    assert(live.renameTo(retired))
    val e = intercept[IllegalStateException] {
      LtssSink.chunkScan(spark, out, ts("2024-01-01 00:00:00"), ts("2024-12-31 00:00:00"))
    }
    assert(e.getMessage.contains("unfinished compaction"))
    intercept[IllegalStateException] { LtssSink.writeParquet(df, out) } // appends refuse too
    intercept[IllegalStateException] { LtssSink.compactChunk(spark, out, chunk) }
    assert(LtssSink.recoverCompaction(spark, out).contains("completed_swap"))
    val m1 = LtssSink.readLayoutMarker(spark, out).get
    assert(m1.compacting.isEmpty && m1.generation == m0.generation + 1)
    assert(LtssSink.chunkScan(spark, out, ts("2024-01-01 00:00:00"), ts("2024-12-31 00:00:00"))
      .select("state").as[String].collect().sorted.toSeq == Seq("1", "2"))

    // CRASH POINT B: before the staged copy completed (no _SUCCESS)
    stamp()
    staged.mkdirs() // incomplete staging — no _SUCCESS
    assert(live.renameTo(retired))
    assert(LtssSink.recoverCompaction(spark, out).contains("restored_original"))
    assert(spark.read.parquet(out).count() == 2)

    // CRASH POINT C: before any rename (live intact, staged leftover)
    stamp()
    staged.mkdirs()
    assert(LtssSink.recoverCompaction(spark, out).contains("discarded_leftovers"))
    assert(!staged.exists())
    assert(LtssSink.recoverCompaction(spark, out).isEmpty) // idempotent no-op
    assert(spark.read.parquet(out).count() == 2)
  }

  test("layout marker guards appends: changed chunk interval or attr keys fail loudly") {
    import spark.implicits._
    import graft.sources.LtssSink
    import graft.config.LtssConfig
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val out = java.nio.file.Files.createTempDirectory("graft-marker").toString
    val df = Seq(
      (ts("2024-01-05 00:00:00"), "a.1", "1", """{"k": 7}"""),
      (ts("2024-03-20 00:00:00"), "a.1", "2", """{"k": 8}"""))
      .toDF("time", "entity_id", "state", "attributes")
    LtssSink.writeParquet(df, out) // default 30-day interval
    assert(LtssSink.readLayoutMarker(spark, out).get.chunkTimeIntervalUs ==
      LtssConfig.DefaultChunkUs)
    // same interval appends fine
    LtssSink.writeParquet(df.filter($"state" === "2"), out)
    // different interval refused — mixed widths would break chunk exclusion
    val narrow = LtssConfig(chunkTimeIntervalUs = 86400000000L)
    val e = intercept[IllegalStateException] { LtssSink.writeParquet(df, out, narrow) }
    assert(e.getMessage.contains("chunk_time_interval"))
    // different materialized attr keys refused
    intercept[IllegalStateException] {
      LtssSink.writeParquet(df, out, attrKeys = Seq("k" -> "long"))
    }
    // different attributes encoding refused — mixed physical types in
    // one column break every reader; and the recorded encoding
    // round-trips through the marker
    assert(LtssSink.readLayoutMarker(spark, out).get.attributesEncoding == "json")
    val enc = intercept[IllegalStateException] {
      LtssSink.writeParquet(df, out, attributesEncoding = "variant")
    }
    assert(enc.getMessage.contains("encodes attributes"))
    // a scan under the WRONG caller cfg still prunes with the recorded
    // interval: the Jan chunk row is found even though the caller's
    // 1-day-interval bounds would name different chunk values
    val scanned = LtssSink.chunkScan(spark, out,
      ts("2024-01-01 00:00:00"), ts("2024-01-31 00:00:00"), narrow)
    assert(scanned.collect().map(_.getAs[String]("state")).toSeq == Seq("1"))
    // Overwrite rechunks and rewrites the marker
    LtssSink.writeParquet(df, out, narrow, org.apache.spark.sql.SaveMode.Overwrite)
    assert(LtssSink.readLayoutMarker(spark, out).get.chunkTimeIntervalUs == 86400000000L)
  }

  test("appending to a legacy marker-less layout does not stamp the appender's interval") {
    import spark.implicits._
    import graft.sources.LtssSink
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val out = java.nio.file.Files.createTempDirectory("graft-legacy").toString
    val df = Seq((ts("2024-01-05 00:00:00"), "a.1", "1", "{}"))
      .toDF("time", "entity_id", "state", "attributes")
    // simulate a pre-marker layout: write, then delete the marker
    LtssSink.writeParquet(df, out)
    new java.io.File(out, "_ltss_layout.json").delete()
    // append must succeed but must NOT record this writer's interval as
    // authoritative — the legacy chunks' true widths are unknown
    LtssSink.writeParquet(df, out)
    assert(LtssSink.readLayoutMarker(spark, out).isEmpty)
    assert(spark.read.parquet(out).count() == 2)
    // an Overwrite rebuild re-establishes the marker
    LtssSink.writeParquet(df, out, mode = org.apache.spark.sql.SaveMode.Overwrite)
    assert(LtssSink.readLayoutMarker(spark, out).nonEmpty)
  }

  test("ltss_json_attr_layout pushes the attr_k predicate into the parquet scan") {
    val df = graft.operators.Queries.jsonAttrLayout.run(spark, "/root/testdata/sf0.001")
    assert(df.count() > 0)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("attr_k"),
      s"expected the attr_k predicate in PushedFilters; plan:\n$plan")
  }

  test("variant layout: variant_get rewrites INTO the scan — pruned path + pushed filter") {
    // the three-way attribute story: raw string re-parses JSON per
    // query; attrKeys commit keys at write and prune at the scan (test
    // above); VARIANT gets scan-native extraction WITHOUT the write-
    // time key commitment — Catalyst's PushVariantIntoScan rewrites
    // `variant_get(attributes, '$.k', 'long')` into a struct access the
    // scan materializes directly from the binary variant (ReadSchema
    // shows only the REQUESTED path, not the whole variant) and the
    // k >= 90 predicate lands in PushedFilters. Pin all of it so a
    // Spark upgrade or layout change that silently degrades variant
    // back to read-everything-then-parse fails here.
    val df = graft.operators.Queries.jsonAttrVariant.run(spark, "/root/testdata/sf0.001")
    assert(df.count() > 0)
    val plan = df.queryExecution.executedPlan.toString
    val layout = spark.read.parquet(
      graft.operators.Queries.ltssVariantLayoutPath(spark, "/root/testdata/sf0.001"))
    assert(layout.schema("attributes").dataType ==
      org.apache.spark.sql.types.VariantType,
      s"layout must store VariantType, got ${layout.schema("attributes").dataType}")
    assert(plan.contains("attributes:struct<0:bigint>"),
      s"scan must materialize ONLY the requested variant path; plan:\n$plan")
    assert(!plan.contains("attributes:variant"),
      s"a whole-variant read means the extraction did not push; plan:\n$plan")
    val pushed = "PushedFilters: \\[([^\\]]*)\\]".r
      .findFirstMatchIn(plan).map(_.group(1)).getOrElse("")
    assert(pushed.contains("GreaterThanOrEqual(attributes.`0`,90)"),
      s"variant path predicate must reach PushedFilters; pushed: [$pushed]")
  }

  test("filtered ANN pushes the metadata predicate into the embeddings scan") {
    // filtered top-k's whole point is the predicate running DURING the
    // search: vec_id >= 3 must reach the parquet scan as a pushed
    // filter (label % 2 is not sargable, but the range guard is — and
    // the modulo runs in the same codegen stage as the scan, never
    // after the crossJoin)
    val df = graft.operators.Similarity.filteredTopk.run(spark, "/root/testdata/sf0.001")
    assert(df.count() > 0)
    val plan = df.queryExecution.executedPlan.toString
    val pushed = "PushedFilters: \\[([^\\]]*)\\]".r
      .findAllMatchIn(plan).map(_.group(1)).mkString(";")
    assert(pushed.contains("GreaterThanOrEqual(vec_id,3)"),
      s"the filter guard must reach PushedFilters; pushed: [$pushed]")
  }

  test("filtered IVF probe: cid partition-pruned AND the label guard inside the scan") {
    val df = Similarity.ivfFiltered.run(spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cid"),
      s"expected cid partition pruning on the layout scan; plan:\n$plan")
    // the layout carries `label`, so the predicate must reach the scan
    // stage (pushed or scan-stage filter), never run after the join
    val scanSide = plan.linesIterator
      .filter(l => l.contains("graft_ivf") || l.contains("PushedFilters"))
      .mkString("\n")
    assert(plan.contains("label"),
      s"label must appear in the probed layout scan; plan:\n$scanSide")
  }

  test("polygon containment is a shuffle-free compiled scan — no join, no exchange") {
    val df = graft.operators.Queries.geoPolygon.run(spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Join") && !plan.contains("CartesianProduct"),
      s"the literal polygon must ride as a constant, not a join side; plan:\n$plan")
    // the only exchange allowed is the final presentation sort's range partitioning
    assert(!plan.contains("Exchange hashpartitioning"),
      s"point-in-polygon must not shuffle; plan:\n$plan")
  }

  test("core convoy meta-join plans as equi-joins — never a nested loop or cartesian") {
    // the meta-graph edge build is a self-join on (hr+1, member) and
    // the label attach an equi-join on the composite node key — at
    // fleet scale neither may degrade to a nested loop
    val df = graft.operators.Queries.geoConvoyGroupsCore
      .run(spark, "/root/testdata/sf0.001")
    df.count()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"core convoy leaked a non-equi join; plan:\n$plan")
  }

  test("range join plans as an equi-join on bucket keys — never a nested loop") {
    val df = graft.operators.Queries.rangeJoin.run(spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"interval predicate leaked into a nested-loop join; plan:\n$plan")
    assert(plan.contains("Join") && plan.contains("bucket"),
      s"expected a bucket equi-join; plan:\n$plan")
  }

  test("as-of join plans as one exchange + window — no join operator at all") {
    val df = graft.operators.Queries.asofJoin.run(spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"as-of should be the union+window shape; plan:\n$plan")
    assert(plan.contains("RunningWindowFunction") || plan.contains("Window"),
      s"expected a window operator; plan:\n$plan")
  }

  /** Forces the DISTRIBUTED fixpoint route of connectedComponents for
    * the tests that pin the LOOP's shape — the default cap routes
    * fixture-sized graphs to the single-task union-find
    * ([[Routes.Cc]]). */
  private def withCcDistributed[T](body: => T): T =
    Routes.withCaps(Routes.Cc -> -1L)(body)

  test("connected components: ONE job per iteration, convergence folded into propagation") {
    import spark.implicits._
    val aqeWas = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    // count DRIVER-ACTION jobs (stage callsite = the count/head action in
    // connectedComponents). Broadcast-exchange futures also surface as
    // jobs (stage callsite = withThreadLocalCaptured) — they are part of
    // the same pass, not a separate driver round-trip, so they don't
    // count against "one job per iteration".
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        if (js.stageInfos.exists(si => si.name.startsWith("head at") || si.name.startsWith("count at")))
          jobs.incrementAndGet()
        ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // a diameter-4 path (several rounds) plus a separate 2-cycle
      val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L)).toDF("a_id", "b_id")
      val (labels, iters) = withCcDistributed(Dedup.connectedComponents(edges))
      // listener events are async — wait for the count to settle
      val deadline = System.nanoTime() + 5000000000L
      var last = -1
      while (jobs.get() != last && System.nanoTime() < deadline) {
        last = jobs.get(); Thread.sleep(100)
      }
      // setup = 1 (edge checkpoint + count); loop = exactly one job per
      // iteration — the changed-count agg IS the propagation job
      assert(jobs.get() == 1 + iters,
        s"expected 1 setup + $iters iteration jobs, saw ${jobs.get()}")
      val out = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L, 10L -> 10L, 11L -> 10L))
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
    }
  }

  test("connected components: a 512-node chain converges in O(log n) iterations") {
    // VERDICT r7 #4: propagation alone needs O(diameter) rounds — a
    // duplicate chain made driver round-trips linear in chain length.
    // With the pointer-doubling jump the remaining depth halves each
    // round: ~log2(512) ≈ 9-10 iterations, and every node must still
    // label to the chain head.
    import spark.implicits._
    val aqeWas = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val edges = (1L until 512L).map(i => (i, i + 1)).toDF("a_id", "b_id")
      val (labels, iters) = withCcDistributed(Dedup.connectedComponents(edges))
      val out = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(out.size == 512 && out.values.forall(_ == 1L),
        s"chain must collapse to its head; distinct labels: ${out.values.toSet.take(5)}")
      assert(iters <= 12, s"pointer doubling must converge logarithmically, took $iters")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
  }

  test("connected components: the single-task route returns the distributed fixpoint's exact labels") {
    // r20 cap-and-route equality pin: component minima are unique, so
    // the union-find route (default cap) and the min-label-propagation
    // fixpoint (forced) must label identically — on a graph that mixes
    // a chain, a cycle, a star, duplicate edges and reversed pairs.
    import spark.implicits._
    val aqeWas = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val edges = ((1L until 40L).map(i => (i, i + 1)) ++      // chain
        Seq((100L, 101L), (101L, 102L), (102L, 100L)) ++       // cycle
        (1 to 8).map(i => (200L, 200L + i)) ++                 // star
        Seq((300L, 301L), (301L, 300L), (300L, 301L))          // dup + reversed
        ).toDF("a_id", "b_id")
      val (localLab, localIters) = Dedup.connectedComponents(edges)
      assert(localIters == 0, s"fixture must take the single-task route: $localIters")
      assert(localLab.queryExecution.optimizedPlan.stats.rowCount.isDefined,
        "single-task route must attach honest row-count stats")
      val local = localLab.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      val dist = withCcDistributed(Dedup.connectedComponents(edges))._1
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(local == dist, s"routes diverged:\n local=$local\n dist=$dist")
      assert(local.count(_._2 == 1L) == 40 && local.count(_._2 == 100L) == 3 &&
        local.count(_._2 == 200L) == 9 && local.count(_._2 == 300L) == 2,
        s"component minima wrong: $local")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
  }

  test("connected components: deep-graph planning stats stay bounded (no sizeInBytes compounding)") {
    // r19 (found by the folded-10× convoy probe melting the driver):
    // Dataset.localCheckpoint preserves the origin plan's CBO stats,
    // and the pointer-doubling round joins the frame with a projection
    // of ITSELF — sizeInBytes SQUARES per iteration (bit count doubles:
    // measured 11 → 2.4 million bits in 18 rounds), and planning then
    // pays megabit BigInteger products on the driver. GraftLineage
    // .truncate strips the origin stats at each truncation; the
    // converged labels must report their honest (tiny) size, never a
    // compounded product.
    import spark.implicits._
    val aqeWas = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val edges = (1L until 1024L).map(i => (i, i + 1)).toDF("a_id", "b_id")
      val (labels, iters) = withCcDistributed(Dedup.connectedComponents(edges))
      val bits = labels.queryExecution.optimizedPlan.stats.sizeInBytes.bitLength
      assert(bits <= 128,
        s"stats compounded through the loop: sizeInBytes is a $bits-bit " +
          s"number after $iters iterations — the stats strip is gone")
      val out = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(out.size == 1024 && out.values.forall(_ == 1L),
        s"chain must still collapse to its head: ${out.values.toSet.take(5)}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
  }

  test("connected components: converged labels carry honest row-count stats and auto-broadcast at consumers") {
    // r19 VERDICT finding #1: the freshFrame no-stats discipline leaked
    // OUT of the loop — the returned label frame read as unknown/huge
    // and every consumer's label join silently demoted from broadcast
    // to shuffle (dedup_semantic 1.63 → 2.62 s). The fix counts rows in
    // the convergence job and re-attaches honest Statistics on return,
    // so a dimension-sized label frame auto-broadcasts again — and a
    // corpus-sized one honestly shuffles.
    import spark.implicits._
    val aqeWas = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val edges = (1L until 64L).map(i => (i, i + 1)).toDF("a_id", "b_id")
      val (labels, _) = Dedup.connectedComponents(edges)
      val stats = labels.queryExecution.optimizedPlan.stats
      assert(stats.rowCount.contains(BigInt(64)),
        s"labels must carry the converged row count: ${stats.rowCount}")
      // the dedup_semantic join shape: corpus LEFT JOIN labels
      val corpus = spark.range(0, 100000).select($"id".as("vec_id"))
      val joined = corpus.join(
        labels.select($"id".as("vec_id"), $"label".as("rep")),
        Seq("vec_id"), "left")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"),
        s"dimension-sized label frame must auto-broadcast; plan:\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
  }

  test("GraftLineage.truncate preserves the hand-set output partitioning (no re-shuffle inside fixpoint loops)") {
    // r19 ADVICE: the first cut composed Dataset.localCheckpoint with a
    // stats-stripping rebuild — but this Spark's built-in checkpoint
    // returns UnknownPartitioning in EVERY eager/lazy × AQE mode
    // (measured), so every CC iteration re-shuffled frames the loop had
    // JUST hash-repartitioned. GraftLineage.truncate captures the
    // pre-checkpoint plan's partitioning into the leaf it builds,
    // defaulting only the stats — and the rows must survive the
    // defensive copy (unsafe-row buffers are reused).
    import spark.implicits._
    val df = spark.range(0, 1000).select($"id").repartition(8, $"id")
    // the loops truncate under withAqeOff — that's where preservation
    // must hold (an ADAPTIVE plan deliberately degrades to Unknown:
    // AQE may still replan its exchanges after the read)
    val fresh = Dedup.withAqeOff(spark)(
      org.apache.spark.sql.GraftLineage.truncate(df))
    fresh.queryExecution.executedPlan.outputPartitioning match {
      case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning =>
        assert(h.numPartitions == 8, s"wrong partition count: $h")
      case other => fail(s"truncate dropped the partitioning: $other")
    }
    val adaptive = {
      val was = spark.conf.get("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      // a FRESH dataset: df's executedPlan was already planned (and
      // cached) under the AQE-off block above
      try org.apache.spark.sql.GraftLineage.truncate(
        spark.range(0, 1000).select($"id").repartition(8, $"id"))
      finally spark.conf.set("spark.sql.adaptive.enabled", was)
    }
    assert(adaptive.queryExecution.executedPlan.outputPartitioning ==
      org.apache.spark.sql.catalyst.plans.physical.UnknownPartitioning(0),
      "an adaptive plan must degrade to Unknown, not over-promise")
    // stats must be leaf-default (no origin carry-over)...
    val bits = fresh.queryExecution.optimizedPlan.stats.sizeInBytes.bitLength
    assert(bits <= 128, s"truncate leaked origin stats ($bits-bit size)")
    // ...the data intact after the checkpoint materializes (two reads:
    // the first computes + caches the blocks, the second reads them)
    assert(fresh.agg(org.apache.spark.sql.functions.sum($"id")).head().getLong(0) == 499500L)
    assert(fresh.count() == 1000L)
    // ...and a self-join keyed on the preserved partitioning must plan
    // WITHOUT a fresh exchange under either input
    val aqeWas = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val bcastWas = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val joined = fresh.join(fresh.select($"id".as("id2")),
          $"id" === $"id2")
        val nExchanges = "Exchange".r
          .findAllIn(joined.queryExecution.executedPlan.toString).size
        assert(nExchanges <= 1, // only the renamed side may re-key
          s"preserved partitioning must be reused; " +
            s"plan:\n${joined.queryExecution.executedPlan}")
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcastWas)
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
  }

  test("connected components: reliable checkpoint variant produces the same labels") {
    import spark.implicits._
    // a set checkpoint directory sends every truncation to files in it
    val ckpt = java.nio.file.Files.createTempDirectory("graft-cc-ckpt").toString
    val out = withCheckpointDir(ckpt) {
      val edges = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("a_id", "b_id")
      Dedup.connectedComponents(edges)._1
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 7L))
    assert(filesUnder(ckpt) > 0, "no reliable checkpoint was written")
  }

  /** Every query `body` executes — actions, writes and eager lineage
    * cuts — with `body`'s result. Listener calls arrive asynchronously;
    * once a marker query run after `body` has been seen, all of `body`'s
    * have been. */
  private def executionsOf[T](body: => T)
      : (T, Seq[org.apache.spark.sql.execution.QueryExecution]) = {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val marker = s"marker_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    def isMarker(qe: QueryExecution) = qe.analyzed.output.map(_.name) == Seq(marker)
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = seen.add(qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val out = body
      spark.range(1).toDF(marker).collect()
      val deadline = System.nanoTime() + 30000000000L
      while (!seen.stream().anyMatch(isMarker(_)) && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(seen.stream().anyMatch(isMarker(_)), "the listener never saw the marker query")
      import scala.jdk.CollectionConverters._
      (out, seen.asScala.toSeq.filterNot(isMarker))
    } finally spark.listenerManager.unregister(listener)
  }

  /** Every physical node of an executed plan, once each: through AQE's
    * final plan, query stages, reused exchanges and write commands, but
    * not into cached relations, which an earlier query built. */
  private def nodesOf(root: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    def walk(p: SparkPlan): Seq[SparkPlan] = if (!seen.add(p)) Nil else {
      val next = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case r: ReusedExchangeExec => Seq(r.child)
        case c: CommandResultExec => Seq(c.commandPhysicalPlan)
        case _ => p.children
      }
      p +: next.flatMap(walk)
    }
    walk(root)
  }

  /** How the joins that match `side` (by output column names) planned:
    * per match, whether it is a broadcast join and whether it broadcast
    * the matching side; and the smallest size a planner saw for a
    * matching side — its logical estimate, or the runtime size of its
    * nearest shuffle stage, on which AQE replans. */
  private def sideJoins(qes: Seq[org.apache.spark.sql.execution.QueryExecution],
      side: Seq[String] => Boolean): (Seq[(Boolean, Boolean)], BigInt) = {
    import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildSide}
    import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
    import org.apache.spark.sql.execution.adaptive.ShuffleQueryStageExec
    import org.apache.spark.sql.execution.joins._
    def names(p: org.apache.spark.sql.catalyst.plans.QueryPlan[_]) = p.output.map(_.name)
    def logical(p: LogicalPlan): Seq[LogicalPlan] =
      p +: (p.children ++ p.innerChildren.collect { case c: LogicalPlan => c }).flatMap(logical)
    val estimates = qes.flatMap(qe => logical(qe.optimizedPlan)).collect {
      case j: Join => Seq(j.left, j.right).filter(c => side(names(c))).map(_.stats.sizeInBytes)
    }.flatten
    val joins = qes.flatMap(qe => nodesOf(qe.executedPlan)).collect {
      case j: BaseJoinExec if side(names(j.left)) || side(names(j.right)) => j
    }
    def builds(j: BaseJoinExec, b: BuildSide) =
      (true, side(names(if (b == BuildLeft) j.left else j.right)))
    val broadcast = joins.map {
      case j: BroadcastHashJoinExec => builds(j, j.buildSide)
      case j: BroadcastNestedLoopJoinExec => builds(j, j.buildSide)
      case _ => (false, false)
    }
    val runtime = joins.flatMap(j => Seq(j.left, j.right).filter(c => side(names(c))))
      .flatMap(c => nodesOf(c).collectFirst {
        case q: ShuffleQueryStageExec if q.isMaterialized => q.getRuntimeStatistics.sizeInBytes
      })
    (broadcast, (estimates ++ runtime).minOption.getOrElse(BigInt(0)))
  }

  /** The threshold, not a hint, decides the joins that match `side` in
    * `query` at sf0.01: they are broadcast joins under the default
    * threshold (at this scale the other side may be under it too, and
    * AQE picks the build side), they do not broadcast the side under half
    * its size, and the rows agree. Each run reads a fresh copy of the
    * fixture, so no layout or cached frame built under one threshold is
    * read under the other. Returns the executions of the default run. */
  private def thresholdDecides(query: String, side: Seq[String] => Boolean)
      : Seq[org.apache.spark.sql.execution.QueryExecution] = {
    def run() = executionsOf(SparkEntry.queries(query)(spark, fixtureCopy("/root/testdata/sf0.01"))
      .collect().map(_.toString).toSeq)
    def below(size: BigInt) =
      withConf("spark.sql.autoBroadcastJoinThreshold", (size / 2).toString)(run())
    val (rows, qes) = run()
    val (joins, size) = sideJoins(qes, side)
    assert(joins.nonEmpty && joins.forall(_._1),
      s"$query: the $size-byte side's joins must broadcast at sf0.01: $joins")
    // a side broadcast statically shows its runtime size only once a
    // shuffled run materializes it, and AQE replans on that size
    val (lowRows, lowQes) = {
      val first = below(size)
      val seen = sideJoins(first._2, side)._2
      if (seen < size) below(seen) else first
    }
    val (lowJoins, lowSize) = sideJoins(lowQes, side)
    assert(lowJoins.nonEmpty && !lowJoins.exists(_._2),
      s"$query: a threshold below the side's $lowSize bytes must not broadcast it: $lowJoins")
    assert(lowRows == rows, s"$query: the shuffled joins changed the rows")
    qes
  }

  /** The joins whose broadcast the threshold decides: every side that
    * once carried an unbounded hint, and the cut frames that feed
    * hint-free joins. A side is named by its output columns. */
  private val thresholdJoins: Seq[(String, String, Seq[String] => Boolean)] = Seq(
    ("q3_topk", "the market-segment customers", _.forall(_.startsWith("c_"))),
    ("q5_region", "supplier", _.forall(_.startsWith("s_"))),
    ("part_join", "the brand-filtered parts", _.forall(_.startsWith("p_"))),
    ("ltss_zorder_layout", "the entity ranks", _ == Seq("entity_id", "ent_rank")),
    ("ltss_cagg_reconcile", "the touched buckets", _ == Seq("entity_id", "bus")),
    ("contamination_check", "the benchmark shingles", _ == Seq("sh")),
    ("contamination_spans", "the benchmark fingerprints", _ == Seq("fp")),
    ("source_overlap", "the per-source counts",
      n => n == Seq("a_src", "a_n") || n == Seq("b_src", "b_n")),
    ("source_divergence", "the per-source totals",
      n => n == Seq("source_a", "na") || n == Seq("source_b", "nb")),
    ("text_boilerplate", "the per-source prefix lengths", _ == Seq("source", "boiler_len")),
    ("source_overlap", "the cut (source, shingle) frame",
      n => n == Seq("a_src", "sh") || n == Seq("b_src", "sh")),
    ("ltss_kmv_merge", "the per-day legs of the cut (day, bus, h) frame",
      n => n == Seq("day", "n_direct", "kth_direct") || n == Seq("day", "n_hours")),
    ("ltss_geo_od_zones", "the zone hits of the cut visits",
      _ == Seq("user_id", "t_start", "t_end", "zid")))

  for ((query, what, side) <- thresholdJoins)
    test(s"threshold decides: $query joins $what by size") {
      thresholdDecides(query, side)
    }

  test("bbit audit: the candidate-doc joins broadcast by size, not by hint") {
    import org.apache.spark.sql.execution.ProjectExec
    // the candidate doc-id frame scopes the signature and shingle legs;
    // both are cut once, so the executions evaluate MinHash8 once
    val qes = thresholdDecides("dedup_bbit_minhash", _ == Seq("doc_id"))
    val minhash = qes.flatMap(qe => nodesOf(qe.executedPlan)).count {
      case p: ProjectExec =>
        p.projectList.exists(_.exists(_.isInstanceOf[graft.functions.MinHash8]))
      case _ => false
    }
    assert(minhash == 1, s"MinHash8 is evaluated in $minhash places, not one")
  }

  test("bucketed tables co-locate the fact join: no shuffle exchange on either side") {
    import spark.implicits._
    // the 100 TB shape for a repeated big-big join: both sides bucketed
    // on the join key at write time, so the sort-merge join needs no
    // exchange at read time (bucketing ≙ pre-shuffled storage)
    val bcastWas = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val n = System.nanoTime()
      val facts = s"graft_facts_$n"
      val dims = s"graft_dims_$n"
      spark.range(0, 1000).select($"id" % 50 as "k", $"id" as "v")
        .write.bucketBy(8, "k").sortBy("k").saveAsTable(facts)
      spark.range(0, 50).select($"id" as "k",
        org.apache.spark.sql.functions.concat(
          org.apache.spark.sql.functions.lit("d"), $"id") as "name")
        .write.bucketBy(8, "k").sortBy("k").saveAsTable(dims)
      try {
        val joined = spark.table(facts).join(spark.table(dims), "k")
        assert(joined.count() == 1000)
        val plan = joined.queryExecution.executedPlan.toString
        assert(!plan.contains("Exchange hashpartitioning"),
          s"bucketed join must not shuffle either side; plan:\n$plan")
      } finally {
        spark.sql(s"DROP TABLE IF EXISTS $facts")
        spark.sql(s"DROP TABLE IF EXISTS $dims")
      }
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcastWas)
  }

  test("LTSS bucketed-table sink: entity joins over the layout shuffle NEITHER side") {
    import spark.implicits._
    import graft.sources.LtssSink
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val bcastWas = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val t1 = s"graft_ltss_b1_${System.nanoTime()}"
    val t2 = s"graft_ltss_b2_${System.nanoTime()}"
    try {
      val rows = (1 to 200).map(i =>
        (ts(f"2024-01-01 ${i % 24}%02d:00:00"), s"a.${i % 10}", s"$i", "{}"))
        .toDF("time", "entity_id", "state", "attributes")
      LtssSink.writeBucketedTable(rows, t1, nBuckets = 4)
      LtssSink.writeBucketedTable(rows, t2, nBuckets = 4)
      val joined = spark.table(t1).join(spark.table(t2), "entity_id")
      assert(joined.count() == 200L * 20)
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed entity join must not shuffle either side; plan:\n$plan")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $t1")
      spark.sql(s"DROP TABLE IF EXISTS $t2")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcastWas)
    }
  }

  test("zone spatial join broadcasts the zone dimension — points never shuffle for it") {
    val df = graft.operators.Queries.geoZones.run(spark, "/root/testdata/sf0.001")
    df.count()
    val plan = df.queryExecution.executedPlan.toString
    // the bbox-range condition is a theta join, so the intended shape is
    // a broadcast NESTED-LOOP with the bounded zone table as the build
    // side — the one place AllPlansSpec's bounded-build allowance exists
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"expected the zone dimension to broadcast under the bbox theta join; plan:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"the fix side must not shuffle for the zone join; plan:\n$plan")
  }

  test("contamination check broadcasts the benchmark side — no full-corpus shuffle join") {
    val df = graft.operators.TextOps.contamination.run(spark, "/root/testdata/sf0.001")
    df.count()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"expected the benchmark shingle set to broadcast; plan:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"corpus-side shingles must not shuffle into a merge join; plan:\n$plan")
  }

  test("bloom decontamination: map-side might_contain prefilter below the verify join") {
    val df = graft.operators.TextOps.contaminationBloom.run(spark, "/root/testdata/sf0.001")
    df.count()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"),
      s"expected the bloom prefilter in the corpus scan stage; plan:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"plan:\n$plan")
    // exact parity with the string-broadcast variant: bloom FPs never
    // reach the output
    val exact = graft.operators.TextOps.contamination
      .run(spark, "/root/testdata/sf0.001").collect().toSeq
    assert(df.collect().toSeq == exact)
  }

  test("IVF probe scan is partition-pruned to the query's cluster") {
    val df = Similarity.ivfProbe.run(spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cid"),
      s"expected a cid partition filter on the layout scan; plan:\n$plan")
  }

  test("IVF+PQ probe partition-prunes the codes layout and never scans raw vectors") {
    val df = graft.operators.Pq.ivfPqTopkQ.run(spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cid"),
      s"expected a cid partition filter on the codes-layout scan; plan:\n$plan")
    // the probed scan reads codes only: no `embedding` column may appear
    // in the layout scan's ReadSchema (raw vectors live elsewhere)
    val layoutScan = plan.linesIterator.filter(_.contains("ivfpq")).mkString("\n")
    assert(layoutScan.nonEmpty && !layoutScan.contains("embedding"),
      s"ADC scan must not read raw vectors; scan:\n$layoutScan")
  }

  test("per-row text kernels stay inside whole-stage codegen") {
    // AQE wraps the plan in AdaptiveSparkPlan, which enumerates no
    // codegen subtrees until stages execute — turn it off for the check
    val aqeWas = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      for (name <- Seq("text_stats", "lang_id", "token_count", "repetition_ratio")) {
        val df = graft.SparkEntry.queries(name)(spark, "/root/testdata/sf0.001")
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("codegen"))
        assert(!plan.startsWith("Found 0 WholeStageCodegen"),
          s"$name lost whole-stage codegen; plan:\n${plan.take(2000)}")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
  }

  test("keyword search partition-prunes the inverted index to the terms' buckets") {
    val df = graft.operators.TextOps.textSearch.run(spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("bucket"),
      s"expected a bucket partition filter on the posting scan; plan:\n$plan")
    assert(plan.contains("inv_index") && !plan.contains("documents.parquet"),
      s"search must read the index, not the corpus; plan:\n$plan")
  }

  test("continuous aggregate reads the materialized rollup + a chunk-pruned tail") {
    val df = graft.operators.TimeSeries.caggQ.run(spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    // one scan of the materialized cagg artifact...
    assert(plan.contains("cagg"),
      s"expected the materialized rollup scan; plan:\n$plan")
    // ...and the live tail comes from the chunked layout with the chunk
    // partition filter, never a raw-events scan
    assert(plan.contains("ltss_layout") && plan.contains("chunk"),
      s"expected a chunk-pruned layout scan for the tail; plan:\n$plan")
    assert(!plan.contains("events.parquet"),
      s"cagg must not rescan raw events; plan:\n$plan")
  }

  test("stratified sampling broadcasts the rate table — membership filter is map-side") {
    val df = graft.operators.Sampling.sampleStratified.run(spark, "/root/testdata/sf0.001")
    df.count()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"expected the per-language rate table to broadcast; plan:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"plan:\n$plan")
  }

  test("gap-fill joins the dense grid without a cartesian or nested loop") {
    val df = graft.operators.TimeSeries.gapfillLocfQ.run(spark, "/root/testdata/sf0.001")
    df.count()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"grid-to-observation join must be an equi-join; plan:\n$plan")
  }

  test("pipeline dedup stage is a combinable aggregate — the only Window is the packing one") {
    // VERDICT r6 #1: the exact-dedup stage must be the dedupByPk
    // struct-MIN hash-aggregate shape (map-side combinable), never a
    // min-over-Window.partitionBy(fp) sort window. The packing window on
    // (lang, shard) is the single legitimate Window in each pipeline.
    for (q <- graft.operators.Pipeline.all) {
      val df = q.run(spark, "/root/testdata/sf0.001")
      val windows = df.queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      }
      // no window may partition by the text fingerprint (the r6 anti-pattern)
      for (w <- windows; spec = w.partitionSpec.map(_.sql).mkString(","))
        assert(!spec.contains("fp") && !spec.contains("md5"),
          s"${q.name}: dedup stage leaked into a Window partitioned by fingerprint: $spec")
      // the only window partitioned by DATA columns is the packing one;
      // stratRates' global-min window over the |languages|-row counts
      // frame partitions by a constant and is exempt. The funnel REPORT
      // has no packing stage, so its pin is zero data windows.
      val dataWindows = windows.filter(_.partitionSpec.exists(_.references.nonEmpty))
      val expected = if (q.name == "pipeline_funnel") 0 else 1
      assert(dataWindows.size == expected,
        s"${q.name}: expected $expected data-partitioned window(s), found ${dataWindows.size}")
      for (w <- dataWindows) {
        val packSpec = w.partitionSpec.map(_.sql).mkString(",")
        assert(packSpec.contains("lang") && packSpec.contains("shard"),
          s"${q.name}: unexpected data-partitioned window: $packSpec")
      }
    }
  }

  test("haversine radius query gains sargable box bounds that reach PushedFilters") {
    graft.plans.GraftExtensions.install(spark)
    val df = graft.operators.Queries.geoRadiusLayout.run(spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    // the scan's full PushedFilters list (toString elides it); with the
    // rule planned at session build, inferred IsNotNull filters lead it
    val pushed = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      .collect(df.queryExecution.executedPlan) {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f.metadata("PushedFilters")
      }.mkString
    for (bound <- Seq("GreaterThanOrEqual(lat,", "LessThanOrEqual(lat,",
        "GreaterThanOrEqual(lon,", "LessThanOrEqual(lon,"))
      assert(pushed.contains(bound),
        s"expected $bound in PushedFilters $pushed; plan:\n${plan.take(3000)}")
    // the rule must be result-invisible: same rows as the raw-scan query
    // over the same points with NO layout (rule fires there too, but on
    // derived columns it cannot prune — only the predicate is added)
    val exact = graft.operators.Queries.geoDistance.run(spark, "/root/testdata/sf0.001")
      .collect().map(_.getAs[Long]("event_id")).toSeq
    assert(df.collect().map(_.getAs[Long]("event_id")).toSeq == exact)
  }

  test("haversine box rule: pole-adjacent and antimeridian centers keep only safe bounds") {
    import org.apache.spark.sql.catalyst.dsl.expressions._
    import org.apache.spark.sql.catalyst.dsl.plans._
    import org.apache.spark.sql.catalyst.expressions.{And, LessThanOrEqual, Literal}
    import org.apache.spark.sql.catalyst.plans.logical.Filter
    val rel = org.apache.spark.sql.catalyst.plans.logical.LocalRelation(
      Symbol("lat").double, Symbol("lon").double)
    def radiusPlan(lat0: Double, lon0: Double, r: Double) = Filter(
      LessThanOrEqual(graft.functions.Haversine(
        Symbol("lat").double.at(0), Symbol("lon").double.at(1),
        Literal(lat0), Literal(lon0)), Literal(r)), rel)
    def conjuncts(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) = {
      val Filter(c, _) = graft.plans.HaversineBoxRule(p): @unchecked
      def split(e: org.apache.spark.sql.catalyst.expressions.Expression):
          Seq[org.apache.spark.sql.catalyst.expressions.Expression] = e match {
        case And(l, r) => split(l) ++ split(r)
        case o => Seq(o)
      }
      split(c)
    }
    // mid-latitude: 1 original + 2 lat bounds + 2 lon bounds
    assert(conjuncts(radiusPlan(57.7, 11.97, 2000.0)).size == 5)
    // near-pole box: lon unbounded → only the lat bounds are added
    assert(conjuncts(radiusPlan(88.5, 0.0, 500.0)).size == 3)
    // antimeridian wrap: lat bounds + ONE wrapped lon disjunction
    val wrapped = conjuncts(radiusPlan(0.0, 179.5, 500.0))
    assert(wrapped.size == 4)
    assert(wrapped.exists(_.isInstanceOf[org.apache.spark.sql.catalyst.expressions.Or]),
      s"expected the wrapped (lon >= lo+360 OR lon <= hi) bound in $wrapped")
    // out-of-range center: contradictory-bound hazard → no rewrite at all
    assert(conjuncts(radiusPlan(95.0, 0.0, 500.0)).size == 1)
    // idempotent: re-applying adds nothing, including the wrapped form
    for (p <- Seq(radiusPlan(57.7, 11.97, 2000.0), radiusPlan(0.0, 179.5, 500.0))) {
      val once = graft.plans.HaversineBoxRule(p)
      assert(graft.plans.HaversineBoxRule(once).fastEquals(once))
    }
  }

  test("funnel reads the events source ONCE — steps share the scan and the uid exchange") {
    // VERDICT r6 #8: the three funnel steps must not each re-scan the
    // events source; the step dependency is running-MIN windows over one
    // scan, so exactly one source relation appears in the plan
    val df = graft.operators.Queries.funnel.run(spark, "/root/testdata/sf0.001")
    val scans = df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r
    }
    assert(scans.size == 1,
      s"funnel must read the events source once, found ${scans.size} scans")
    assert(!df.queryExecution.executedPlan.toString.contains("Join"),
      "funnel must not self-join the source for step dependencies")
  }

  test("IVF dedup pairs only within clusters — the pair join is an equi-join") {
    // audit the UNCACHED build plan: the shared frame's InMemoryRelation
    // would otherwise nest the whole build (kmeans scoring joins and
    // all) into the printed plan once per cache level. minCos differs
    // from the production 0.2 so the CacheManager cannot substitute the
    // cached pair frame for this plan when other suites populated it —
    // the join SHAPE under audit is threshold-independent
    val df = Similarity.buildWithinClusterPairs(spark, "/root/testdata/sf0.001", 0.21)
      .orderBy("cid", "a_id", "b_id")
    df.count()
    val plan = df.queryExecution.executedPlan.toString
    // the ONLY nested-loop joins allowed are the k-row centroid-scoring
    // broadcasts inside the Lloyd iterations (each vector scores against
    // all k centroids — that cross join IS the assignment step and its
    // build side is k rows); the n-vs-n PAIR join must be a hash/merge
    // equi-join on cid, never a cartesian
    assert(!plan.contains("CartesianProduct"), s"plan:\n$plan")
    val nlj = "BroadcastNestedLoopJoin".r.findAllIn(plan).size
    val kmeansScoringJoins = Similarity.KmIters + 2 // init assign + iters + final
    assert(nlj <= kmeansScoringJoins,
      s"unexpected nested-loop join beyond the centroid scoring ($nlj); plan:\n$plan")
  }

  test("r16 geo additions: contacts/frechet join equi-keyed, zone clip dimension-sized, sweep join-free") {
    val d = "/root/testdata/sf0.001"
    // the contact join must be the (time-bucket, cell) EQUI-join — a
    // nested-loop or cartesian here is the all-pairs scale killer
    val contacts = graft.operators.Queries.geoContacts.run(spark, d)
    contacts.count()
    val cp = contacts.queryExecution.executedPlan.toString
    assert(!cp.contains("CartesianProduct") && !cp.contains("BroadcastNestedLoopJoin"),
      s"contact join must stay the (bucket, cell) equi-join; plan:\n$cp")
    // frechet: the candidate screen joins on the start-cell grid key and
    // the array attachments join on (id, chunk) — all equi, never a loop
    val fr = graft.operators.Queries.geoFrechet.run(spark, d)
    fr.count()
    val fp = fr.queryExecution.executedPlan.toString
    assert(!fp.contains("CartesianProduct") && !fp.contains("BroadcastNestedLoopJoin"),
      s"frechet joins must stay equi-keyed; plan:\n$fp")
    // zone intersection pairs a broadcast DIMENSION against itself on a
    // bbox theta-predicate: a broadcast loop over thousands of rows is
    // the intended shape, an unbroadcast cartesian is not
    val zi = graft.operators.Queries.zonesIntersect.run(spark, d)
    zi.count()
    val zp = zi.queryExecution.executedPlan.toString
    assert(!zp.contains("CartesianProduct"),
      s"zone-pair clip must broadcast the dimension; plan:\n$zp")
    // the sensitivity sweep is folds + two keyed aggregates over the
    // stored layout — NO join may appear at any scale
    val od = graft.operators.Queries.geoOdSensitivity.run(spark, d)
    od.count()
    val op = od.queryExecution.executedPlan.toString
    assert(!op.contains("Join"),
      s"the (R,T) sweep is fold+aggregate only; plan:\n$op")
  }

  test("r17 geo additions: hausdorff/dtw screens equi-keyed, convoy window over the bucketed join") {
    val d = "/root/testdata/sf0.001"
    // hausdorff: the screen joins track starts against per-(track,
    // cell) position arrays on the (chunk, cell) grid key — BOTH
    // directed start-bounds ride the one join (r18) — and the DP
    // joins attach arrays on (id, chunk); all equi, never a loop (the
    // raw-fix |starts|×|fixes| shape this replaced filled the disk at
    // the folded 100×)
    val h = graft.operators.Queries.geoHausdorff.run(spark, d)
    h.count()
    val hp = h.queryExecution.executedPlan.toString
    assert(!hp.contains("CartesianProduct") && !hp.contains("BroadcastNestedLoopJoin"),
      s"hausdorff joins must stay equi-keyed; plan:\n$hp")
    // dtw rides the frechet screen verbatim — same contract
    val t = graft.operators.Queries.geoDtw.run(spark, d)
    t.count()
    val tp = t.queryExecution.executedPlan.toString
    assert(!tp.contains("CartesianProduct") && !tp.contains("BroadcastNestedLoopJoin"),
      s"dtw joins must stay equi-keyed; plan:\n$tp")
    // convoys: the only join is the contact join itself (equi on
    // bucket+cell); episodes are one combinable rollup + one keyed
    // window on top
    val c = graft.operators.Queries.geoConvoys.run(spark, d)
    c.count()
    val cp2 = c.queryExecution.executedPlan.toString
    assert(!cp2.contains("CartesianProduct") && !cp2.contains("BroadcastNestedLoopJoin"),
      s"convoy episodes must ride the bucketed equi-join; plan:\n$cp2")
    assert("WindowExec|Window\\b".r.findAllIn(cp2).nonEmpty,
      s"the episode rule is a keyed window; plan:\n$cp2")
  }

  /** A render-scale result with a two-key order (ties on `k` broken by
    * `id`), spread over four scan partitions. */
  private def smallSorted() =
    spark.range(0, 2000, 1, 4)
      .selectExpr("id", "(id * 7919) % 97 AS k")
      .orderBy(org.apache.spark.sql.functions.col("k").desc,
        org.apache.spark.sql.functions.col("id"))

  test("small final sort runs in one task: no range exchange, one job, the range sort's rows") {
    val df = smallSorted()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("rangepartitioning"), s"expected no range exchange; plan:\n$plan")
    val (rows, jobs) = jobsOf(df.collect().toSeq)
    assert(jobs == 1, s"expected one job (no sampling job), saw $jobs")
    assert(rows.size == 2000)
    // -1 disables the rule with the broadcast bound: Spark's range sort
    // plans again and returns the same rows in the same order
    withConf("spark.sql.autoBroadcastJoinThreshold", "-1") {
      val ranged = smallSorted()
      val rangedPlan = ranged.queryExecution.executedPlan.toString
      assert(rangedPlan.contains("rangepartitioning"),
        s"threshold -1 must keep the range exchange; plan:\n$rangedPlan")
      assert(ranged.collect().toSeq == rows)
    }
  }

  test("small-sort rule leaves limited sorts and streaming plans to Spark") {
    import org.apache.spark.sql.catalyst.plans.logical.Sort
    val top = smallSorted().limit(5)
    val plan = top.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"orderBy().limit(n) must stay a top-k; plan:\n$plan")
    // a streaming query keeps its global sort: the rule skips every
    // plan over a streaming source, though each micro-batch's file scan
    // here is far under the size bound
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
    val in = java.nio.file.Files.createTempDirectory("graft-sort-stream").toString
    (1 to 20).toDF("value").write.mode("overwrite").parquet(s"$in/batch")
    val q = spark.readStream.schema("value INT").parquet(s"$in/batch")
      .groupBy(($"value" % 3).as("m")).count()
      .orderBy("count", "m")
      .writeStream.format("memory").queryName("small_sort_stream")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val exec = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution
      assert(exec.optimizedPlan.collectFirst { case s: Sort if s.global => s }.isDefined,
        s"streaming sort rewritten:\n${exec.optimizedPlan}")
      assert(spark.table("small_sort_stream").collect().map(_.getLong(1)).toSeq == Seq(6L, 7L, 7L))
    } finally q.stop()
  }
}
