package graft

import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

/** Pins the loader contract the round-9 fixture regeneration broke: no
  * matter which physical timestamp form the fixture writer chose (ns
  * int64, µs NTZ, µs TZ), every table loads with TimestampType time
  * columns, so `unix_micros`-based operators always analyze. */
class TablesSpec extends SparkSpec {

  test("fixture timestamp columns normalize to TimestampType on read") {
    for (sf <- Seq("sf0.001", "sf0.01")) {
      val ts = Tables.events(spark, s"/root/testdata/$sf").schema("ts").dataType
      assert(ts == TimestampType, s"$sf events.ts loaded as $ts")
    }
    val o = Tables.orders(spark, "/root/testdata/sf0.001").schema
    val l = Tables.lineitem(spark, "/root/testdata/sf0.001").schema
    for (f <- o.fields ++ l.fields)
      assert(!f.dataType.isInstanceOf[TimestampNTZType],
        s"${f.name} still TIMESTAMP_NTZ after load")
  }

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("parquet schema memo: an unchanged path reads without a job, a rewritten one re-infers") {
    import spark.implicits._
    val p = s"${tmpDir("graft-memo")}/t.parquet"
    Seq((1L, "a"), (2L, "b")).toDF("id", "s").write.parquet(p)
    val first = Tables.parquet(spark, p)
    val (again, readJobs) = jobsOf(Tables.parquet(spark, p))
    assert(readJobs == 0, s"a second read of an unchanged path launched $readJobs job(s)")
    assert(again.schema == first.schema)
    val (rows, queryJobs) = jobsOf(again.orderBy("id").collect().toSeq)
    assert(queryJobs >= 1 && rows.map(_.getString(1)) == Seq("a", "b"))
    // overwritten with a different schema: the file set changed, so the
    // remembered schema is not used
    Seq((3.5, "c", true)).toDF("x", "s", "flag").write.mode("overwrite").parquet(p)
    val rewritten = Tables.parquet(spark, p)
    assert(rewritten.schema.fieldNames.toSeq == Seq("x", "s", "flag"),
      s"stale schema after overwrite: ${rewritten.schema}")
    assert(rewritten.collect().map(_.getDouble(0)).toSeq == Seq(3.5))
  }

  test("parquet schema memo: a chunk appended after a chunkScan shows in the next chunkScan") {
    import spark.implicits._
    import graft.sources.LtssSink
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val out = tmpDir("graft-memo-layout")
    val row = (t: String, st: String) => (ts(t), "a.1", st, "{}")
    LtssSink.writeParquet(Seq(row("2024-01-05 00:00:00", "1"))
      .toDF("time", "entity_id", "state", "attributes"), out)
    def scan() = LtssSink.chunkScan(spark, out, ts("2024-01-01 00:00:00"), ts("2024-12-31 00:00:00"))
      .select("state").as[String].collect().sorted.toSeq
    assert(scan() == Seq("1"))
    assert(scan() == Seq("1"))
    // a new chunk directory (a partition value the first scan never saw)
    LtssSink.writeParquet(Seq(row("2024-06-25 00:00:00", "2"))
      .toDF("time", "entity_id", "state", "attributes"), out)
    assert(scan() == Seq("1", "2"))
  }
}
