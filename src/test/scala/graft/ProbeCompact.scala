package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Committed-measurement probe for [[graft.sources.LtssSink.compactChunk]]
  * (VERDICT r11 #8): build an LTSS chunk layout from the sf events in
  * ARRIVAL order — several time-ordered increments, the file state a
  * streaming ingest leaves behind — then apply the `ltss_compress_plan`
  * recommendation (segmentby entity_id, orderby time) chunk by chunk
  * and print each audit row. The recorded numbers go to SCALING.md. */
object ProbeCompact {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val increments = if (args.length > 1) args(1).toInt else 8
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import graft.sources.LtssSink
    val out = java.nio.file.Files.createTempDirectory("graft-compact-probe").toString
    val l = graft.operators.Queries.ltss(spark, sfDir)
      .withColumn("tus", unix_micros(col("time")))
    val (lo, hi) = {
      val r = l.agg(min(col("tus")), max(col("tus"))).head()
      (r.getLong(0), r.getLong(1) + 1)
    }
    // arrival-order increments: consecutive time slices, each appended
    // as its own micro-batch (many small files per chunk, rows within a
    // chunk in time-interleaved entity order — the ingest state)
    val step = math.max(1L, (hi - lo) / increments)
    for (i <- 0 until increments) {
      val a = lo + i * step
      val b = if (i == increments - 1) hi else lo + (i + 1) * step
      LtssSink.writeParquet(
        l.filter(col("tus") >= a && col("tus") < b).drop("tus"), out)
    }
    val rows = spark.read.parquet(out).count()
    val chunks = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("chunk=")).map(_.getName.stripPrefix("chunk=")).sorted
    println(s"PROBE rows=$rows chunks=${chunks.length} increments=$increments")
    var tb = 0L; var ta = 0L
    for (c <- chunks) {
      val a = LtssSink.compactChunk(spark, out, c,
        sortCols = Seq("entity_id", "time"))
      tb += a.bytes_before; ta += a.bytes_after
      println(f"AUDIT chunk=$c files ${a.files_before}%d->${a.files_after}%d " +
        f"bytes ${a.bytes_before}%d->${a.bytes_after}%d ratio ${a.ratio}%.2f")
    }
    println(f"TOTAL bytes $tb%d->$ta%d ratio ${tb.toDouble / ta}%.2f")
    assert(spark.read.parquet(out).count() == rows, "compaction lost rows")
    spark.stop()
  }
}
