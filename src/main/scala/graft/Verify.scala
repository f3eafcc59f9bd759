package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json and the count of oracle queries dumped
  * (oracle_count.json), for the DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional trailing names restrict the dump (local spot-checks); the
    // driver passes exactly two args and gets every query
    val only = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Timestamps go out as NTZ (session TZ is UTC) so the parquet values
    // compare naive-to-naive against DuckDB's.
    def ntz(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      import org.apache.spark.sql.functions.col
      import org.apache.spark.sql.types.TimestampType
      df.select(df.schema.fields.map { f =>
        if (f.dataType == TimestampType) col(f.name).cast("timestamp_ntz").as(f.name)
        else col(f.name)
      }.toSeq: _*)
    }
    // A query that fails here leaves no parquet dir, so the driver's
    // compare would silently record NOTHING for it and the round would
    // read all-green while being broken (this happened in round 9: an
    // analysis failure dropped 22 time-series queries from the report).
    // Record every failure in errors.json next to the dumps and shout a
    // per-run summary so a broken registered query is always visible.
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries.foreach { case (name, fn) =>
      if (only.nonEmpty && !only.contains(name)) ()
      else try {
        // progress marker: lets a log reader attribute engine warnings
        // (e.g. WindowExec's partitionless-window alarm) to the exact
        // query that emitted them
        System.err.println(s"[verify] running $name")
        ntz(fn(spark, sfDir)).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        failed(name) = s"${e.getClass.getSimpleName}: " +
          Option(e.getMessage).getOrElse("").replace('\n', ' ').take(200)
        System.err.println(s"[verify] $name FAILED: ${failed(name)}")
        // leave a marker dump so the driver's compare records a FAILING
        // row (schema mismatch vs the oracle) for this query instead of
        // recording nothing — a broken registered query must show up as
        // red in the round report, never vanish from it
        try {
          import spark.implicits._
          Seq((name, failed(name))).toDF("graft_failed_query", "graft_error")
            .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        } catch { case _: Throwable => () }
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // PQ and k-means oracle SQL is only valid where the fixture codebook
    // geometry trains — on larger corpora those queries fall back to
    // rows-only rather than comparing against SQL for a codebook that
    // didn't run
    val geometryDependent = graft.operators.Pq.GeometryDependentOracles ++
      graft.operators.Similarity.GeometryDependentOracles
    val oracleSql =
      if (graft.operators.Similarity.fixtureOracleValid(spark, sfDir)) SparkEntry.oracleSql
      else SparkEntry.oracleSql -- geometryDependent
    val json = oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // how many oracle queries this run dumped: a compare that checks
    // fewer (an emptied or truncated oracle map) must not read as green
    val dumped = oracleSql.keys.count(k => only.isEmpty || only.contains(k))
    Files.writeString(Paths.get(s"$outDir/oracle_count.json"), s"""{"dumped": $dumped}""")
    val errJson = failed
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    if (failed.nonEmpty) System.err.println(
      s"[verify] ${failed.size}/${SparkEntry.queries.size} registered " +
        s"queries FAILED: ${failed.keys.mkString(", ")}")
    spark.stop()
  }
}
