package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
import org.apache.spark.sql.types.TimestampType

/** State shared by one run of one workload. Measurements go into plain
  * fields; `Main` writes them to `result.json` for `run.py` to turn into
  * metrics and checks. */
final class Ctx(
    val spark: SparkSession,
    val trace: Trace,
    val seed: Long,
    val seconds: Double,
    val dataDir: String,
    val work: String,
    val cores: Int) {
  val rng = new scala.util.Random(seed)
  val substrate: Option[Substrate] =
    if (trace.enabled) Some(new Substrate) else None

  val setupS = ArrayBuffer.empty[Double]
  /** Latency samples of the measured phase: (seconds, weight). */
  val latency = ArrayBuffer.empty[(Double, Double)]
  /** Operations completed per second in the measured phase. */
  var opsPerS = 0.0
  /** CPU milliseconds of each measured operation, by kind of operation;
    * `op_cpu_ms` is the mean over kinds of each kind's median. */
  val cpuSamples = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  var footprintMb = 0.0
  var attempted = 0L
  var failed = 0L
  val errors = ArrayBuffer.empty[String]
  /** Per measured operation, traced runs only: plan_s, exec_s, exchanges. */
  val opsDetail = ArrayBuffer.empty[Map[String, Double]]
  /** Outputs checked inside the JVM (ingest, live) and their mismatches. */
  var checked = 0
  val mismatches = ArrayBuffer.empty[String]
  /** Query results for the DuckDB oracle (dashboard, batch). */
  val oracle = mutable.LinkedHashMap.empty[String, Map[String, String]]
  var oracleTables = Map.empty[String, String]
  /** Workload-specific per-layer figures, written to the trace artifact. */
  val layers = mutable.LinkedHashMap.empty[String, Any]
  val info = mutable.LinkedHashMap.empty[String, Any]
  /** Job groups whose Spark work belongs to the measured phase. */
  val measuredGroups = mutable.Set.empty[String]
  var measureStartNs = 0L
  var measureEndNs = 0L

  def sc = spark.sparkContext

  def fail(what: String, e: Throwable): Unit = {
    failed += 1
    errors += s"$what: ${e.getClass.getSimpleName}: " +
      Option(e.getMessage).getOrElse("").replace('\n', ' ').take(300)
    System.err.println(s"[perfbench] FAILED $what: $e")
  }

  /** Runs one operation and adds its CPU time to the samples of `kind`. */
  def cpuOf[T](kind: String)(body: => T): T = {
    val t0 = Main.threadsCpuNs()
    val r = body
    cpuSamples.getOrElseUpdate(kind, ArrayBuffer.empty) += (Main.threadsCpuNs() - t0) / 1e6
    r
  }

  def beginMeasure(group: String): Unit = {
    measuredGroups += group
    sc.setJobGroup(group, group)
    measureStartNs = System.nanoTime()
  }

  def endMeasure(): Unit = {
    measureEndNs = System.nanoTime()
    sc.setJobGroup("after", "after")
  }
}

object Main {

  /** Set-ups per run; `setup_s` is their median, so the first, cold one
    * (class loading, JIT) does not decide it. */
  val Setups = 3

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private val threads = java.lang.management.ManagementFactory.getThreadMXBean

  /** CPU time of the JVM's Java threads: the driver, the stream execution
    * and Spark's task threads. Time the host gave to other guests does not
    * count, so it moves less with the host's load than elapsed time does.
    * The JIT compiler and the garbage collector run on JVM-internal
    * threads and do not count either; compilation is the JVM warming
    * itself, and its timing varies from run to run. */
  def threadsCpuNs(): Long =
    threads.getAllThreadIds.iterator.map(id => threads.getThreadCpuTime(id)).filter(_ > 0).sum

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def files(path: String): Seq[Path] = {
    val root = Paths.get(path)
    if (!Files.exists(root)) Nil
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(p => Files.isRegularFile(p)).toList
      finally s.close()
    }
  }

  /** Bytes stored under `path`, checksums and markers included. */
  def dirBytes(path: String): Long = files(path).map(p => Files.size(p)).sum

  /** The data files under `path`, without hidden and `_` files. */
  def dataFiles(path: String): Seq[Path] = files(path).filterNot { p =>
    val n = p.getFileName.toString
    n.startsWith(".") || n.startsWith("_")
  }

  /** Copies fixture tables into `dst`, each split into one file per core
    * by a seeded hash of its first column. */
  def stageTables(c: Ctx, src: String, dst: String, tables: Seq[String]): Unit =
    tables.foreach { t =>
      val df = c.spark.read.parquet(s"$src/$t.parquet")
      df.repartition(c.cores, pmod(xxhash64(col(df.columns.head), lit(c.seed)), lit(c.cores)))
        .write.mode("overwrite").parquet(s"$dst/$t.parquet")
    }

  /** Writes a query result for the DuckDB comparison, timestamps as
    * TIMESTAMP_NTZ like the oracle's fixture columns. */
  def dumpResult(df: DataFrame, path: String): Unit =
    df.select(df.schema.fields.toIndexedSeq.map { f =>
      if (f.dataType == TimestampType) col(f.name).cast("timestamp_ntz").as(f.name)
      else col(f.name)
    }: _*).coalesce(1).write.mode("overwrite").parquet(path)

  /** Exchanges in a physical plan, looking inside adaptive plans. */
  def exchanges(plan: org.apache.spark.sql.execution.SparkPlan): Int = {
    val helper = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    helper.collect(plan) {
      case e: org.apache.spark.sql.execution.exchange.Exchange => e
    }.size
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val out = opts("out")
    val cores = opts("cores").toInt
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.plans.GraftExtensions.install(spark)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val trace = new Trace(opts("trace") == "1")
    val c = new Ctx(spark, trace, opts("seed").toLong, opts("seconds").toDouble,
      opts("data"), s"$out/work", cores)
    c.substrate.foreach(spark.sparkContext.addSparkListener)
    c.info("session_s") = sessionS
    c.info("java_version") = System.getProperty("java.version")
    c.info("spark_version") = spark.version
    c.info("master") = s"local[$cores]"
    workload match {
      case "ingest" => Ingest.run(c)
      case "dashboard" => QueryMix.run(c, QueryMix.Dashboard)
      case "batch" => QueryMix.run(c, QueryMix.Batch)
      case "live" => Live.run(c)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    if (trace.enabled) trace.writeJsonLines(s"$out/spans.jsonl", c.measureStartNs)
    val measuredS = (c.measureEndNs - c.measureStartNs) / 1e9
    val substrate = c.substrate.map(_.totals(g => c.measuredGroups.contains(g)))
    Json.write(s"$out/result.json", mutable.LinkedHashMap[String, Any](
      "workload" -> workload,
      "seed" -> c.seed,
      "cores" -> cores,
      "info" -> c.info,
      "setup_s" -> c.setupS,
      "latency" -> c.latency,
      "ops_per_s" -> c.opsPerS,
      "op_cpu_ms" -> Stats.meanOfMedians(c.cpuSamples.values.map(_.toSeq).toSeq),
      "cpu_samples" -> c.cpuSamples,
      "measured_s" -> measuredS,
      "footprint_mb" -> c.footprintMb,
      "attempted" -> c.attempted,
      "failed" -> c.failed,
      "errors" -> c.errors,
      "checked" -> c.checked,
      "mismatches" -> c.mismatches,
      "oracle" -> c.oracle,
      "oracle_tables" -> c.oracleTables,
      "ops_detail" -> c.opsDetail,
      "substrate" -> substrate,
      "layers" -> c.layers))
    spark.stop()
  }
}
