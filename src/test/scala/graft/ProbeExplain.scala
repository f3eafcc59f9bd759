package graft

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** r20 plan dumper: writes `.explain("formatted")` of named declared
  * queries (or all of them) to one file per query under the given
  * directory — the `plans/r20/<query>_{before,after}.txt` evidence the
  * optimization rounds commit. Runs the same session shape as Bench
  * (shared artifacts warmed first where a plan reads them), so the
  * captured plan is the one the bench executes. */
object ProbeExplain {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // `--conf key=value` args seed session confs before planning
    val (confArgs, queryArgs) = args.drop(2).partition(_.startsWith("--conf"))
    val confs = confArgs.map { a =>
      val kv = a.stripPrefix("--conf").stripPrefix("=")
      val Array(k, v) = kv.split("=", 2)
      (k, v)
    }
    val only = queryArgs.toSet
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.plans.GraftExtensions.install(spark)
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    Files.createDirectories(Paths.get(outDir))
    val names = SparkEntry.queries.keySet
    val missing = only -- names
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(", ")}")
    // shared artifacts some plans read (paths / cached frames): warm the
    // ones the requested queries touch, mirroring Bench's warm section
    def needs(prefixes: String*): Boolean =
      only.isEmpty || only.exists(n => prefixes.exists(n.contains))
    if (needs("geo_exposure", "geo_contact", "geo_convoy")) {
      graft.operators.Queries.contactPairHourFrame(spark, sfDir).count()
      graft.operators.Queries.contactPairFrame(spark, sfDir).count()
    }
    if (needs("geo_convoy"))
      graft.operators.Queries.convoyHourLabels(spark, sfDir).count()
    if (needs("dedup_semantic", "dedup_clusters", "dedup_keep_best",
        "dedup_savings", "dedup_graph", "dedup_confusion")) {
      graft.operators.Dedup.warmShared(spark, sfDir)
      graft.operators.Dedup.ccLabels(spark, sfDir).count()
    }
    if (needs("sim_", "dedup_embedding"))
      graft.operators.Similarity.ivfLayoutPath(spark, sfDir)
    SparkEntry.queries.foreach { case (name, fn) =>
      if (only.isEmpty || only.contains(name)) {
        try {
          val plan = fn(spark, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          Files.writeString(Paths.get(s"$outDir/$name.txt"), plan)
          System.err.println(s"[explain] wrote $name")
        } catch {
          case e: Throwable =>
            System.err.println(s"[explain] $name FAILED: $e")
        }
      }
    }
    spark.stop()
  }
}
