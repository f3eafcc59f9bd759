package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  /** `body`'s result and the number of Spark jobs it launched, counted
    * by a SparkListener on a job group of its own. Listener events
    * arrive asynchronously but in order, so once a marker job run after
    * `body` has been delivered, every job of `body` has been counted. */
  def jobsOf[T](body: => T): (T, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = s"jobs-of-${java.util.UUID.randomUUID()}"
    val marker = s"$group-marker"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(seen.add)
    }
    sc.addSparkListener(listener)
    try {
      def inGroup[R](g: String)(f: => R): R = {
        sc.setJobGroup(g, g)
        try f finally sc.clearJobGroup()
      }
      val out = inGroup(group)(body)
      inGroup(marker)(sc.parallelize(Seq(1), 1).count())
      val deadline = System.nanoTime() + 30000000000L
      while (!seen.contains(marker) && System.nanoTime() < deadline) Thread.sleep(20)
      assert(seen.contains(marker), "the listener never saw the marker job")
      (out, seen.toArray.count(_ == group))
    } finally sc.removeSparkListener(listener)
  }

  /** `body` with the SparkContext's checkpoint directory set to `dir`,
    * restoring the previous value (usually none) after. Every lineage
    * cut writes files under a set directory, so one left set would
    * switch every later suite in the JVM to them. */
  def withCheckpointDir[T](dir: String)(body: => T): T = {
    val sc = spark.sparkContext
    val was = sc.getCheckpointDir
    sc.setCheckpointDir(dir)
    try body finally org.apache.spark.CheckpointDirs.restore(sc, was)
  }

  /** The number of regular files under `dir`, recursively. */
  def filesUnder(dir: String): Long = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try s.filter(java.nio.file.Files.isRegularFile(_)).count() finally s.close()
  }

  /** A private copy of fixture directory `d`. `CachedFrames` and the
    * materialized layouts key on the dataset path, so a run on a copy
    * computes its frames instead of reading what an earlier run built
    * (a second session would share Spark's cache of identical plans,
    * and evicting its entries would drop the main session's). */
  def fixtureCopy(d: String): String = {
    import java.nio.file.{Files, Paths}
    val src = Paths.get(d)
    val dst = Files.createTempDirectory("graft-fixture")
    Files.walk(src).forEach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    }
    dst.toString
  }

  /** `body` with one SQL conf set, restoring its previous value after. */
  def withConf[T](key: String, value: String)(body: => T): T = {
    val was = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally was match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // µs, not the stats-less INT96 default: written layouts must be
      // row-group-prunable on their time column (ZOrderSpec measures it)
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      // the graft rules and SQL functions plan every query from the
      // first one on, not only after some query happened to install them
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
