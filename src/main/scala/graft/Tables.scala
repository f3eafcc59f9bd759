package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Loaders for the driver's parquet tables (TESTDATA.md). */
object Tables {

  /** Fixture timestamp columns arrive in whatever physical form the
    * fixture writer chose — µs with no timezone annotation reads as
    * TIMESTAMP_NTZ, which time functions (`unix_micros`) reject at
    * analysis time. Normalize every timestamp column to TimestampType on
    * read: the session TZ is pinned to UTC, so the cast is
    * value-preserving, and operators never see a type that depends on
    * which writer produced the parquet (the round-9 fixture regeneration
    * flipped events.ts under the suite exactly this way). */
  private def normTs(df: DataFrame): DataFrame = {
    val ntz = df.schema.fields.collect {
      case f if f.dataType.isInstanceOf[TimestampNTZType] => f.name
    }
    ntz.foldLeft(df)((d, c) => d.withColumn(c, col(c).cast(TimestampType)))
  }

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    normTs(parquet(spark, s"$dir/$name.parquet"))

  /** Per path: the digest of the file set and the schema inferred from it. */
  private val schemas =
    new java.util.concurrent.ConcurrentHashMap[String, (String, StructType)]()

  /** `spark.read.parquet(path)` without a schema-inference job per call.
    * Inference reads parquet footers in a Spark job, and a dashboard
    * panel re-reads the same table on every refresh, so unremembered
    * that job is a fixed cost of every panel. The inferred schema is remembered per path and
    * passed to `spark.read.schema(...)`, and it is trusted only while the
    * read's own file index, which has already listed the path, holds the
    * same files (paths, sizes, modification times) under the same
    * schema-affecting confs. A changed file set (an appended chunk, a
    * compaction, an overwrite) infers the schema again. */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    Option(schemas.get(path)).flatMap { case (digest, schema) =>
      val df = spark.read.schema(schema).parquet(path)
      if (filesDigest(df).contains(digest)) Some(df) else None
    }.getOrElse {
      val df = spark.read.parquet(path)
      filesDigest(df).foreach(d => schemas.put(path, (d, df.schema)))
      df
    }
  }

  /** Digest of the files a parquet read's index listed, plus the confs
    * that change what inference makes of them; None when the read is
    * not a file-index scan. */
  private def filesDigest(df: DataFrame): Option[String] = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    df.queryExecution.analyzed.collectFirst { case l: LogicalRelation => l.relation }.collect {
      case fs: HadoopFsRelation =>
        val conf = df.sparkSession.sessionState.conf
        val files = fs.location.listFiles(Nil, Nil).flatMap(_.files)
          .map(f => s"${f.getPath}\t${f.getLen}\t${f.getModificationTime}").sorted
        val confs = Seq(conf.isParquetBinaryAsString, conf.isParquetINT96AsTimestamp,
          conf.legacyParquetNanosAsLong, conf.parquetInferTimestampNTZEnabled,
          conf.caseSensitiveAnalysis, conf.isParquetSchemaMergingEnabled,
          conf.isParquetSchemaRespectSummaries).mkString(",")
        val md = java.security.MessageDigest.getInstance("SHA-256")
        (confs +: files).foreach(s => md.update((s + "\n").getBytes("UTF-8")))
        md.digest().map("%02x".format(_)).mkString
    }
  }

  /** Local-mode parallelism fix for compute-heavy scans: the test tables
    * are single small parquet files, so Spark plans ONE scan task and a
    * per-row-expensive pipeline (minhash, JSON parse) runs on one core.
    * On a real cluster file splits/many files provide this parallelism,
    * so the repartition is GATED: it only fires when the scan plans
    * fewer partitions than the session's parallelism. At 100 TB the scan
    * has thousands of splits and this is a no-op — no shuffle of the
    * fact table in front of a map-only stage. */
  def fanOut(df: DataFrame): DataFrame = {
    // a streaming frame gets its parallelism from the source's own
    // partitioning; a batch frame is probed via scan METADATA below
    if (df.isStreaming) return df
    val spark = df.sparkSession
    val target = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val parallelism = math.min(target, spark.sparkContext.defaultParallelism)
    if (scanPartitionFloor(df).exists(_ < parallelism)) df.repartition(target)
    else df
  }

  /** Driver-side LOWER BOUND on the frame's task count, from the scan
    * relations' file metadata — replaces the earlier
    * `df.rdd.getNumPartitions` probe, which converted the plan to an
    * RDD on the driver on every call just to read a count. None means
    * "can't tell cheaply" and [[fanOut]] stays a no-op, matching the
    * old behavior for in-memory frames (whose parallelize already ran
    * at session parallelism). */
  private def scanPartitionFloor(df: DataFrame): Option[Int] = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val qe = df.queryExecution
    // an exchange anywhere in the plan already re-partitions downstream
    // work to spark.sql.shuffle.partitions — the scan split count is moot
    if (qe.sparkPlan.collectFirst { case e: ShuffleExchangeLike => e }.isDefined)
      return None
    val sc = df.sparkSession.sparkContext
    val conf = df.sparkSession.sessionState.conf
    val openCost = conf.filesOpenCostInBytes
    val perLeaf = qe.optimizedPlan.collectLeaves().map {
      case l: LogicalRelation => l.relation match {
        case fs: HadoopFsRelation =>
          // Spark's own FilePartition sizing: maxSplitBytes shrinks for
          // small scans down to the open-cost floor, so a several-MB
          // fixture file still yields multiple tasks. ceil(total/split)
          // under that same shrink tracks the packed task count (the
          // per-file open-cost padding can overshoot by 1-2 on tiny
          // scans — which errs toward fanning out, the intended
          // local-mode direction; at scale both numbers dwarf the gate).
          val sizes = fs.location.listFiles(Nil, Nil).flatMap(_.files).map(_.getLen)
          val total = sizes.map(_ + openCost).sum
          val bytesPerCore = total / math.max(1, sc.defaultParallelism)
          val split = math.max(1L,
            math.min(conf.filesMaxPartitionBytes, math.max(openCost, bytesPerCore)))
          Some(((total + split - 1) / split).toInt)
        case _ => None
      }
      case r: org.apache.spark.sql.catalyst.plans.logical.Range =>
        Some(r.numSlices.getOrElse(sc.defaultParallelism))
      case _ => None
    }
    if (perLeaf.isEmpty || perLeaf.exists(_.isEmpty)) None
    else Some(math.max(1, perLeaf.flatten.sum))
  }

  /** events.ts additionally handles the nanosecond-int64 form (Spark 4
    * refuses ns as TimestampType; sessions set
    * `spark.sql.legacy.parquet.nanosAsLong` and this loader truncates
    * ns → µs, matching DuckDB's ns→µs cast, SURVEY.md §7.4); the NTZ
    * form is already normalized by [[table]]. */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = table(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => raw
    }
  }
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame = table(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
