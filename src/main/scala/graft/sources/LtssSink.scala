package graft.sources

import java.sql.{Connection, DriverManager, SQLException}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.message.StringMapMessage
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import graft.config.LtssConfig

/** Batch sinks for LTSS rows.
  *
  * The reference writes one PostgreSQL table, chunked into time partitions
  * by TimescaleDB (`create_hypertable('ltss','time')`, reference
  * __init__.py:337-344, chunk interval __init__.py:284-300). Here the
  * physical design maps to:
  *
  *  - **parquet/lakehouse layout**: `partitionBy(chunk)` where `chunk` is
  *    the time_bucket of the configured chunk interval (default 30 days) —
  *    Catalyst partition-prunes time-range scans exactly like chunk
  *    exclusion; plus `sortWithinPartitions(entity_id, time)` standing in
  *    for the composite `(entity_id, time DESC)` index (models.py:78-80)
  *    via parquet row-group min/max stats.
  *  - **JDBC**: micro-batch appends with per-batch transactions and
  *    bounded retry — strictly better than the reference's one
  *    row-per-transaction loop (__init__.py:207-218).
  */
object LtssSink {

  /** Operator-facing events (the migration sweep, bootstrap and
    * migration notices) go to the `graft.sources.LtssSink` logger as map
    * messages keyed by `event`. */
  private val logger = LogManager.getLogger(getClass.getName.stripSuffix("$"))

  private def event(name: String, fields: (String, Any)*): StringMapMessage =
    fields.foldLeft(new StringMapMessage().`with`("event", name)) {
      case (m, (k, v)) => m.`with`(k, String.valueOf(v))
    }

  /** Derived chunk column (partition key), e.g. `chunk=2024-01-01` for a
    * 30-day interval. Pure epoch arithmetic — the UTC day of the chunk
    * start — NOT `to_date` on a timestamp, which renders in the session
    * timezone and would disagree with [[chunkDateOf]]'s pruning bounds
    * on any non-UTC session. */
  def chunkCol(cfg: LtssConfig) = {
    val us = cfg.chunkTimeIntervalUs
    val dayUs = 86400000000L
    val floored = unix_micros(col("time")) - pmod(unix_micros(col("time")), lit(us))
    // exact integer FLOOR division (pmod is non-negative, so subtracting
    // it floors): LONG `div`, never a double `/` — double division loses
    // exactness past 2^53 µs and its cast-to-int truncates toward zero,
    // both of which disagree with chunkDateOf's floorMod arithmetic
    import org.apache.spark.sql.GraftColumns.{columnOf, expressionOf}
    val flooredDay = floored - pmod(floored, lit(dayUs))
    val days = columnOf(org.apache.spark.sql.catalyst.expressions.IntegralDivide(
      expressionOf(flooredDay), expressionOf(lit(dayUs))))
    date_add(lit(java.sql.Date.valueOf("1970-01-01")), days.cast("int"))
  }

  private def hadoopFs(spark: org.apache.spark.sql.SparkSession, path: String) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** The shared lifecycle-lock invariant: every surface that reads or
    * mutates a layout (scan, append, retention, compaction) refuses one
    * locked by an in-flight compaction or encoding migration. One
    * definition so the next surface cannot silently miss a guard. */
  private def requireUnlocked(
      marker: Option[LayoutMarker], path: String, before: String): Unit = {
    marker.flatMap(_.compacting).foreach { c =>
      throw new IllegalStateException(
        s"layout at $path has an unfinished compaction of chunk '$c' — " +
          s"run recoverCompaction $before")
    }
    marker.flatMap(_.migrating).foreach { t =>
      throw new IllegalStateException(
        s"layout at $path has an unfinished attributes-encoding migration " +
          s"to '$t' — re-run migrateAttributesEncoding to completion $before")
    }
  }

  /** In-JVM registry of layout paths with a lifecycle mutation IN
    * FLIGHT — the same-process face of the owner-token protocol (two
    * threads of one JVM share a pid, so the pid-liveness probe alone
    * cannot tell a concurrent sibling from this JVM's own crash
    * residue). */
  private val liveLifecycleOps =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** This process's lifecycle owner token: `host:pid:nonce`. A marker
    * stamped `<op>:<token>` identifies WHO holds the layout, so a
    * re-entrant runner can tell its predecessor's crash residue (safe
    * to take over — the documented recovery is re-running the
    * operation) from a LIVE concurrent appender (interleaving two
    * stage/retire/swap sequences on the same dirs can lose data). */
  private def ownerToken(): String = {
    val host = try java.net.InetAddress.getLocalHost.getHostName
      catch { case _: Exception => "unknown-host" }
    s"$host:${ProcessHandle.current().pid()}:${java.util.UUID.randomUUID().toString.take(8)}"
  }

  /** May THIS runner take over a layout whose marker holds `op` residue
    * stamped `residueToken`? Yes iff the stamp is provably not a live
    * concurrent owner: a legacy un-tokened stamp (pre-token vintage —
    * only crash residue survives without a process), a token whose pid
    * on THIS host is no longer alive, or this process's own pid (a
    * prior invocation in this JVM that threw; a live same-JVM sibling
    * is excluded by [[liveLifecycleOps]] before this is consulted). A
    * live pid on this host, or any token from ANOTHER host (no
    * liveness probe is possible across hosts), refuses — the caller
    * passes `force = true` only when the other runner is known dead. */
  private def residueTakeoverAllowed(residueToken: String): Boolean = {
    val parts = residueToken.split(':')
    if (parts.length < 2) return true // legacy un-tokened residue
    val (host, pidStr) = (parts(0), parts(1))
    val self = try java.net.InetAddress.getLocalHost.getHostName
      catch { case _: Exception => "unknown-host" }
    if (host != self) return false
    scala.util.Try(pidStr.toLong).toOption match {
      case None => true
      case Some(pid) =>
        pid == ProcessHandle.current().pid() ||
          !ProcessHandle.of(pid).map[Boolean](_.isAlive).orElse(false)
    }
  }

  /** Acquire the lifecycle lock for `op` ("appending", "zone-upsert")
    * on the layout at `path`: refuses a same-JVM concurrent holder, a
    * different in-flight operation, and live-owner residue (unless
    * `force`); passes crash residue of the SAME op — recovery there is
    * re-running it. Returns the marker to restamp. The caller MUST
    * release via [[releaseLifecycleLock]] (or by writing the final
    * marker and calling it) in a finally-free happy path — the in-JVM
    * slot is what excludes same-process races. */
  private def acquireLifecycleLock(
      path: String, op: String, marker: LayoutMarker, force: Boolean): Unit = {
    if (!liveLifecycleOps.add(s"$op@$path"))
      throw new IllegalStateException(
        s"a concurrent $op is already running against $path in this process")
    try {
      marker.migrating match {
        case Some(stamp) if stamp == op || stamp.startsWith(s"$op:") =>
          val residue = stamp.stripPrefix(op).stripPrefix(":")
          if (!force && !residueTakeoverAllowed(residue))
            throw new IllegalStateException(
              s"layout at $path is locked by a live $op owner '$residue' — " +
                "wait for it, or pass force=true only if that runner is known dead")
        case _ =>
          requireUnlocked(Some(marker), path, s"before $op")
      }
    } catch {
      case e: Throwable => liveLifecycleOps.remove(s"$op@$path"); throw e
    }
  }

  private def releaseLifecycleLock(path: String, op: String): Unit =
    liveLifecycleOps.remove(s"$op@$path")

  /** Retention: drop whole chunks older than the cutoff — the
    * TimescaleDB `drop_chunks` analog (the retention policy every LTSS
    * deployment pairs with its hypertable). Deletion is partition-dir
    * removal via the Hadoop filesystem (works on HDFS/S3A paths like
    * every other sink API): no scan, no rewrite, O(#dropped chunks)
    * calls. A failed delete THROWS rather than reporting the chunk as
    * dropped. Returns the dropped chunk values.
    *
    * The cutoff floors to the layout marker's RECORDED chunk interval
    * when present, like [[chunkScan]]'s pruning — with a mismatched
    * caller cfg (say 30-day against a 7-day layout) the naive floor can
    * sit far below `olderThan`, and a 7-day chunk lexically below that
    * cutoff may still hold rows INSIDE the retention window: aligned to
    * the true interval, `name < cutoff` implies the whole chunk ends at
    * or before `olderThan`. Refuses a layout locked by an in-flight
    * compaction or encoding migration: deleting a live chunk whose
    * hidden staged/retired copy survives would let the migration's
    * crash recovery RESURRECT the expired rows. */
  def dropChunks(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      olderThan: java.sql.Timestamp,
      cfg: LtssConfig = LtssConfig()): Seq[String] = {
    val (fs, root) = hadoopFs(spark, path)
    if (!fs.exists(root)) return Nil
    val marker = readLayoutMarker(spark, path)
    requireUnlocked(marker, path, "before applying retention")
    val effective = marker
      .map(m => cfg.copy(chunkTimeIntervalUs = m.chunkTimeIntervalUs))
      .getOrElse(cfg)
    val cutoff = chunkDateOf(olderThan, effective).toString
    fs.listStatus(root).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("chunk="))
      .filter(_.getPath.getName.stripPrefix("chunk=") < cutoff)
      .map { st =>
        if (!fs.delete(st.getPath, true))
          throw new java.io.IOException(s"retention failed to delete ${st.getPath}")
        st.getPath.getName.stripPrefix("chunk=")
      }
      .sorted
  }

  // ------------------------------------------------------------ layout swap

  /** The one layout-swap step. Compaction, the encoding migration and
    * the track-month append each replace a directory `live` by a
    * complete copy written beside it under a hidden `staged` name: `live`
    * is renamed aside to the hidden `retired` name when it exists,
    * `staged` is renamed in, and only then is `retired` dropped. Hidden
    * names start with a dot, so partition discovery never reads a key
    * twice, and at every crash point the rows survive in `live`, in a
    * staged copy carrying `_SUCCESS` (Spark writes it after the last data
    * file) or in `retired`. [[recoverSwap]] is the one rule that finds
    * them. A reader can see `live` absent for the instant between the
    * two renames; pair with a table format (Delta/Iceberg) where that
    * window must be zero. The rule relies on atomic directory renames, as
    * on HDFS and local disks. */
  private def swapIn(fs: FileSystem, live: Path, staged: Path, retired: Path): Unit = {
    if (fs.exists(live) && !fs.rename(live, retired))
      throw new java.io.IOException(s"could not retire $live; it is still live")
    if (!fs.rename(staged, live))
      throw new java.io.IOException(
        s"could not swap in $staged; the original, if any, is kept at $retired")
    fs.delete(retired, true)
  }

  /** The recovery rule for one key's [[swapIn]] dirs, whatever point the
    * swap stopped at, applied in order:
    *
    *  1. `live` holds data files: drop the hidden copies
    *     (`discarded_leftovers`);
    *  2. otherwise `staged` has `_SUCCESS`: swap it in (`completed_swap`);
    *  3. otherwise `retired` holds data files: restore it
    *     (`restored_original`);
    *  4. otherwise sweep the dirs that hold no data files and return None.
    *
    * A staged copy that holds data files but no `_SUCCESS` is never
    * trusted, and in case 4 it is kept for the operator rather than
    * deleted. Idempotent. */
  private def recoverSwap(
      fs: FileSystem, live: Path, staged: Path, retired: Path): Option[String] =
    if (hasDataFiles(fs, live)) {
      fs.delete(staged, true)
      fs.delete(retired, true)
      Some("discarded_leftovers")
    } else {
      fs.delete(live, true) // a husk without data files
      if (fs.exists(new Path(staged, "_SUCCESS"))) {
        swapIn(fs, live, staged, retired)
        Some("completed_swap")
      } else if (hasDataFiles(fs, retired)) {
        if (!fs.rename(retired, live))
          throw new java.io.IOException(s"could not restore $retired")
        fs.delete(staged, true)
        Some("restored_original")
      } else {
        Seq(staged, retired).filterNot(hasDataFiles(fs, _)).foreach(fs.delete(_, true))
        None
      }
    }

  /** A dir holds rows only if it holds a data file: `spark.read.parquet`
    * on a dir with none (crash residue, manual cleanup) throws "Unable to
    * infer schema". */
  private def hasDataFiles(fs: FileSystem, p: Path): Boolean =
    fs.exists(p) && fs.listStatus(p).exists { s =>
      val n = s.getPath.getName
      s.isFile && !n.startsWith("_") && !n.startsWith(".")
    }

  /** The keys `k` of the dirs `<prefix>k` directly under `root`: the
    * migration lists its chunks, live or left only as a hidden copy, and
    * the append its stranded months. */
  private def keysOf(fs: FileSystem, root: Path, prefixes: String*): Seq[String] =
    fs.listStatus(root).toSeq.filter(_.isDirectory).map(_.getPath.getName)
      .flatMap(n => prefixes.find(n.startsWith).map(n.stripPrefix)).distinct

  /** A chunk's live dir and its hidden staged and retired copies for `op`
    * ("compact" or "migrate"). */
  private def chunkDirs(root: Path, op: String, chunk: String): (Path, Path, Path) =
    (new Path(root, s"chunk=$chunk"), new Path(root, s".${op}_staged_chunk_$chunk"),
      new Path(root, s".${op}_retired_chunk_$chunk"))

  /** Compaction: rewrite one chunk's files into `targetFiles` files sorted
    * by `sortCols` (streaming micro-batches leave many small files per
    * chunk; parquet scan efficiency wants few large ones) and return the
    * size audit. Chunk-local, like TimescaleDB recompression, so
    * compaction runs incrementally behind ingest; the rewrite replaces the
    * chunk through [[swapIn]].
    *
    * Sorted by the `ltss_compress_plan` recommendation (segmentby,
    * orderby), this is TimescaleDB's `compress_chunk` after setting
    * `compress_segmentby`/`compress_orderby`: parquet's RLE/dictionary
    * pages encode the long same-value runs the sort creates, the
    * mechanism the report's `rle_ratio` predicts, and the audit row is
    * what a lifecycle job logs to prove the policy pays before rolling it
    * across 100 TB of chunks. */
  def compactChunk(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      chunk: String,
      targetFiles: Int = 1,
      sortCols: Seq[String] = Seq("entity_id", "time")): CompactionAudit = {
    val (fs, root) = hadoopFs(spark, path)
    val (live, staged, retired) = chunkDirs(root, "compact", chunk)
    // GENERATION STAMP: before any rename, the layout marker records the
    // in-flight chunk under a bumped generation, so a reader (chunkScan)
    // that arrives while the chunk dir is mid-swap — or after a crash
    // between the two renames — detects the state instead of silently
    // returning a partial layout. Cleared on success;
    // [[recoverCompaction]] repairs any crash point. A marker-less
    // legacy layout compacts unstamped, so the recovery rule settles its
    // crash residue here, after the in-flight check: a stamped crash is
    // left to recoverCompaction.
    val marker = readLayoutMarker(spark, path)
    requireUnlocked(marker, path, "before compacting")
    if (recoverSwap(fs, live, staged, retired).isEmpty)
      throw new java.io.FileNotFoundException(s"chunk '$chunk' of $path holds no data files")
    val (fb, bb) = parquetStats(fs, live)
    marker.foreach { m =>
      writeLayoutMarker(spark, path,
        m.copy(generation = m.generation + 1, compacting = Some(chunk)))
    }
    spark.read.parquet(live.toString)
      .repartition(targetFiles)
      .sortWithinPartitions(sortCols.map(col): _*)
      .write.mode(SaveMode.Overwrite).parquet(staged.toString)
    swapIn(fs, live, staged, retired)
    marker.foreach(m => writeLayoutMarker(spark, path,
      m.copy(generation = m.generation + 1, compacting = None)))
    val (fa, ba) = parquetStats(fs, live)
    CompactionAudit(chunk, sortCols, fb, bb, fa, ba)
  }

  /** Size audit of one [[compactChunk]] run: parquet file count and bytes
    * before/after the rewrite, plus the applied sort. */
  final case class CompactionAudit(
      chunk: String, sort_cols: Seq[String],
      files_before: Long, bytes_before: Long,
      files_after: Long, bytes_after: Long) {
    /** >1 = the recompression shrank the chunk; NaN when the chunk held
      * no parquet bytes after the rewrite (empty / parquet-less chunk —
      * a real division would poison JSON lifecycle logs with Infinity). */
    def ratio: Double =
      if (bytes_after == 0L) Double.NaN
      else bytes_before.toDouble / bytes_after.toDouble
  }

  /** Parquet file count + bytes under one chunk dir (data files only —
    * markers and hidden staging dirs excluded). */
  private def parquetStats(fs: FileSystem, dir: Path): (Long, Long) = {
    val files = fs.listStatus(dir).filter(st =>
      st.isFile && st.getPath.getName.endsWith(".parquet"))
    (files.length.toLong, files.map(_.getLen).sum)
  }

  /** Layout-side analog of the reference's attributes TEXT → JSONB
    * migration (`migrations.py:57-66`), for the PARQUET sink: rewrite an
    * existing `"json"`-encoded layout to Spark 4 VariantType
    * (`"variant"` — the JSONB mapping, SURVEY §1.2) IN PLACE, chunk by
    * chunk, so an established deployment gains `variant_get` extraction
    * without re-ingesting history. Protocol: the marker is stamped
    * `migratingEncoding` FIRST (readers, appenders, and compaction
    * refuse the layout while set — a half-migrated layout mixes physical
    * types across chunks and breaks schema merge), then every json chunk
    * is rewritten and replaced through [[swapIn]], and one final marker
    * write commits `attributesEncoding = "variant"` and lifts the lock.
    * Crash recovery is RE-RUNNING the migration: it lists the chunks
    * left only as a hidden copy too, settles each chunk's dirs by
    * [[recoverSwap]] (a chunk with no copy left is logged as
    * `migrate_sweep` and skipped), then skips chunks whose parquet
    * already holds variant — idempotent at every crash point. Returns
    * the chunks rewritten by THIS run. Scale: chunk-local rewrites
    * behind ingest, exactly like compaction — the reference migrates its
    * whole table in one ALTER because PostgreSQL can; a 100 TB layout
    * migrates incrementally, and the lock is what keeps readers correct
    * meanwhile. */
  def migrateAttributesEncoding(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      target: String = "variant"): Seq[String] = {
    require(target == "variant",
      s"only the json -> variant (JSONB) direction exists, got '$target'")
    val m0 = readLayoutMarker(spark, path).getOrElse(throw new IllegalStateException(
      s"layout at $path has no marker — its encoding is unknown; rewrite with " +
        "writeParquet(SaveMode.Overwrite, attributesEncoding = \"variant\") instead"))
    // a re-run resumes its own lock; every other lock refuses
    requireUnlocked(Some(m0.copy(migrating = m0.migrating.filterNot(_ == target))),
      path, "before migrating")
    if (m0.attributesEncoding == target && m0.migrating.isEmpty) return Nil
    val (fs, root) = hadoopFs(spark, path)
    if (m0.migrating.isEmpty)
      writeLayoutMarker(spark, path,
        m0.copy(generation = m0.generation + 1, migrating = Some(target)))
    // a crash between the renames leaves a chunk with NO live dir — a
    // live-only listing would skip it and the commit below would strand
    // its rows
    val chunks = keysOf(fs, root,
      "chunk=", ".migrate_staged_chunk_", ".migrate_retired_chunk_").sorted
    val done = scala.collection.mutable.ArrayBuffer.empty[String]
    for (c <- chunks) {
      val (live, staged, retired) = chunkDirs(root, "migrate", c)
      recoverSwap(fs, live, staged, retired) match {
        case None =>
          // named out loud: crash residue is the expected cause, but
          // externally-lost chunk FILES look identical from here, and a
          // silent sweep would mask that loss
          logger.warn(event("migrate_sweep", "chunk" -> c, "path" -> path,
            "message" -> ("no data files in the live or retired dirs and no " +
              "complete staged copy; sweeping the empty dirs and skipping the " +
              "chunk. If it ever held rows, they were lost outside this migration")))
        case Some(_) =>
          val df = spark.read.parquet(live.toString)
          if (df.schema("attributes").dataType !=
              org.apache.spark.sql.types.VariantType) {
            df.withColumn("attributes", parse_json(col("attributes")))
              .write.mode(SaveMode.Overwrite).parquet(staged.toString)
            swapIn(fs, live, staged, retired)
            done += c
          }
      }
    }
    val m1 = readLayoutMarker(spark, path).getOrElse(m0)
    writeLayoutMarker(spark, path, m1.copy(generation = m1.generation + 1,
      attributesEncoding = target, migrating = None))
    done.toSeq
  }

  /** Repair a compaction interrupted at any point: the marker's
    * `compacting` stamp names the chunk, and [[recoverSwap]] settles its
    * dirs. Idempotent; clears the stamp at the end. Returns the rule's
    * action, or None when no compaction was in flight; throws when no
    * copy of the chunk can be trusted. */
  def recoverCompaction(
      spark: org.apache.spark.sql.SparkSession, path: String): Option[String] = {
    val marker = readLayoutMarker(spark, path)
    marker.flatMap(m => m.compacting).map { chunk =>
      val (fs, root) = hadoopFs(spark, path)
      val (live, staged, retired) = chunkDirs(root, "compact", chunk)
      val action = recoverSwap(fs, live, staged, retired).getOrElse(
        throw new java.io.IOException(
          s"chunk '$chunk' of $path is unrecoverable: the live and retired copies " +
            "hold no data files and no staged copy is complete"))
      writeLayoutMarker(spark, path, marker.get.copy(compacting = None))
      action
    }
  }

  /** Render the `location` struct as WKT text for relational targets —
    * the reference stores `SRID=4326;POINT(lon lat)` into the geometry
    * column (models.py:61); JDBC has no struct mapping, so the WKT
    * string IS the wire format. Parquet targets keep the typed struct.
    * No-op when the column is absent or already a string. */
  def locationToWkt(ltss: DataFrame): DataFrame =
    ltss.schema.fields.find(_.name == "location") match {
      case Some(f) if f.dataType.typeName == "struct" =>
        ltss.withColumn("location",
          when(col("location").isNotNull,
            concat(lit("SRID=4326;POINT("), col("location.lon").cast("string"),
              lit(" "), col("location.lat").cast("string"), lit(")"))))
      case _ => ltss
    }

  /** Inverse of [[locationToWkt]]: the reference's WKT wire form
    * (`SRID=4326;POINT(lon lat)`, models.py:61) parsed back to the
    * engine's (lon, lat) struct. Anything that is not exactly that
    * shape — NULL, another SRID, a non-point — stays NULL rather than
    * fabricating coordinates. */
  def locationFromWkt(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val pat = "^SRID=4326;POINT\\(([-+0-9.eE]+) ([-+0-9.eE]+)\\)$"
    when(c.isNotNull && c.rlike(pat),
      struct(
        regexp_extract(c, pat, 1).cast("double").as("lon"),
        regexp_extract(c, pat, 2).cast("double").as("lat")))
  }

  /** Bulk import of an EXISTING reference deployment's table — the
    * migration path a real user of the reference needs on day one:
    * their history lives in PostgreSQL/TimescaleDB (models.py:27-44),
    * and switching engines starts with one parallel range-scan of it.
    * The read is PARTITIONED on the PK's time axis (the table's own
    * min/max bounds split into `numPartitions` ranges), so each
    * executor range-scans the composite `(time, entity_id)` index
    * server-side — at a real deployment's size this is the difference
    * between one cursor streaming 10⁹ rows and a cluster-wide ingest.
    * Pair with [[writeParquet]] to land the chunked layout and
    * [[locationFromWkt]] to restore the geo struct. */
  def importJdbc(
      spark: org.apache.spark.sql.SparkSession,
      cfg: LtssConfig,
      table: String = "ltss",
      numPartitions: Int = 32): DataFrame = {
    val props = new java.util.Properties()
    // bounds as text so the 1-row probe needs only string decoding;
    // DBMS-rendered timestamps parse back as partition bounds verbatim
    val bounds = spark.read.jdbc(cfg.dbUrl,
      s"(SELECT CAST(min(time) AS VARCHAR) AS lo, CAST(max(time) AS VARCHAR) AS hi " +
        s"FROM $table) graft_bounds", props).head()
    if (bounds.isNullAt(0) || bounds.getString(0) == bounds.getString(1))
      // empty table or a single distinct time: nothing to range-split
      spark.read.jdbc(cfg.dbUrl, table, props)
    else
      spark.read.format("jdbc")
        .option("url", cfg.dbUrl)
        .option("dbtable", table)
        .option("partitionColumn", "time")
        .option("lowerBound", bounds.getString(0))
        .option("upperBound", bounds.getString(1))
        .option("numPartitions", numPartitions)
        .load()
  }

  /** The chunk partition value covering a timestamp (UTC). */
  def chunkDateOf(ts: java.sql.Timestamp, cfg: LtssConfig): java.time.LocalDate = {
    val epochUs = ts.getTime * 1000L
    val floored = epochUs - java.lang.Math.floorMod(epochUs, cfg.chunkTimeIntervalUs)
    java.time.Instant.ofEpochMilli(floored / 1000L).atZone(java.time.ZoneOffset.UTC).toLocalDate
  }

  // ------------------------------------------------------------ layout marker

  /** Layout metadata recorded next to the data (underscore prefix →
    * invisible to partition discovery). The `set_chunk_time_interval`
    * analog: the reference re-applies the configured interval on every
    * startup (reference __init__.py:284-300); a parquet layout cannot
    * rechunk in place, so the interval (and any materialized attribute
    * keys) used at write time are RECORDED and later appends with a
    * different configuration are refused — silently mixing partition
    * widths in one directory would corrupt [[chunkScan]]'s pruning
    * bounds for the old chunks. */
  final case class LayoutMarker(
      chunkTimeIntervalUs: Long,
      attrKeys: Seq[(String, String)],
      generation: Long = 0L,
      compacting: Option[String] = None,
      /** How the `attributes` column is physically encoded: "json"
        * (string, the reference's wire form) or "variant" (Spark 4
        * VariantType — the modern JSONB mapping, SURVEY §1.2). Recorded
        * so appends cannot silently mix encodings in one layout. */
      attributesEncoding: String = "json",
      /** Set while [[migrateAttributesEncoding]] rewrites chunks to the
        * named target encoding: readers and appenders refuse the layout
        * until the migration commits (a half-migrated layout mixes
        * physical types across chunks — schema merge breaks). Recovery
        * is re-running the migration, which is idempotent per chunk. */
      migrating: Option[String] = None)

  private val MarkerName = "_ltss_layout.json"

  /** The file system the layout marker is read and written through. A
    * checksummed file system (the local one) is bypassed for its raw file
    * system: the marker is replaced by a rename, and a checksum file
    * renamed after its data would fail a read caught between the two. */
  private def rawFs(fs: FileSystem): FileSystem = fs match {
    case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
    case f => f
  }

  /** Replaces the small file `p` by `text` so that a concurrent reader
    * (through [[rawFs]]) sees the old file or the new one, never a
    * partial or absent file: the text goes to a hidden temp file that is
    * renamed over `p`. */
  private[graft] def replaceFile(fs: FileSystem, p: Path, text: String): Unit = {
    val raw = rawFs(fs)
    val tmp = new Path(p.getParent, s".${p.getName}.${java.util.UUID.randomUUID}")
    val out = raw.create(tmp, false)
    try out.write(text.getBytes("UTF-8"))
    finally out.close()
    // a local rename replaces the target atomically; HDFS refuses an
    // existing target there, and its FileContext rename replaces it
    // atomically instead
    if (!raw.rename(tmp, p))
      org.apache.hadoop.fs.FileContext.getFileContext(raw.getUri, raw.getConf)
        .rename(tmp, p, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    // a file written before this one through the checksummed file
    // system left a checksum that no longer matches it
    raw.delete(new Path(p.getParent, s".${p.getName}.crc"), false)
  }

  private def markerFile(spark: org.apache.spark.sql.SparkSession, path: String) = {
    val (fs, root) = hadoopFs(spark, path)
    (rawFs(fs), new Path(root, MarkerName))
  }

  def readLayoutMarker(
      spark: org.apache.spark.sql.SparkSession, path: String): Option[LayoutMarker] = {
    val (fs, p) = markerFile(spark, path)
    if (!fs.exists(p)) return None
    val in = fs.open(p)
    val text =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val interval = "\"chunkTimeIntervalUs\"\\s*:\\s*(\\d+)".r
      .findFirstMatchIn(text).map(_.group(1).toLong)
      .getOrElse(throw new java.io.IOException(s"malformed layout marker at $p: $text"))
    val keys = "\\[\"([^\"]+)\",\"([^\"]+)\"\\]".r
      .findAllMatchIn(text).map(m => m.group(1) -> m.group(2)).toSeq
    val generation = "\"generation\"\\s*:\\s*(\\d+)".r
      .findFirstMatchIn(text).map(_.group(1).toLong).getOrElse(0L)
    val compacting = "\"compacting\"\\s*:\\s*\"([^\"]+)\"".r
      .findFirstMatchIn(text).map(_.group(1))
    // absent in pre-variant markers -> "json", their only encoding
    val encoding = "\"attributesEncoding\"\\s*:\\s*\"([^\"]+)\"".r
      .findFirstMatchIn(text).map(_.group(1)).getOrElse("json")
    val migrating = "\"migratingEncoding\"\\s*:\\s*\"([^\"]+)\"".r
      .findFirstMatchIn(text).map(_.group(1))
    Some(LayoutMarker(interval, keys, generation, compacting, encoding, migrating))
  }

  /** Records `m` as the layout's marker through [[replaceFile]], so a
    * concurrent [[readLayoutMarker]] reads the old marker or the new one,
    * never a partial file. */
  private[graft] def writeLayoutMarker(
      spark: org.apache.spark.sql.SparkSession, path: String, m: LayoutMarker): Unit = {
    val (fs, p) = markerFile(spark, path)
    val keys = m.attrKeys.map { case (k, t) => s"""["$k","$t"]""" }.mkString("[", ",", "]")
    val compacting = m.compacting.map(c => s""","compacting":"$c"""").getOrElse("")
    val migrating = m.migrating.map(t => s""","migratingEncoding":"$t"""").getOrElse("")
    val text = s"""{"chunkTimeIntervalUs":${m.chunkTimeIntervalUs},"attrKeys":$keys""" +
      s""","generation":${m.generation}$compacting$migrating""" +
      s""","attributesEncoding":"${m.attributesEncoding}"}"""
    replaceFile(fs, p, text)
  }

  /** Time-range scan of the chunked layout with CHUNK EXCLUSION: the
    * time predicate is widened to a `chunk` partition predicate, so the
    * scan partition-prunes to the covered chunks before any file is
    * opened — the TimescaleDB hypertable chunk-exclusion analog
    * (reference __init__.py:337-344). The pruning bounds use the
    * interval RECORDED in the layout marker when present — the caller's
    * cfg cannot silently mis-prune a layout written with a different
    * interval. */
  def chunkScan(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      from: java.sql.Timestamp,
      to: java.sql.Timestamp,
      cfg: LtssConfig = LtssConfig()): DataFrame = {
    val marker = readLayoutMarker(spark, path)
    // a mid-swap chunk may be absent from the directory listing for the
    // instant between compaction's two renames — or forever, after a
    // crash between them; mid-migration, chunks mix physical types.
    // Refuse to silently return a partial or mis-typed layout.
    requireUnlocked(marker, path, "before scanning")
    val effective = marker
      .map(m => cfg.copy(chunkTimeIntervalUs = m.chunkTimeIntervalUs))
      .getOrElse(cfg)
    val lo = java.sql.Date.valueOf(chunkDateOf(from, effective))
    val hi = java.sql.Date.valueOf(chunkDateOf(to, effective))
    graft.Tables.parquet(spark, path)
      .filter(col("chunk").between(lit(lo), lit(hi)))
      .filter(col("time").between(lit(from), lit(to)))
  }

  /** Write LTSS rows as a time-chunked, entity-sorted parquet layout.
    *
    * `attrKeys` materializes configured JSON attribute keys as TYPED
    * COLUMNS `attr_<key>` at ingest (the GIN-expression-index analog of
    * the reference's JSONB index, models.py:75-77): predicates on the
    * extracted column push into the parquet scan instead of re-parsing
    * the JSON per row per query.
    *
    * An existing layout's marker is authoritative: appending with a
    * different chunk interval or attribute-key set throws (rewrite with
    * SaveMode.Overwrite to rechunk). */
  def writeParquet(
      ltss: DataFrame,
      path: String,
      cfg: LtssConfig = LtssConfig(),
      mode: SaveMode = SaveMode.Append,
      attrKeys: Seq[(String, String)] = Nil,
      /** "json" stores `attributes` as the wire-form JSON string;
        * "variant" parses it to Spark 4 VariantType at write (the
        * modern JSONB mapping, SURVEY §1.2): the parquet files then
        * hold the binary variant encoding, `variant_get` extractions
        * skip per-query string re-parsing, and malformed JSON fails AT
        * INGEST (loudly — P4 upstream drops invalid rows first) rather
        * than at every reader. Typed `attrKeys` remain the PRUNING
        * device either way: variant columns carry no min/max stats, so
        * predicates on variant extractions do not reach the scan
        * ([[graft.PlanSpec]] pins that contrast). */
      attributesEncoding: String = "json"): Unit = {
    val spark = ltss.sparkSession
    require(attributesEncoding == "json" || attributesEncoding == "variant",
      s"attributesEncoding must be 'json' or 'variant', got '$attributesEncoding'")
    // keys become identifiers in both the column name and the hand-built
    // marker JSON — restrict to identifier characters up front
    attrKeys.foreach { case (k, _) =>
      require(k.matches("[A-Za-z0-9_]+"),
        s"materialized attribute key '$k' must match [A-Za-z0-9_]+")
    }
    val marker = readLayoutMarker(spark, path)
    if (mode != SaveMode.Overwrite) {
      requireUnlocked(marker, path, "before appending")
      marker.foreach { m =>
        if (m.chunkTimeIntervalUs != cfg.chunkTimeIntervalUs)
          throw new IllegalStateException(
            s"layout at $path was written with chunk_time_interval " +
              s"${m.chunkTimeIntervalUs} µs; refusing to append with " +
              s"${cfg.chunkTimeIntervalUs} µs — mixed chunk widths would break " +
              "chunk exclusion. Rewrite the layout (SaveMode.Overwrite) to rechunk.")
        if (m.attrKeys != attrKeys)
          throw new IllegalStateException(
            s"layout at $path materializes attribute keys ${m.attrKeys}; " +
              s"refusing to append with $attrKeys — rewrite the layout to change them.")
        if (m.attributesEncoding != attributesEncoding)
          throw new IllegalStateException(
            s"layout at $path encodes attributes as '${m.attributesEncoding}'; " +
              s"refusing to append '$attributesEncoding' — mixed physical types in " +
              "one column break every reader. Rewrite the layout to re-encode, or " +
              "run migrateAttributesEncoding for the json -> variant direction.")
      }
    }
    // a marker-less layout WITH existing chunks predates the marker (or
    // lost it): its true chunk widths are unknown, so an append must NOT
    // stamp this writer's interval as authoritative — that would make
    // chunkScan prune the legacy chunks with the wrong bounds. The
    // layout stays marker-less (scans fall back to the caller's cfg, as
    // before the marker existed) until an Overwrite rebuilds it.
    val legacyUnmarked = mode != SaveMode.Overwrite && marker.isEmpty && {
      val (fs, root) = hadoopFs(spark, path)
      fs.exists(root) && fs.listStatus(root)
        .exists(st => st.isDirectory && st.getPath.getName.startsWith("chunk="))
    }
    val enriched = attrKeys.foldLeft(ltss) { case (df, (k, tpe)) =>
      df.withColumn(s"attr_$k", get_json_object(col("attributes"), s"$$.$k").cast(tpe))
    }
    // attrKeys extract from the STRING form above, so the two features
    // compose; the variant parse replaces the column last
    val encoded =
      if (attributesEncoding == "variant")
        enriched.withColumn("attributes", parse_json(col("attributes")))
      else enriched
    encoded
      .withColumn("chunk", chunkCol(cfg))
      .repartition(col("chunk"))
      .sortWithinPartitions(col("entity_id"), col("time"))
      .write
      .mode(mode)
      .partitionBy("chunk")
      .parquet(path)
    val next = LayoutMarker(cfg.chunkTimeIntervalUs, attrKeys,
      generation = marker.map(_.generation).getOrElse(0L),
      attributesEncoding = attributesEncoding)
    // an append that keeps the layout's configuration keeps its marker, so
    // a steady stream of appends never rewrites it; an overwrite deleted it
    if (!legacyUnmarked && (mode == SaveMode.Overwrite || !marker.contains(next)))
      writeLayoutMarker(spark, path, next)
  }

  /** Bucketed-table sink — the layout for REPEATED per-entity joins
    * (cross-source enrichment, as-of pairing against a second stream,
    * entity-dimension joins): the table pre-shuffles on `entity_id` at
    * write time (`bucketBy` + in-bucket sort on (entity_id, time)), so
    * every later equi-join or aggregation on the entity key plans with
    * NO exchange on this side — bucketing ≙ persisted shuffle, the same
    * trade the chunked layout makes for time pruning. Use the chunked
    * [[writeParquet]] layout when the axis of reuse is TIME (dashboards,
    * retention); use this one when it is the ENTITY key (joins) —
    * pinned by PlanSpec's exchange-free join assertion. */
  def writeBucketedTable(
      ltss: DataFrame, table: String, nBuckets: Int = 32): Unit =
    ltss.write
      .bucketBy(nBuckets, "entity_id")
      .sortBy("entity_id", "time")
      .mode(SaveMode.Overwrite)
      .saveAsTable(table)

  /** STORED TRAJECTORIES — the `ST_MakeLine` object as a layout: each
    * entity's ordered fix array, materialized per (entity, month
    * chunk). The reference stores one `Geometry("POINT", srid=4326)`
    * per row (models.py:35,44) and leaves line assembly to PostGIS
    * queries; a columnar engine materializes the line ONCE so track
    * consumers (length, bbox, rendering) read arrays instead of
    * re-sorting the corpus per query.
    *
    * Input contract: `(id, ts, seq, lat, lon)` with `(ts, seq)` a
    * per-id total order. Segmentation is the same time-chunking policy
    * as the history layout: one array per (id, month), NOT one per id —
    * an unbounded per-entity array is the collect-the-corpus
    * anti-pattern at 100 TB, while a chunk-bounded segment caps array
    * size at the entity's per-month fix rate no matter how many years
    * accumulate. Arrays are `sort_array`-ordered (struct order =
    * (ts, seq, …), a total order), so downstream leg math needs no
    * window; the layout is range-partitioned and sorted by
    * (id, chunk), so per-entity reads prune files and cross-segment
    * stitching (the lag-to-previous-segment join) is a co-located
    * window, not a shuffle. */
  def writeTrackLayout(pts: DataFrame, path: String, parts: Int = 32): Unit = {
    import org.apache.spark.sql.functions._
    val spark = pts.sparkSession
    pts.toDF("id", "ts", "seq", "lat", "lon")
      .withColumn("chunk", date_trunc("month", col("ts")))
      .groupBy(col("id"), col("chunk"))
      .agg(sort_array(collect_list(
        struct(col("ts"), col("seq"), col("lat"), col("lon")))).as("seg"))
      .withColumn("n_fixes", size(col("seg")))
      // month DIRECTORIES (chunk_key) so incremental maintenance
      // ([[appendTrackMonth]]) rewrites one month, never the layout;
      // `chunk` stays a DATA column — consumers are untouched
      .withColumn("chunk_key", date_format(col("chunk"), "yyyy-MM"))
      .repartitionByRange(parts, col("id"), col("chunk"))
      .sortWithinPartitions(col("id"), col("chunk"))
      .write.mode(SaveMode.Overwrite).partitionBy("chunk_key").parquet(path)
    // interval 0 = calendar-month chunking (non-uniform width — the
    // track layout's policy is date_trunc('month'), not a fixed µs grid)
    writeLayoutMarker(spark, path, LayoutMarker(0L, Nil))
  }

  /** INCREMENTAL track-layout maintenance — the batch landing path for
    * `trackSegmentStream`'s closed segments (and for month backfills):
    * an IDEMPOTENT per-(id, month) segment UPSERT into the layout
    * [[writeTrackLayout]] wrote. An incoming `(id, chunk)` REPLACES
    * any stored twin (a replayed emission is therefore a no-op by
    * content); entities and months not named stay byte-untouched —
    * only the affected month DIRECTORIES rewrite, which is what makes
    * this the daily-batch shape at 100 TB (the `dedup_incremental`
    * pattern applied to the layout: merge against the store's affected
    * slice, never rescan the corpus).
    *
    * Protocol, under the layout marker lock like every other lifecycle
    * mutation: stamp `migrating = "appending:<owner>"`, stage the merged
    * months under the hidden `.append_staged` dir (the stage READS
    * complete before any live dir moves), then replace each month dir
    * through [[swapIn]]. Crash recovery is RE-RUNNING the append with the
    * same segments: entry settles every stranded month by
    * [[recoverSwap]] (a retired month whose live twin vanished is the
    * only copy and is restored), and the merge is idempotent at every
    * crash point. Input columns: `(id, chunk, n_fixes, seg)` —
    * `trackSegmentStream`'s emission schema. Caller contract: run under
    * the SAME session timezone as the layout's writer (month keys are
    * session-tz calendar months, the layout's own chunking policy). */
  def appendTrackMonth(
      segments: DataFrame, path: String, parts: Int = 32,
      force: Boolean = false): Unit = {
    import org.apache.spark.sql.functions._
    val spark = segments.sparkSession
    val incoming = segments.toDF("id", "chunk", "n_fixes", "seg")
      .select(col("id"), col("chunk"), col("seg"), col("n_fixes"))
    val marker = readLayoutMarker(spark, path).getOrElse(
      throw new IllegalStateException(
        s"track layout at $path has no marker — rebuild it with " +
          "writeTrackLayout before appending"))
    // "appending:<owner>" residue from a DEAD owner is this protocol's
    // own crash face — recovery is re-running the append, so it passes;
    // a LIVE owner (same JVM, or a live pid on this host, or any other
    // host absent `force`) refuses: two interleaved stage/retire/swap
    // sequences on the same month dirs can lose a month. Any other lock
    // (compaction, encoding migration) refuses as usual.
    acquireLifecycleLock(path, "appending", marker, force)
    try {
    writeLayoutMarker(spark, path, marker.copy(
      generation = marker.generation + 1,
      migrating = Some(s"appending:${ownerToken()}")))
    val (fs, root) = hadoopFs(spark, path)
    val staged = new Path(root, ".append_staged")
    def monthDirs(k: String) = (new Path(root, s"chunk_key=$k"),
      new Path(staged, s"chunk_key=$k"), new Path(root, s".append_retired_$k"))
    // settle stranded months before the read: a month with no copy left
    // is new to this run
    keysOf(fs, root, ".append_retired_").foreach { k =>
      val (live, in, retired) = monthDirs(k)
      recoverSwap(fs, live, in, retired)
    }
    fs.delete(staged, true)
    // bounded planning collect: distinct MONTHS in the batch, not rows
    val monthKeys = incoming
      .select(date_format(col("chunk"), "yyyy-MM").as("k"))
      .distinct().collect().map(_.getString(0)).sorted.toSeq
    val existing = spark.read.parquet(path)
      .filter(col("chunk_key").isin(monthKeys: _*)) // partition-pruned
      .select(col("id"), col("chunk"), col("seg"), col("n_fixes"))
    val merged = existing
      .join(incoming.select(col("id"), col("chunk")), Seq("id", "chunk"), "left_anti")
      .unionByName(incoming)
      .withColumn("chunk_key", date_format(col("chunk"), "yyyy-MM"))
      .repartitionByRange(parts, col("id"), col("chunk"))
      .sortWithinPartitions(col("id"), col("chunk"))
    merged.write.mode(SaveMode.Overwrite).partitionBy("chunk_key")
      .parquet(staged.toString)
    for (k <- monthKeys) {
      val (live, in, retired) = monthDirs(k)
      swapIn(fs, live, in, retired)
    }
    fs.delete(staged, true)
    writeLayoutMarker(spark, path, marker.copy(
      generation = marker.generation + 2, migrating = None))
    } finally releaseLifecycleLock(path, "appending")
  }

  /** STORED ZONES — polygon STORAGE (the last §7.4 PostGIS-geometry
    * cut): each zone is one row `(zone_id, name, verts)` with the ring
    * as an ordered `array<struct<x:lon, y:lat>>`, plus materialized
    * bbox columns so consumers can SARGABLY prune before any exact
    * containment test (the same prune-then-exact shape as
    * `HaversineBoxRule`). The write REJECTS degenerate rings: fewer
    * than 3 vertices, or zero shoelace area (all vertices collinear —
    * no interior exists for containment to mean anything). Axis-
    * aligned rings — rectangles, the single most common real zone —
    * are FIRST-CLASS: every even-odd consumer nests its crossing test
    * under the straddle gate `(y1 > lat) != (y2 > lat)` (explicit
    * nested `when`/CASE, `GeoMath.insideRing`'s short-circuit), so a
    * horizontal edge contributes 0 crossings by construction and its
    * 0/0 slope is never evaluated — the same arbitrary-polygon
    * contract as PostGIS `ST_Within` over the reference's geometry
    * column (models.py:35,44). Zones are a dimension table (a
    * deployment has thousands, not billions) — stored sorted by id,
    * always broadcast by consumers. The table is replaced through
    * [[swapZones]]: `version` 0 stamps the stored zone_version + 1, and an
    * explicit one must exceed it. */
  def writeZoneLayout(zones: DataFrame, path: String, version: Long = 0L): Unit =
    swapZones(zones.sparkSession, path, version, force = false)(zones)

  /** The one zone-table write, shared by the redraw and [[upsertZones]].
    * Under the owner-token lock (op `zone-upsert`, stamped on the live
    * marker) it settles a crashed predecessor's hidden siblings with
    * [[recoverSwap]], writes the validated `rows` (built after that, so
    * an upsert merges against the settled layout) into the hidden
    * sibling `.<name>_zone_staged` and swaps it in through [[swapIn]].
    * The staged copy gets its marker before Spark's `_SUCCESS`, with
    * `generation` = the new zone_version, so the version moves with the
    * rows: a restarted stream whose checkpoint holds containment sets
    * computed against the old rings fails the requireZoneVersion gate
    * instead of silently diffing against the new table. Version 0 stamps
    * the live generation + 1 (a fresh directory stamps 1); an explicit
    * version must exceed the live one. A staged copy that never swapped
    * in was never visible, so its number may be used again. */
  private def swapZones(
      spark: org.apache.spark.sql.SparkSession, path: String, version: Long,
      force: Boolean)(rows: => DataFrame): Unit = {
    val (fs, live, staged, retired) = zoneDirs(spark, path)
    def markerNow = readLayoutMarker(spark, path).getOrElse(LayoutMarker(0L, Nil))
    acquireLifecycleLock(path, "zone-upsert", markerNow, force)
    try {
      recoverSwap(fs, live, staged, retired)
      val cur = markerNow
      require(version == 0L || version > cur.generation,
        s"writeZoneLayout version $version must exceed the stored " +
          s"zone_version ${cur.generation} (a redraw that keeps or lowers the version " +
          "would let restarted streams silently diff state held against " +
          "the retired rings); pass 0 to auto-bump")
      val frame = zoneLayoutFrame(rows) // a bad ring refuses before the stamp
      if (fs.exists(live))
        writeLayoutMarker(spark, path, cur.copy(migrating = Some(s"zone-upsert:${ownerToken()}")))
      fs.delete(staged, true)
      writeLayoutMarker(spark, staged.toString, LayoutMarker(0L, Nil,
        generation = if (version == 0L) cur.generation + 1 else version))
      frame.write.mode(SaveMode.Append).parquet(staged.toString)
      swapIn(fs, live, staged, retired)
    } finally releaseLifecycleLock(path, "zone-upsert")
  }

  /** The zone table's live dir and its hidden sibling staged and retired
    * copies. */
  private def zoneDirs(
      spark: org.apache.spark.sql.SparkSession, path: String): (FileSystem, Path, Path, Path) = {
    val (fs, live) = hadoopFs(spark, path)
    (fs, live, new Path(live.getParent, s".${live.getName}_zone_staged"),
      new Path(live.getParent, s".${live.getName}_zone_retired"))
  }

  /** The validated, bbox-materialized zone frame both the full rebuild
    * and the upsert stage write. EAGER validation (a planning-sized
    * collect over the dimension): a bad ring refuses the call before
    * any file moves. */
  private def zoneLayoutFrame(zones: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val z = zones.toDF("zone_id", "name", "verts")
    val nxt = concat(expr("slice(verts, 2, size(verts) - 1)"),
      expr("slice(verts, 1, 1)"))
    val bad = z.select(col("zone_id"), size(col("verts")).as("n"),
        aggregate(
          zip_with(col("verts"), nxt,
            (a, b) => a("x") * b("y") - b("x") * a("y")),
          lit(0.0), (acc, x) => acc + x).as("shoelace"))
      .filter(col("n") < 3 || col("shoelace") === 0.0)
      .collect()
    require(bad.isEmpty,
      s"zone layout rejects ${bad.map(_.getLong(0)).mkString(", ")}: " +
        "a ring needs >= 3 vertices and nonzero shoelace area (a zero-area " +
        "ring has no interior for containment to test)")
    z.withColumn("lat_min", array_min(transform(col("verts"), v => v("y"))))
      .withColumn("lat_max", array_max(transform(col("verts"), v => v("y"))))
      .withColumn("lon_min", array_min(transform(col("verts"), v => v("x"))))
      .withColumn("lon_max", array_max(transform(col("verts"), v => v("x"))))
      .orderBy(col("zone_id"))
  }

  /** The stored zone table's VERSION — the live layout marker's
    * generation, bumped by every [[writeZoneLayout]] and [[upsertZones]]
    * (a legacy marker-less layout reads 0). The streaming twins
    * ([[graft.streaming.StreamingOps.geoZonesStream]], `zonesDwellStream`)
    * stamp this into their per-entity state so held containment sets
    * computed against retired rings are detected on restart instead of
    * silently diffed against the redrawn table. A read in the instant
    * between a swap's two renames fails loudly, as the rows read does;
    * it never reads 0 or an older version. */
  def zoneLayoutVersion(
      spark: org.apache.spark.sql.SparkSession, path: String): Long = {
    def generation = readLayoutMarker(spark, path).map(_.generation)
    generation.getOrElse {
      // no marker: a legacy layout, or a swap between its renames, when
      // both siblings exist (the retired one until the swap ends); the
      // re-read returns the version of a swap that ended since
      val (fs, live, staged, retired) = zoneDirs(spark, path)
      if (fs.exists(staged) || fs.exists(retired) || !hasDataFiles(fs, live))
        throw new java.io.FileNotFoundException(
          s"zone layout at $path is mid-swap or missing; a crashed write is settled by the next one")
      generation.getOrElse(0L)
    }
  }

  /** Driver-side read of the stored zone dimension as the `(zone_id,
    * ring)` constant the streaming twins broadcast, plus its version —
    * the bootstrap call of the zone-version contract. */
  def readZones(
      spark: org.apache.spark.sql.SparkSession,
      path: String): (Seq[(Long, Seq[(Double, Double)])], Long) = {
    // the version first: a swap between the two reads then pins the new
    // rings to the older version, which the restart gate refuses loudly
    val version = zoneLayoutVersion(spark, path)
    val rows = spark.read.parquet(path)
      .select(col("zone_id"), col("verts")).orderBy(col("zone_id")).collect()
    val zones = rows.toIndexedSeq.map { r =>
      val ring = r.getSeq[org.apache.spark.sql.Row](1)
        .map(v => (v.getDouble(0), v.getDouble(1)))
      (r.getLong(0), ring)
    }
    (zones, version)
  }

  /** ZONE-DIMENSION lifecycle — add, REPLACE (by id), and drop zones in
    * the stored layout [[writeZoneLayout]] wrote: the maintenance a
    * geofence table needs as zones are drawn and retired. An incoming
    * `(zone_id, name, verts)` row replaces any stored twin; ids named
    * in `dropIds` are removed; everything else carries over. The MERGED
    * set re-runs the full write gate (≥3 vertices, nonzero shoelace
    * area) and re-materializes every bbox, so a bad incoming ring
    * REFUSES the whole upsert and the stored layout stays untouched —
    * validation happens before any file moves because the merge is
    * staged through the driver, which is the RIGHT shape here: the
    * zone table is a broadcast DIMENSION (thousands of rows, not
    * billions — the [[writeZoneLayout]] contract), so collecting and
    * atomically rewriting kilobytes beats partial-update machinery at
    * any deployment size (the same dimension-sized-collect class as
    * the centroid planning tables). Replaying the same upsert is a
    * no-op by content (modulo one version bump per replay).
    *
    * Lifecycle contract (r16): incoming zone_ids must be DISTINCT — a
    * batch carrying two versions of one zone is ambiguous and refuses
    * before anything moves. The rewrite is the redraw's: under the
    * owner-token marker lock ([[acquireLifecycleLock]] — same protocol as
    * [[appendTrackMonth]], `force` as there) the merged layout is staged
    * beside the live one and swapped in ([[swapZones]]); a crashed
    * predecessor is settled at entry by [[recoverSwap]]. Every successful
    * upsert bumps the layout's zone_version (marker generation), which the
    * streaming twins pin their state to. */
  def upsertZones(
      zones: DataFrame, path: String, dropIds: Seq[Long] = Nil,
      force: Boolean = false): Unit = {
    val spark = zones.sparkSession
    val incoming = zones.toDF("zone_id", "name", "verts")
    val incomingIds = incoming.select(col("zone_id")).collect().map(_.getLong(0))
    val dup = incomingIds.groupBy(identity).collect { case (id, hits) if hits.length > 1 => id }
    require(dup.isEmpty,
      s"upsertZones requires distinct incoming zone_ids — duplicated: " +
        s"${dup.toSeq.sorted.mkString(", ")} (two versions of one zone in " +
        "a batch is ambiguous; pre-reduce to the intended row per id)")
    val gone = (dropIds ++ incomingIds).toSet
    swapZones(spark, path, version = 0L, force) {
      spark.read.parquet(path)
        .select(col("zone_id"), col("name"), col("verts"))
        .filter(!col("zone_id").isin(gone.toSeq: _*))
        .unionByName(incoming)
    }
  }

  /** Per-backend column types for the dynamic columns — the analog of
    * the reference's Postgres-specific DDL (`attributes JSONB`,
    * `__init__.py:315-344`). `null` arguments to [[bootstrapJdbc]]
    * resolve through this; explicit arguments override. */
  def defaultTypesFor(url: String): (String, String) =
    if (url.startsWith("jdbc:postgresql")) ("JSONB", "VARCHAR(255)")
    else ("VARCHAR(32000)", "VARCHAR(255)")

  /** D1 + L1: startup bootstrap, mirroring the reference's
    * `_setup_connection`/`_create_table` (__init__.py:257-344) and its
    * connect-retry loop (__init__.py:124-139, ≤10 tries × 3 s):
    * connect with bounded retry (throwing the last error once exhausted —
    * the analog of the reference's give-up + user notification,
    * __init__.py:141-153), introspect the catalog, and create the table
    * with explicit column types and the composite PK `(time, entity_id)`
    * (migrations.py:88-95) only if missing. Returning normally IS the
    * readiness signal a caller can await. `connect`/`sleep` are
    * injectable for tests.
    *
    * On a PostgreSQL target the reference's EXTENSION-ADAPTIVE path is
    * replayed in its order (__init__.py:270-344):
    *
    *  - `pg_available_extensions` is probed once per start
    *    (__init__.py:273-278);
    *  - table creation with PostGIS available (and the location flag
    *    on) first runs `CREATE EXTENSION IF NOT EXISTS postgis CASCADE`
    *    and types the column `geometry(Point,4326)` — the reference's
    *    `Geometry("POINT", srid=4326)` (models.py:35,44 via
    *    activate_location_extraction, __init__.py:319-328); without
    *    PostGIS the column stays the WKT-text wire form
    *    ([[locationToWkt]] writes EWKT either way, which PostGIS casts
    *    implicitly);
    *  - with TimescaleDB available, creation is followed by
    *    `CREATE EXTENSION IF NOT EXISTS timescaledb CASCADE` and
    *    `create_hypertable('<t>','time', if_not_exists => TRUE)`
    *    (__init__.py:330-344), and EVERY start — created or not —
    *    re-applies `set_chunk_time_interval` with the configured µs
    *    width (__init__.py:284-300; integer intervals are µs for
    *    timestamp partition columns). A pre-existing plain table under
    *    an available TimescaleDB logs the reference's
    *    "not a hypertable" warning instead of failing (__init__.py:
    *    292-299, the UndefinedTable tolerance).
    *
    * Returns the DDL actions taken (empty = nothing to do), so specs
    * and operators can assert the adaptive branch on record. */
  def bootstrapJdbc(
      cfg: LtssConfig,
      table: String = "ltss",
      attributesType: String = null,
      locationType: String = null,
      maxRetries: Int = 10,
      retryWaitMs: Long = 3000L,
      sleep: Long => Unit = Thread.sleep,
      connect: String => Connection = url => DriverManager.getConnection(url),
      log: String => Unit = m => logger.warn(event("bootstrap", "message" -> m))): Seq[String] = {
    val (defAttrs, defLoc) = defaultTypesFor(cfg.dbUrl)
    val attrsType = Option(attributesType).getOrElse(defAttrs)
    var attempt = 0
    var conn: Connection = null
    while (conn == null) {
      try conn = connect(cfg.dbUrl)
      catch {
        case e: SQLException =>
          // the reference retries any connect failure; we retry only
          // connection-class errors and fail fast on non-transient ones
          // (bad URL, missing database, auth) — waiting can't fix those
          attempt += 1
          if (!isTransient(e) || attempt >= maxRetries) {
            // the give-up SURFACES before the throw — the analog of the
            // reference's persistent user notification ("LTSS could not
            // start, please check the log", __init__.py:141-153); the
            // rethrow is the readiness future's False
            log(s"[ltss-bootstrap] LTSS could not start: connection to " +
              s"'${cfg.dbUrl}' failed after $attempt attempt(s) — " +
              s"${e.getClass.getSimpleName}: ${e.getMessage}")
            throw e
          }
          sleep(retryWaitMs)
      }
    }
    val actions = scala.collection.mutable.ArrayBuffer.empty[String]
    try {
      def exec(sql: String): Unit = {
        val st = conn.createStatement()
        try st.execute(sql)
        finally st.close()
      }
      // one catalog probe per start, like the reference's dict
      // comprehension over pg_available_extensions — available ≠
      // installed; CREATE EXTENSION below does the installing
      val extensions: Set[String] =
        if (!postgresDialect(cfg.dbUrl)) Set.empty
        else {
          val st = conn.createStatement()
          try {
            val rs = st.executeQuery("SELECT name FROM pg_available_extensions")
            val out = scala.collection.mutable.Set.empty[String]
            try while (rs.next()) out += rs.getString(1)
            finally rs.close()
            out.toSet
          } finally st.close()
        }
      val postgis = extensions.contains("postgis")
      val timescale = extensions.contains("timescaledb")
      val locType = Option(locationType).getOrElse(
        if (postgis) "geometry(Point,4326)" else defLoc)
      // exact-name catalog probe (case variants cover folding dialects) —
      // not a full-catalog scan, and not fooled by same-named tables it
      // would never write to: getTables' name argument has LIKE
      // semantics, so an unescaped `_` in the table name matches ANY
      // character (`ltss_v2` ≙ `ltssXv2`) and a sibling's existence
      // would silently skip creation of the real table
      val (pat, schemaPat) = likePatterns(conn)
      def probe(name: String): Boolean = {
        val rs = conn.getMetaData.getTables(null, schemaPat, pat(name), Array("TABLE"))
        try rs.next()
        finally rs.close()
      }
      val exists = probe(table) || probe(table.toUpperCase) || probe(table.toLowerCase)
      if (!exists) {
        if (postgis && cfg.enableLocation) {
          exec("CREATE EXTENSION IF NOT EXISTS postgis CASCADE")
          actions += "create_extension_postgis"
        }
        // location column only when the config enables it — the analog of
        // the reference's PostGIS-presence adaptivity (__init__.py:319-328)
        val locCol = if (cfg.enableLocation) s", location $locType" else ""
        exec(s"CREATE TABLE $table (" +
          "time TIMESTAMP NOT NULL, " +
          "entity_id VARCHAR(255) NOT NULL, " +
          "state VARCHAR(255), " +
          s"attributes $attrsType$locCol, " +
          "PRIMARY KEY (time, entity_id))")
        actions += "create_table"
        // the reference's create_all emits the table AND its two
        // indexes together (models.py:75-80) — creating them here keeps
        // a fresh table fully current, so the startup migration ladder
        // probes find nothing pending (it exists for LEGACY tables)
        if (postgresDialect(cfg.dbUrl)) {
          exec(s"CREATE INDEX ${table}_attributes_idx ON $table USING GIN (attributes)")
          actions += "attributes_index"
        }
        exec(s"CREATE INDEX ${table}_entityid_time_composite_idx " +
          s"ON $table (entity_id, time DESC)")
        actions += "entityid_time_composite_index"
        if (timescale) {
          exec("CREATE EXTENSION IF NOT EXISTS timescaledb CASCADE")
          actions += "create_extension_timescaledb"
          exec(s"SELECT create_hypertable('$table', 'time', if_not_exists => TRUE)")
          actions += "create_hypertable"
        }
      }
      if (timescale) {
        // chunk width is re-appliable after first setup — the one knob
        // the reference adjusts on EVERY start (__init__.py:284-290)
        try {
          exec(s"SELECT set_chunk_time_interval('$table', ${cfg.chunkTimeIntervalUs})")
          actions += "set_chunk_time_interval"
        } catch {
          case e: SQLException if e.getSQLState == "42P01" =>
            // UndefinedTable from inside set_chunk_time_interval: the
            // table exists but is NOT a hypertable — the reference logs
            // exactly this and carries on (__init__.py:292-299)
            log(s"[ltss-bootstrap] TimescaleDB is available but table " +
              s"'$table' is not a hypertable; chunk interval not applied")
        }
      }
      actions.toSeq
    } finally conn.close()
  }

  /** D2 — the reference's startup MIGRATION REPLAY (migrations.py:10-54),
    * re-expressed for the JDBC sink: inspect the live table and bring a
    * legacy deployment's schema to the current one, in the reference's
    * own order. Each step applies only when its probe finds the legacy
    * state, so a current table is a no-op and the call is idempotent —
    * run it at startup right after [[bootstrapJdbc]], exactly where the
    * reference calls `check_and_migrate` (__init__.py:257-263):
    *
    *  1. `attributes` stored as text → `ALTER … TYPE JSONB USING
    *     attributes::JSONB` (migrations.py:20-27,57-66);
    *  2. missing attributes GIN index → create
    *     `<table>_attributes_idx` (migrations.py:29-35,69-71 /
    *     models.py:47-50);
    *  3. missing composite index → create
    *     `<table>_entityid_time_composite_idx (entity_id, time DESC)`,
    *     then drop the superseded single-column `ix_<table>_entity_id`
    *     (migrations.py:37-46,74-85 / models.py:52-56);
    *  4. legacy surrogate `id` column → re-point the PRIMARY KEY at
    *     `(time, entity_id)` (CASCADE, one transaction) and drop the
    *     column (migrations.py:48-53,88-103).
    *
    * Returns the applied step names (empty = already current). With
    * `dryRun = true` nothing executes — the probes alone run and the
    * PENDING step names come back, the device ingest startup uses to
    * log what an un-opted-in table still needs (see
    * [[graft.config.LtssConfig.autoMigrate]]). Probes go
    * through `information_schema`/`pg_indexes` SQL — the same inspector
    * surface SQLAlchemy's `inspect(engine)` reads — filtered to the
    * connection's current schema so a same-named table elsewhere on the
    * search path can neither trigger nor suppress a step. Non-PostgreSQL
    * URLs return empty: every legacy state this replays was produced by
    * the reference, which only ever wrote PostgreSQL (models.py:27). */
  def checkAndMigrate(
      cfg: LtssConfig,
      table: String = "ltss",
      connect: String => Connection = url => DriverManager.getConnection(url),
      dryRun: Boolean = false,
      log: String => Unit = m => logger.warn(event("migrate", "message" -> m))): Seq[String] = {
    if (!cfg.dbUrl.startsWith("jdbc:postgresql")) return Nil
    val applied = scala.collection.mutable.ArrayBuffer.empty[String]
    val conn = connect(cfg.dbUrl)
    try {
      def exec(sql: String): Unit = if (!dryRun) {
        val st = conn.createStatement(); try st.execute(sql) finally st.close()
      }
      def queryCol(sql: String): Seq[String] = {
        val st = conn.createStatement()
        try {
          val rs = st.executeQuery(sql)
          val out = scala.collection.mutable.ArrayBuffer.empty[String]
          try while (rs.next()) out += rs.getString(1)
          finally rs.close()
          out.toSeq
        } finally st.close()
      }
      // TWO derivations of the folded name, one per SQL context: `tId`
      // stays RAW for identifier positions (qi doubles its embedded
      // double-quotes; a single quote passes through untouched), `t`
      // doubles single quotes for string-LITERAL positions (probe
      // WHERE clauses, catalog-name comparisons read back raw). Feeding
      // the literal-escaped form to qi would make DDL and probes
      // reference DIFFERENT names for a table containing a quote.
      val tId = table.toLowerCase
      val t = tId.replace("'", "''")
      // DDL identifiers are QUOTED forms of the same folded name the
      // probes use — unquoted `$table` interpolation would re-fold (or
      // break on) a name that needs quoting, and the quoted lowercase
      // form is identical to today's unquoted behavior for every name
      // bootstrapJdbc can have created
      def qi(ident: String): String = "\"" + ident.replace("\"", "\"\"") + "\""
      val qt = qi(tId)
      // (column, udt) pairs of the live table — one probe, reused by
      // steps 1 and 4, like the reference's single inspect() call
      val colUdt = queryCol(
        s"""SELECT column_name || ':' || udt_name FROM information_schema.columns
           | WHERE table_schema = current_schema() AND table_name = '$t'""".stripMargin)
        .map { kv => val Array(c, u) = kv.split(":", 2); c -> u }.toMap
      if (colUdt.isEmpty)
        throw new SQLException(s"checkAndMigrate: table $table does not exist", "42P01")
      def indexes: Set[String] = queryCol(
        s"""SELECT indexname FROM pg_indexes
           | WHERE schemaname = current_schema() AND tablename = '$t'""".stripMargin).toSet
      // 1. attributes text → JSONB (the reference warns "this might take
      // a couple of minutes" — a full-table rewrite, same here)
      if (colUdt.get("attributes").exists(u => u == "text" || u.startsWith("varchar"))) {
        exec(s"ALTER TABLE $qt ALTER COLUMN attributes TYPE JSONB " +
          "USING attributes::JSONB")
        applied += "attributes_text_to_jsonb"
      }
      // 2. attributes GIN index (after step 1: GIN's jsonb opclass
      // requires the migrated type, the order the reference relies on)
      if (!indexes.contains(s"${tId}_attributes_idx")) {
        exec(s"CREATE INDEX ${qi(s"${tId}_attributes_idx")} ON $qt USING GIN (attributes)")
        applied += "attributes_index"
      }
      // 3. composite (entity_id, time DESC) index; separately, the
      // obsolete per-column index the composite supersedes. The
      // reference nests the drop under the create (migrations.py:43-46),
      // which leaves the legacy index behind forever if a run crashes
      // between the two statements — probing each independently makes a
      // crashed ladder CONVERGE on re-run instead.
      if (!indexes.contains(s"${tId}_entityid_time_composite_idx")) {
        exec(s"CREATE INDEX ${qi(s"${tId}_entityid_time_composite_idx")} " +
          s"ON $qt (entity_id, time DESC)")
        applied += "entityid_time_composite_index"
      }
      if (indexes.contains(s"ix_${tId}_entity_id")) {
        exec(s"DROP INDEX ${qi(s"ix_${tId}_entity_id")}")
        applied += "drop_entityid_index"
      }
      // 4. surrogate id column → composite PK, then drop the column.
      // One transaction, as in the reference (engine.begin()): a crash
      // between the PK swap and the column drop must not strand the
      // table PK-less or doubly-keyed. The PK constraint is dropped BY
      // ITS CATALOG NAME, not the `<table>_pkey` the reference assumes
      // (migrations.py:91) — a table that was ever RENAMED keeps its
      // original constraint name, and `DROP ... IF EXISTS <wrong>_pkey`
      // would silently no-op before ADD PRIMARY KEY fails with
      // "multiple primary keys". The catalog lookups join through
      // pg_class/pg_namespace pinned to current_schema() — a bare
      // `'$t'::regclass` resolves via the search path, so a same-named
      // table earlier on it would hand back the WRONG constraint name.
      if (colUdt.contains("id")) {
        val pkName = queryCol(
          s"""SELECT con.conname FROM pg_constraint con
             | JOIN pg_class c ON c.oid = con.conrelid
             | JOIN pg_namespace n ON n.oid = c.relnamespace
             | WHERE n.nspname = current_schema() AND c.relname = '$t'
             |   AND con.contype = 'p'""".stripMargin)
          .headOption.getOrElse(s"${tId}_pkey")
        // CASCADE mirrors the reference (migrations.py:91) but is not
        // silent about it: any foreign key in OTHER tables that
        // references this PK goes down with it — surface each one
        // before the drop so an operator can see what the migration
        // took (and a dry run can warn about it without touching
        // anything).
        val cascaded = queryCol(
          s"""SELECT rc.relname || '.' || con.conname
             | FROM pg_constraint con
             | JOIN pg_class rc ON rc.oid = con.conrelid
             | JOIN pg_class c ON c.oid = con.confrelid
             | JOIN pg_namespace n ON n.oid = c.relnamespace
             | WHERE n.nspname = current_schema() AND c.relname = '$t'
             |   AND con.contype = 'f'
             | ORDER BY 1""".stripMargin)
        if (cascaded.nonEmpty)
          log(s"[ltss-migrate] dropping PK '$pkName' on $tId CASCADEs these " +
            s"referencing foreign keys: ${cascaded.mkString(", ")}")
        if (!dryRun) {
          conn.setAutoCommit(false)
          try {
            exec(s"ALTER TABLE $qt " +
              s"DROP CONSTRAINT IF EXISTS ${qi(pkName)} CASCADE, " +
              "ADD PRIMARY KEY (time, entity_id)")
            exec(s"ALTER TABLE $qt DROP COLUMN id")
            conn.commit()
          } catch { case e: Throwable => conn.rollback(); throw e }
          finally conn.setAutoCommit(true)
        }
        applied += "remove_id_column"
      }
      applied.toSeq
    } finally conn.close()
  }

  /** LIKE-pattern hygiene for the JDBC catalog probes: an escaper for
    * the `_`/`%` wildcards (using the driver's own escape string) and
    * the connection's current schema as the schema pattern, so a probe
    * for table X matches exactly X in exactly the schema writes go to.
    * Drivers that support neither call (the test-scope wire client
    * throws on unimplemented metadata methods) degrade to the
    * unconstrained probe rather than failing startup. */
  private def likePatterns(conn: Connection): (String => String, String) = {
    val esc =
      try Option(conn.getMetaData.getSearchStringEscape).filter(_.nonEmpty)
      catch { case _: Exception => None }
    def pat(s: String): String = esc match {
      case Some(e) =>
        s.replace(e, e + e).replace("_", e + "_").replace("%", e + "%")
      case None => s
    }
    val schemaPat =
      try Option(conn.getSchema).map(pat).orNull
      catch { case _: Exception => null }
    (pat, schemaPat)
  }

  /** LOCATION-COLUMN RE-DETECTION — the reference's startup adaptivity
    * (`__init__.py:303-308` introspects the live table's columns every
    * start; `models.py:38-43`: once location is activated it cannot be
    * deactivated): for an EXISTING table the stored schema overrides
    * the configured `enableLocation` in both directions — a table with
    * the column keeps receiving locations even if the config dropped
    * the flag (no silent column starvation), and a table without it
    * never gets location writes the DDL can't hold (the reference adds
    * the column only at first creation, never by migration). A missing
    * table returns the config unchanged — creation follows it. */
  def effectiveConfig(
      cfg: LtssConfig,
      table: String = "ltss",
      connect: String => Connection = url => DriverManager.getConnection(url)): LtssConfig = {
    val conn = connect(cfg.dbUrl)
    try {
      // getColumns' name arguments are LIKE patterns: an unescaped `_`
      // in the table name matches ANY character (`ltss_v2` ≙ `ltssXv2`),
      // and a null schema merges same-named tables from every schema
      // into one column set — either can wrongly flip enableLocation.
      val (pat, schemaPat) = likePatterns(conn)
      def columnsOf(name: String): Set[String] = {
        val rs = conn.getMetaData.getColumns(null, schemaPat, pat(name), null)
        val out = scala.collection.mutable.Set.empty[String]
        try while (rs.next()) out += rs.getString("COLUMN_NAME").toLowerCase
        finally rs.close()
        out.toSet
      }
      val cols = Seq(table, table.toUpperCase, table.toLowerCase)
        .iterator.map(columnsOf).find(_.nonEmpty).getOrElse(Set.empty)
      if (cols.isEmpty) cfg
      else cfg.copy(enableLocation = cols.contains("location"))
    } finally conn.close()
  }

  /** JDBC append with the reference's retry envelope (≤10 tries, 3 s —
    * __init__.py:53,201-244). Every dialect lands the batch through
    * [[copyIntoPg]]: COPY where the connection offers it, the
    * conflict-tolerant insert where it does not. The database decides
    * PK conflicts by its own key comparison and skips stored keys
    * (reference drop-on-PK-conflict, __init__.py:229-231): PostgreSQL
    * through ` ON CONFLICT DO NOTHING`, any other dialect by replaying a
    * conflicting chunk row by row under savepoints. A replayed batch —
    * the expected face of at-least-once — and a batch that repeats its
    * own PK both land each key once. Transient (connection-class)
    * failures retry the whole batch; once retries are exhausted, or on
    * any other error, the write RETHROWS so a streaming caller's
    * checkpoint does not advance past lost data. */
  def writeJdbc(
      ltss: DataFrame,
      cfg: LtssConfig,
      table: String = "ltss",
      maxRetries: Int = 10,
      retryWaitMs: Long = 3000L,
      sleep: Long => Unit = Thread.sleep): Unit = {
    val suffix = if (postgresDialect(cfg.dbUrl)) " ON CONFLICT DO NOTHING" else ""
    var attempt = 0
    var done = false
    while (!done) {
      try { copyIntoPg(ltss, cfg.dbUrl, table, suffix); done = true }
      catch {
        case e: Exception if attempt < maxRetries && isTransient(e) =>
          attempt += 1; sleep(retryWaitMs)
      }
    }
  }

  /** UPSERT path — the LATE-CORRECTION / BACKFILL write the
    * append-only ingest deliberately lacks: re-delivered state for an
    * existing PK `(time, entity_id)` OVERWRITES the stored row
    * (`INSERT … ON CONFLICT (time, entity_id) DO UPDATE SET
    * col = EXCLUDED.col` for every non-key column). This is what a
    * migration replay or a corrected-sensor backfill needs where the
    * ingest's DO NOTHING would silently keep the stale row. The batch
    * is PK-deduped first ([[graft.operators.Transform.dedupByPk]],
    * newest state wins) because PostgreSQL rejects a single DO UPDATE
    * statement touching one PK twice (21000 cardinality_violation) —
    * and a batch that intends two corrections for one PK has an
    * ordering question the deterministic min-struct survivor rule
    * answers reproducibly (first by state, then remaining columns,
    * exactly the `ltss_dedup_pk` invariant). PostgreSQL-only by
    * design: the generic dialect has no atomic single-statement upsert,
    * and a delete-then-insert emulation would silently drop rows on a
    * mid-flight failure — refused loudly instead. Executor-side shape
    * is [[insertIgnoreConflicts]]'s: one connection and ONE prepared
    * statement per partition, 1000-row batches. */
  def upsertJdbc(ltss: DataFrame, cfg: LtssConfig, table: String = "ltss"): Unit = {
    require(postgresDialect(cfg.dbUrl),
      "upsertJdbc needs PostgreSQL's ON CONFLICT DO UPDATE — for another " +
        "dialect, dedup against the stored keys and use writeJdbc, or " +
        "route corrections through a staging table merge")
    val deduped = graft.operators.Transform.dedupByPk(
      ltss, Seq(org.apache.spark.sql.functions.col("state")))
    val nonKey = deduped.columns.filterNot(c => c == "time" || c == "entity_id")
    val suffix = s" ON CONFLICT (time, entity_id) DO UPDATE SET " +
      nonKey.map(c => s"$c = EXCLUDED.$c").mkString(", ")
    insertIgnoreConflicts(deduped, cfg.dbUrl, table, suffix)
  }

  /** The sink dialect that skips stored keys in one statement
    * (`ON CONFLICT`) and can upsert. */
  private[graft] def postgresDialect(url: String): Boolean =
    url.startsWith("jdbc:postgresql:")

  /** The conflict-tolerant insert statement: every column of the batch,
    * positional binds, dialect suffix appended (Postgres:
    * ` ON CONFLICT DO NOTHING`). */
  private[graft] def insertSql(table: String, cols: Seq[String], suffix: String): String =
    s"INSERT INTO $table (${cols.mkString(", ")}) " +
      s"VALUES (${cols.map(_ => "?").mkString(", ")})$suffix"

  /** Executor-side conflict-tolerant append: each partition opens one
    * connection and drives ONE prepared statement in 1000-row batches.
    * With the Postgres suffix the statement never conflicts — the
    * database skips committed PKs. On a dialect whose suffix cannot
    * express that (every other dialect passes ""), a chunk that hits
    * an integrity violation is replayed row-by-row swallowing per-row
    * conflicts — same semantics, used only where the one-statement form
    * is unavailable. */
  private[graft] def insertIgnoreConflicts(
      batch: DataFrame, url: String, table: String, suffix: String): Unit = {
    val cols = batch.columns.toIndexedSeq
    val sql = insertSql(table, cols, suffix)
    batch.foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
      val conn = DriverManager.getConnection(url)
      try insertRowsIgnoreConflicts(conn, sql, cols.length, rows)
      finally conn.close()
    }
  }

  /** The executor-side body of [[insertIgnoreConflicts]], factored so
    * the COPY path's conflict fallback drives the SAME machinery on an
    * already-open connection. */
  private def insertRowsIgnoreConflicts(
      conn: Connection, sql: String, nCols: Int,
      rows: Iterator[org.apache.spark.sql.Row]): Unit = {
    val prevAutoCommit = conn.getAutoCommit
    conn.setAutoCommit(false)
    val ps = conn.prepareStatement(sql)
    try {
      val chunk = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
      def flush(): Unit = if (chunk.nonEmpty) {
        chunk.foreach { r =>
          (0 until nCols).foreach(i => ps.setObject(i + 1, r.get(i)))
          ps.addBatch()
        }
        try ps.executeBatch()
        catch {
          case e: SQLException if isConflict(e) =>
            // no ON CONFLICT on this dialect: replay the chunk one
            // row at a time, skipping only the conflicting rows.
            // Each row runs under a SAVEPOINT: PostgreSQL (and any
            // abort-on-error dialect) poisons the whole transaction
            // at the first constraint violation — every later
            // statement fails 25P02 in_failed_sql_transaction, not
            // 23xxx — so a bare executeUpdate loop would drop the
            // entire remainder. ROLLBACK TO SAVEPOINT restores the
            // transaction to live after each conflicting row;
            // statement-level recovery has no other portable form.
            // (Derby tolerates mid-transaction violations, which is
            // why the Derby suite alone never caught this — the
            // real-PostgreSQL e2e spec does.)
            ps.clearBatch()
            conn.rollback()
            chunk.foreach { r =>
              (0 until nCols).foreach(i => ps.setObject(i + 1, r.get(i)))
              val sp = conn.setSavepoint()
              try { ps.executeUpdate(); conn.releaseSavepoint(sp) }
              catch {
                case e2: SQLException if isConflict(e2) => conn.rollback(sp)
              }
            }
        }
        conn.commit()
        chunk.clear()
      }
      rows.foreach { r =>
        chunk += r
        if (chunk.size >= 1000) flush()
      }
      flush()
    } finally {
      ps.close()
      conn.setAutoCommit(prevAutoCommit)
    }
  }

  /** The COPY-IN surface of a connection, if any: the pgjdbc
    * `PGConnection.getCopyAPI.copyIn(sql, reader)` chain reached
    * reflectively (production; no compile-time pgjdbc dependency), or
    * a driver implementing [[PgCopy]] directly (the sandbox's wire
    * client). `None` = this connection cannot COPY. */
  private[graft] def copyApiOf(conn: Connection): Option[(String, java.io.Reader) => Long] =
    conn match {
      case c: PgCopy => Some((sql, r) => c.copyIn(sql, r))
      case _ =>
        try {
          // resolve against the CONNECTION's loader: that is where the
          // driver (and so the interface) is guaranteed to live, even
          // when pgjdbc is isolated from the application classloader
          val pgIface = Class.forName(
            "org.postgresql.PGConnection", false, conn.getClass.getClassLoader)
          if (conn.isWrapperFor(pgIface)) {
            val pg = conn.unwrap(pgIface)
            val mgr = pgIface.getMethod("getCopyAPI").invoke(pg)
            val m = mgr.getClass.getMethod(
              "copyIn", classOf[String], classOf[java.io.Reader])
            // unwrap the reflection envelope: Method.invoke wraps the
            // server's SQLException in InvocationTargetException, which
            // would never match copyIntoPg's `case e: SQLException if
            // isConflict(e)` chunk fallback — the production pgjdbc
            // path must surface the same exception type the direct
            // PgCopy path throws
            Some { (sql, r) =>
              try m.invoke(mgr, sql, r).asInstanceOf[java.lang.Long].longValue()
              catch {
                case e: java.lang.reflect.InvocationTargetException =>
                  throw Option(e.getCause).getOrElse(e)
              }
            }
          } else None
        } catch { case _: Exception => None }
    }

  /** One row as a COPY text-format line: tab-separated fields, `\N`
    * for SQL NULL, the four text-format escapes (backslash, tab,
    * newline, carriage return) applied to string renderings.
    * Timestamps render as [[copyTimestamp]]. */
  private[graft] def copyTextLine(
      r: org.apache.spark.sql.Row, nCols: Int, sb: java.lang.StringBuilder): Unit = {
    var i = 0
    while (i < nCols) {
      if (i > 0) sb.append('\t')
      val v = r.get(i)
      if (v == null) sb.append("\\N")
      else {
        val s = v match {
          case t: java.sql.Timestamp => copyTimestamp(t)
          case other => other.toString
        }
        var j = 0
        while (j < s.length) {
          s.charAt(j) match {
            case '\\' => sb.append("\\\\")
            case '\t' => sb.append("\\t")
            case '\n' => sb.append("\\n")
            case '\r' => sb.append("\\r")
            case c => sb.append(c)
          }
          j += 1
        }
      }
      i += 1
    }
    sb.append('\n')
  }

  /** A timestamp as COPY text: the JVM wall clock `Timestamp.toString`
    * renders (µs survive), followed by that zone's UTC offset at the
    * instant. A `timestamptz` column reads the offset and stores the
    * exact instant whatever the server session's zone; a `timestamp`
    * column ignores it and stores the wall clock, as before. */
  private[graft] def copyTimestamp(t: java.sql.Timestamp): String = {
    val off = java.util.TimeZone.getDefault.getOffset(t.getTime) / 1000
    val a = math.abs(off)
    val hm = f"${if (off < 0) '-' else '+'}${a / 3600}%02d:${a / 60 % 60}%02d"
    t.toString + (if (a % 60 == 0) hm else f"$hm:${a % 60}%02d")
  }

  /** The one write path of [[writeJdbc]] (the reference commits one
    * row per INSERT transaction, `__init__.py:207-218`; batched INSERT
    * beats that ~50×, COPY beats batched INSERT again by skipping
    * per-row statement overhead — both measured on live PG 15 in
    * `PostgresE2ESpec`). Per partition: one connection. Where
    * [[copyApiOf]] finds a COPY surface, the partition streams in
    * bounded CHUNKS of COPY text (memory = one chunk, never the
    * partition), each chunk one `COPY … FROM STDIN` statement. COPY
    * cannot express ON CONFLICT, so a chunk whose load hits the
    * `(time, entity_id)` PK (a replayed batch, or one that repeats its
    * own PK) falls back to the conflict-tolerant insert with the
    * dialect's `suffix` (`ON CONFLICT DO NOTHING` on PostgreSQL, `""`
    * elsewhere: savepoint replay), landing each key exactly once. A
    * connection with no COPY surface lands the whole partition through
    * that insert. */
  private[graft] def copyIntoPg(
      batch: DataFrame, url: String, table: String, suffix: String,
      chunkRows: Int = 10000): Unit = {
    val cols = batch.columns.toIndexedSeq
    val copySql = s"COPY $table (${cols.mkString(", ")}) FROM STDIN"
    val fallbackSql = insertSql(table, cols, suffix)
    batch.foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
      val conn = DriverManager.getConnection(url)
      try copyApiOf(conn) match {
        case None => insertRowsIgnoreConflicts(conn, fallbackSql, cols.length, rows)
        case Some(copyIn) =>
          val chunk = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
          def flush(): Unit = if (chunk.nonEmpty) {
            val sb = new java.lang.StringBuilder(chunk.length * 64)
            chunk.foreach(copyTextLine(_, cols.length, sb))
            try copyIn(copySql, new java.io.StringReader(sb.toString))
            catch {
              case e: SQLException if isConflict(e) =>
                // conflicting rows in THIS chunk: the database skips
                // stored PKs itself via the insert fallback
                insertRowsIgnoreConflicts(conn, fallbackSql, cols.length, chunk.iterator)
            }
            chunk.clear()
          }
          rows.foreach { r =>
            chunk += r
            if (chunk.size >= chunkRows) flush()
          }
          flush()
      } finally conn.close()
    }
  }

  /** Integrity-constraint violations (duplicate PK on replay). Walks the
    * cause chain AND each SQLException's `getNextException` chain — a
    * `BatchUpdateException` (batched insert) reports the real
    * duplicate-key error through the latter, not through the cause. */
  private[graft] def isConflict(t: Throwable): Boolean = {
    var cur: Throwable = t
    var depth = 0
    while (cur != null && depth < 10) {
      cur match {
        case e: SQLException =>
          var se: SQLException = e
          var d2 = 0
          while (se != null && d2 < 10) {
            if (se.isInstanceOf[java.sql.SQLIntegrityConstraintViolationException] ||
              Option(se.getSQLState).exists(_.startsWith("23"))) return true
            se = se.getNextException
            d2 += 1
          }
        case _ => ()
      }
      cur = cur.getCause
      depth += 1
    }
    false
  }

  /** Connection-level failures the reference treats as OperationalError.
    * Executor-side failures surface wrapped in SparkException — walk the
    * cause chain to find the SQLException that classifies them. */
  private[graft] def isTransient(t: Throwable): Boolean = {
    var cur: Throwable = t
    var depth = 0
    while (cur != null && depth < 10) {
      cur match {
        case _: java.sql.SQLTransientException => return true
        case e: SQLException =>
          val s = Option(e.getSQLState).getOrElse("")
          if (s.startsWith("08") || s.startsWith("53") || s == "57P03") return true
        case _ => ()
      }
      cur = cur.getCause
      depth += 1
    }
    false
  }
}
