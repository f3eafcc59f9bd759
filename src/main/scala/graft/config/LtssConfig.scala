package graft.config

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Engine configuration, mirroring the reference's CONFIG_SCHEMA
  * (custom_components/ltss/__init__.py:55-67, README.md:59-101):
  * `db_url` (required), `chunk_time_interval` (µs, default 30 days),
  * include/exclude filter with `domains`, `entities`, `entity_globs`.
  */
final case class FilterSpec(
    domains: Seq[String] = Nil,
    entities: Seq[String] = Nil,
    entityGlobs: Seq[String] = Nil,
) {
  def isEmpty: Boolean = domains.isEmpty && entities.isEmpty && entityGlobs.isEmpty
}

/** Where the S1 event stream comes from. The reference subscribes to
  * the Home Assistant event bus in-process (__init__.py:116-119) — an
  * embedding this engine cannot (and should not) reproduce; its two
  * guises are a JSON directory (tests, replay) and a Kafka topic
  * carrying the same JSON event documents (production). Selecting a
  * source swaps ONLY the `readStream` leaf of the plan; the validity
  * filter → entity filter → projection → sink chain is shared verbatim
  * ([[graft.streaming.StreamingIngest.readEvents]]). */
sealed trait EventSource
object EventSource {
  /** Directory of JSON event files; `maxFilesPerTrigger` is the B1
    * buffer knob (how much a micro-batch admits). */
  final case class JsonDir(path: String, maxFilesPerTrigger: Int = 16) extends EventSource

  /** Kafka topic of JSON event documents (one event per record value).
    * `maxOffsetsPerTrigger` is the B1 buffer knob in this guise —
    * records per micro-batch across all partitions. At 100 TB/day the
    * scan parallelism is the topic's partition count; the downstream
    * plan is map-only until the sink, so no shuffle amplification. */
  final case class Kafka(
      bootstrapServers: String,
      topic: String,
      startingOffsets: String = "latest",
      maxOffsetsPerTrigger: Option[Long] = None) extends EventSource
}

final case class LtssConfig(
    dbUrl: String = "",
    /** Time-partition ("chunk") width in microseconds; default 30 days
      * (reference __init__.py:60-62, 2_592_000_000_000 µs). */
    chunkTimeIntervalUs: Long = LtssConfig.DefaultChunkUs,
    include: FilterSpec = FilterSpec(),
    exclude: FilterSpec = FilterSpec(),
    /** Analog of PostGIS presence (reference __init__.py:303-328). */
    enableLocation: Boolean = true,
    /** Opt-in for the startup migration ladder ([[graft.sources.LtssSink.checkAndMigrate]]).
      * The reference runs check_and_migrate unconditionally at every
      * start (__init__.py:310-312); on a large live table step 1 is a
      * full-table `ALTER … TYPE JSONB` rewrite under ACCESS EXCLUSIVE
      * and step 4 drops the PK with CASCADE — too much to trigger
      * implicitly, so ingest startup only LOGS pending steps unless
      * this is set. */
    autoMigrate: Boolean = false,
    /** S1 source selection; None = the caller wires its own events
      * frame (the library-API path every existing test uses). */
    eventSource: Option[EventSource] = None,
)

object LtssConfig {
  val DefaultChunkUs: Long = 2592000000000L // 30 days (µs)

  /** Parse the reference's CONFIG_SCHEMA shape (__init__.py:55-67,
    * README.md:59-101): required `db_url`, optional positive
    * `chunk_time_interval` (µs, default 30 days), optional `include` /
    * `exclude` sections with `domains`/`entities`/`entity_globs` string
    * lists. Unknown keys are rejected, as the reference's voluptuous
    * schema does. `enable_location` is this engine's stand-in for the
    * reference's PostGIS auto-detection (__init__.py:303-328). */
  def fromMap(conf: Map[String, Any]): LtssConfig = {
    val allowed = Set("db_url", "chunk_time_interval", "include", "exclude",
      "enable_location", "event_source", "auto_migrate")
    val unknown = conf.keySet -- allowed
    require(unknown.isEmpty, s"unknown config keys: ${unknown.mkString(", ")}")

    val dbUrl = conf.get("db_url") match {
      case Some(s: String) if s.nonEmpty => s
      case _ => throw new IllegalArgumentException("db_url is required and must be a string")
    }
    val chunk = conf.get("chunk_time_interval") match {
      case None => DefaultChunkUs
      case Some(n: Int) => n.toLong
      case Some(n: Long) => n
      case Some(x) =>
        throw new IllegalArgumentException(s"chunk_time_interval must be an integer, got $x")
    }
    require(chunk > 0, "chunk_time_interval must be positive")

    def filterSpec(key: String): FilterSpec = conf.get(key) match {
      case None => FilterSpec()
      case Some(m: Map[_, _]) =>
        val mm = m.asInstanceOf[Map[String, Any]]
        val unknownF = mm.keySet -- Set("domains", "entities", "entity_globs")
        require(unknownF.isEmpty, s"unknown $key keys: ${unknownF.mkString(", ")}")
        def strings(k: String): Seq[String] = mm.get(k) match {
          case None => Nil
          case Some(xs: Seq[_]) => xs.map(_.toString)
          case Some(x) =>
            throw new IllegalArgumentException(s"$key.$k must be a string list, got $x")
        }
        FilterSpec(strings("domains"), strings("entities"), strings("entity_globs"))
      case Some(x) => throw new IllegalArgumentException(s"$key must be a section, got $x")
    }

    val enableLocation = conf.get("enable_location") match {
      case None => true
      case Some(b: Boolean) => b
      case Some(x) => throw new IllegalArgumentException(s"enable_location must be boolean, got $x")
    }

    // `event_source` extends the reference schema (whose source is the
    // in-process HA bus and therefore unconfigurable): a section with a
    // `type` discriminator and per-guise keys, unknown keys rejected
    // with the same strictness as the rest of CONFIG_SCHEMA
    val eventSource: Option[EventSource] = conf.get("event_source").map {
      case m: Map[_, _] =>
        val mm = m.asInstanceOf[Map[String, Any]]
        def str(k: String): String = mm.get(k) match {
          case Some(s: String) if s.nonEmpty => s
          case _ => throw new IllegalArgumentException(s"event_source.$k is required")
        }
        def long(k: String): Option[Long] = mm.get(k).map {
          case n: Int => n.toLong
          case n: Long => n
          case x => throw new IllegalArgumentException(s"event_source.$k must be an integer, got $x")
        }
        mm.getOrElse("type", "") match {
          case "kafka" =>
            val unknownK = mm.keySet -- Set("type", "bootstrap_servers", "topic",
              "starting_offsets", "max_offsets_per_trigger")
            require(unknownK.isEmpty, s"unknown event_source keys: ${unknownK.mkString(", ")}")
            EventSource.Kafka(str("bootstrap_servers"), str("topic"),
              mm.get("starting_offsets").map(_.toString).getOrElse("latest"),
              long("max_offsets_per_trigger"))
          case "json_dir" =>
            val unknownJ = mm.keySet -- Set("type", "path", "max_files_per_trigger")
            require(unknownJ.isEmpty, s"unknown event_source keys: ${unknownJ.mkString(", ")}")
            EventSource.JsonDir(str("path"),
              long("max_files_per_trigger").map(_.toInt).getOrElse(16))
          case other =>
            throw new IllegalArgumentException(
              s"event_source.type must be 'kafka' or 'json_dir', got '$other'")
        }
      case x => throw new IllegalArgumentException(s"event_source must be a section, got $x")
    }
    val autoMigrate = conf.get("auto_migrate") match {
      case None => false
      case Some(b: Boolean) => b
      case Some(x) => throw new IllegalArgumentException(s"auto_migrate must be boolean, got $x")
    }

    LtssConfig(dbUrl, chunk, filterSpec("include"), filterSpec("exclude"),
      enableLocation, autoMigrate, eventSource)
  }
}

/** Include/exclude entity filtering with Home Assistant semantics
  * (reference __init__.py:76 `convert_include_exclude_filter`; behavior
  * documented in README.md:71-101). Mirrors HA's `generate_filter` case
  * structure exactly:
  *
  *   - Case 1 — no includes, no excludes: pass everything.
  *   - Case 2 — includes only: pass iff included by entity, glob, or
  *     domain.
  *   - Case 3 — excludes only: pass iff not excluded by entity, glob, or
  *     domain.
  *   - Case 4a — both, with include domains/globs present: an exact
  *     include entity always passes (even if also exclude-listed);
  *     otherwise pass iff not exclude-listed by entity AND (domain
  *     included and no exclude-glob match, OR include-glob match and
  *     neither exclude-domain nor exclude-glob match).
  *   - Case 4b — both, include has only entities, exclude has
  *     domains/globs: if the entity matches an exclude domain or glob it
  *     passes only when exactly include-listed; otherwise it passes
  *     unless exclude-listed by entity.
  *   - Case 4c — both, only entity lists on both sides: pass iff
  *     include-listed (exclude entities are ignored).
  *
  * Implemented both as a pure Scala predicate (unit parity with the
  * reference) and as a Catalyst [[Column]] so the predicate participates
  * in pushdown / codegen on the DataFrame path.
  */
final class EntityFilter(include: FilterSpec, exclude: FilterSpec) extends Serializable {

  private val incEntities = include.entities.toSet
  private val excEntities = exclude.entities.toSet
  private val incDomains = include.domains.toSet
  private val excDomains = exclude.domains.toSet
  private val incGlobRes = include.entityGlobs.map(EntityFilter.globToRegex)
  private val excGlobRes = exclude.entityGlobs.map(EntityFilter.globToRegex)
  private val incGlobPatterns = incGlobRes.map(_.r)
  private val excGlobPatterns = excGlobRes.map(_.r)

  private def domainOf(entityId: String): String = {
    val i = entityId.indexOf('.')
    if (i < 0) entityId else entityId.substring(0, i)
  }

  private val haveInc = !include.isEmpty
  private val haveExc = !exclude.isEmpty

  /** Pure-Scala predicate (exact HA semantics, used in tests + streaming). */
  def accepts(entityId: String): Boolean = {
    val d = domainOf(entityId)
    val incE = incEntities.contains(entityId)
    val excE = excEntities.contains(entityId)
    val incG = incGlobPatterns.exists(_.pattern.matcher(entityId).matches())
    val excG = excGlobPatterns.exists(_.pattern.matcher(entityId).matches())
    val incD = incDomains.contains(d)
    val excD = excDomains.contains(d)

    if (!haveInc && !haveExc) true // case 1
    else if (haveInc && !haveExc) incE || incG || incD // case 2
    else if (!haveInc && haveExc) !(excE || excG || excD) // case 3
    else if (incDomains.nonEmpty || incGlobRes.nonEmpty) // case 4a
      incE || (!excE && ((incD && !excG) || (incG && !excD && !excG)))
    else if (excDomains.nonEmpty || excGlobRes.nonEmpty) // case 4b
      (if (excD || excG) incE else !excE)
    else incE // case 4c
  }

  /** The same predicate as a Catalyst Column over `entity_id` — stays in
    * whole-stage codegen (isin / rlike / split), no UDF. */
  def column(entityId: Column): Column = {
    val d = split(entityId, "\\.").getItem(0)
    def anyGlob(res: Seq[String]): Column =
      res.map(r => entityId.rlike("^(?:" + r + ")$")).reduceOption(_ || _).getOrElse(lit(false))
    val incE = if (incEntities.nonEmpty) entityId.isInCollection(incEntities) else lit(false)
    val excE = if (excEntities.nonEmpty) entityId.isInCollection(excEntities) else lit(false)
    val incG = anyGlob(incGlobRes)
    val excG = anyGlob(excGlobRes)
    val incD = if (incDomains.nonEmpty) d.isInCollection(incDomains) else lit(false)
    val excD = if (excDomains.nonEmpty) d.isInCollection(excDomains) else lit(false)

    if (!haveInc && !haveExc) lit(true) // case 1
    else if (haveInc && !haveExc) incE || incG || incD // case 2
    else if (!haveInc && haveExc) !(excE || excG || excD) // case 3
    else if (incDomains.nonEmpty || incGlobRes.nonEmpty) // case 4a
      incE || (!excE && ((incD && !excG) || (incG && !excD && !excG)))
    else if (excDomains.nonEmpty || excGlobRes.nonEmpty) // case 4b
      when(excD || excG, incE).otherwise(!excE)
    else incE // case 4c
  }
}

object EntityFilter {
  def apply(cfg: LtssConfig): EntityFilter = new EntityFilter(cfg.include, cfg.exclude)

  /** fnmatch-style glob → anchored Java regex (reference uses Python
    * `fnmatch` via HA's glob filter; `*` and `?` wildcards, `[seq]` classes). */
  def globToRegex(glob: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < glob.length) {
      glob.charAt(i) match {
        case '*' => sb.append(".*")
        case '?' => sb.append('.')
        case '[' =>
          val j = glob.indexOf(']', i + 1)
          if (j > i) { // char class passes through (fnmatch semantics)
            val inner = glob.substring(i + 1, j)
            val cls = if (inner.startsWith("!")) "[^" + inner.substring(1) + "]" else "[" + inner + "]"
            sb.append(cls); i = j
          } else sb.append("\\[")
        case c if "\\.^$+{}()|".indexOf(c.toInt) >= 0 => sb.append('\\').append(c)
        case c => sb.append(c)
      }
      i += 1
    }
    sb.toString
  }
}
