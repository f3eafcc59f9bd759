package graft

import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.operators.Dedup

/** The dataset-keyed frame registry: interleaved datasets must each keep
  * their persisted band frame (the old single-slot cache rebuilt + re-
  * persisted on every alternation), and eviction past capacity must
  * unpersist the stale frame rather than leak pinned storage. */
class CachedFramesSpec extends SparkSpec {
  import spark.implicits._

  /** `body`'s result and the (event, key) map messages the registry
    * logged meanwhile, its logger held at INFO. */
  private def cacheEvents[T](body: => T): (T, Seq[(String, String)]) = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    import org.apache.logging.log4j.message.StringMapMessage
    val events = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val capture = new AbstractAppender("cache-event-capture", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = e.getMessage match {
        case m: StringMapMessage => events.add((m.get("event"), m.get("key")))
        case _ =>
      }
    }
    capture.start()
    val logger = LogManager.getLogger("graft.CachedFrames").asInstanceOf[CoreLogger]
    val was = logger.getLevel
    // adding an appender rebuilds the logger's config, so the level goes after it
    logger.addAppender(capture)
    logger.setLevel(Level.INFO)
    try {
      val out = body
      (out, events.toArray(Array.empty[(String, String)]).toSeq)
    } finally {
      logger.setLevel(was)
      logger.removeAppender(capture)
    }
  }

  private def writeDocs(rows: Seq[(Long, String)]): String = {
    val d = java.nio.file.Files.createTempDirectory("graft-keyed").toString
    rows.toDF("doc_id", "text").coalesce(1)
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  test("interleaved datasets: each keeps its cache entry (same instance back)") {
    val d1 = writeDocs(Seq((1L, "one two three"), (2L, "one two three")))
    val d2 = writeDocs(Seq((7L, "seven eight nine"), (8L, "seven eight nine")))
    val ((a1, b1, a2), events) = cacheEvents {
      (Dedup.guardedBands(spark, d1), Dedup.guardedBands(spark, d2), Dedup.guardedBands(spark, d1))
    }
    val b2 = Dedup.guardedBands(spark, d2)
    // d1's band frame logs a build, then a hit on the interleaved return
    val k1 = s"lsh_bands|${CachedFrames.sessionKey(spark)}|$d1"
    assert(events.filter(_._2 == k1).map(_._1) == Seq("cache_build", "cache_hit"),
      s"cache events: $events")
    assert(a1 eq a2, "same (session, dataset) must return the SAME cached frame")
    assert(b1 eq b2)
    assert(!(a1 eq b1), "different datasets must not share a cache entry")
    // both stayed persisted through the interleaving (no slot thrash)
    assert(a2.storageLevel != StorageLevel.NONE)
    assert(b2.storageLevel != StorageLevel.NONE)
    // and the reused frame's executed plan scans the in-memory cache
    a2.count()
    assert(a2.queryExecution.executedPlan.toString.contains("InMemoryTableScan"),
      "cache-hit plan must scan InMemoryRelation")
    // the simhash band caches are keyed independently per width
    val s16 = Dedup.simhashBands(spark, d1, 16)
    val s64 = Dedup.simhashBands(spark, d1, 64)
    assert(!(s16 eq s64))
    assert(Dedup.simhashBands(spark, d1, 64) eq s64)
  }

  test("within-cluster pair frame is built once and shared by ivf dedup and semantic dedup") {
    // VERDICT r7 #2: dedup_embedding_ivf and dedup_semantic consumed
    // bit-identical pair joins built twice; both must now draw the SAME
    // persisted instance from the registry
    val d = "/root/testdata/sf0.001"
    val p1 = graft.operators.Similarity.withinClusterPairs(spark, d)
    val p2 = graft.operators.Similarity.withinClusterPairs(spark, d)
    assert(p1 eq p2, "pair frame must come from the registry, not rebuild")
    assert(p1.storageLevel != StorageLevel.NONE)
    // and the two consuming queries agree with each other on the pair set
    val ivf = graft.operators.Similarity.dedupEmbeddingIvf.run(spark, d)
      .select(col("a_id"), col("b_id")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sem = graft.operators.Similarity.dedupSemantic.run(spark, d)
      .filter(col("keep") === 0).count()
    assert(ivf.nonEmpty && sem > 0, s"expected pairs and pruned rows, got ${ivf.size}/$sem")
  }

  test("evict past MaxEntries unpersists the stale frame") {
    val base = spark.range(5).toDF("x")
    val (frames, events) = cacheEvents {
      (0 to CachedFrames.MaxEntries).map { i =>
        CachedFrames.getOrBuild(s"evict_test|$i")(base.select((col("x") + i).as("y")))
      }
    }
    assert(events.contains(("cache_evict", "evict_test|0")),
      s"the eldest key's eviction must log: ${events.filter(_._1 == "cache_evict")}")
    assert(frames.head.storageLevel == StorageLevel.NONE,
      "the eldest entry must be unpersisted on evict")
    assert(frames.last.storageLevel != StorageLevel.NONE)
  }
}
