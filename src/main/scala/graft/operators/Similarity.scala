package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.DetMath

/** Similarity search over the `embeddings` table (Array[Float], 64-dim).
  *
  * Brute-force cosine top-k is the baseline (one broadcast of the query
  * vector, a codegen'd arithmetic scan, and a TakeOrdered — no shuffle of
  * the data side, linear at any scale). IVF is the scale path: assign
  * every vector to its nearest centroid once (small broadcast join), then
  * probe only the query's cluster — at 100 TB the assignment is a
  * one-shuffle materialized layout and probes touch 1/k of the data.
  *
  * All vector math via [[DetMath]] left-assoc chains for oracle parity,
  * and every path precomputes per-vector L2 norms ([[DetMath.normCol]])
  * so pairwise stages pay one dot product, not three.
  */
object Similarity {

  /** Embedding dimensionality of the `embeddings` table (shared by every
    * consumer of the vectors — e.g. [[Dedup.crosscheck]] — so a fixture
    * change cannot silently truncate someone's dot products). */
  val Dim = 64

  // k-means codebook size / Lloyd rounds for the trained IVF path.
  // DECLARED BEFORE every OracleQuery val: the probe queries' oracle SQL
  // strings are built during object init in declaration order, so a
  // constant defined below them would still read as 0 inside their
  // s-interpolations (the Spark closures, evaluated at run time, would
  // not notice — only the SQL would silently train a 0-iteration chain).
  // k is a parameter (production sizes k ≈ √n); 8 at fixture scale keeps
  // the oracle's Lloyd CTE chain affordable while exercising a non-toy
  // cluster count — and halves the IVF-dedup per-cluster pair bound vs 4.
  val KmK = 8
  val KmIters = 3

  /** Corpus-size threshold shared with [[Pq.ProdMinVectors]]: below it
    * the FIXTURE k-means geometry (k = [[KmK]]) trains, so the DuckDB
    * oracle's Lloyd-replay SQL stays valid and tractable; at or above
    * it the codebook scales with the corpus. */
  val ProdMinVectors = 1000L

  /** Lloyd TRAINING-SAMPLE cap — standard IVF/PQ practice: codebooks
    * train on a bounded sample at any corpus size, then the full corpus
    * is assigned to the trained centroids exactly once. The r9 sf10
    * probe measured why: at 200 k vectors the corpus-scaled k ≈ √n
    * makes full-corpus Lloyd n·k = n^1.5 PER ITERATION (240 s of the
    * build budget, the one super-linear artifact term left), where the
    * sampled trainer pays sample·k per iteration plus the one
    * unavoidable full n·k assignment. Sampling is a deterministic
    * vec_id stride (uniform across id-blocks, reproducible, no RNG);
    * below the cap the stride is 1 and the sample IS the corpus, so
    * oracle fixtures and the sf0.1 bench train BIT-IDENTICALLY to the
    * unsampled path. */
  private[graft] val TrainCap = 25000L

  /** Stride for the training sample: ids ≡ 0 (mod stride), giving
    * ⌈n/stride⌉ ≤ [[TrainCap]] training vectors. */
  private[graft] def trainStride(n: Long): Long =
    if (n <= TrainCap) 1L else (n + TrainCap - 1) / TrainCap

  private val nVecCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** Vector count for a dataset — one parquet-metadata count per JVM,
    * shared by every geometry decision ([[kmK]], [[Pq.params]]). */
  private[graft] def nVectors(s: SparkSession, d: String): Long =
    nVecCache.computeIfAbsent(d, _ => Tables.embeddings(s, d).count()).longValue

  /** The trained cluster count for a dataset. Fixture corpora keep
    * k = [[KmK]] (oracle-replayable); larger corpora train k ≈ √n — the
    * standard IVF scaling, which keeps the within-cluster pair bound of
    * [[dedupEmbeddingIvf]]/[[dedupSemantic]] at n²/k = n^1.5 instead of
    * the quadratic n²/const a FIXED k degenerates to as the corpus
    * grows (the r8 scaling probe exposed exactly that term). */
  private[graft] def kmK(s: SparkSession, d: String): Int = {
    val n = nVectors(s, d)
    if (n < ProdMinVectors) KmK
    else math.max(KmK, math.sqrt(n.toDouble).toInt)
  }

  /** Queries whose DuckDB oracle SQL embeds the FIXTURE-k Lloyd replay
    * ([[kmeansSqlChain]], k = [[KmK]]): invalid by construction on a
    * corpus where [[kmK]] scales past it — [[graft.Verify]] omits them
    * from oracle_sql.json there (rows-only check), like
    * [[Pq.GeometryDependentOracles]]. */
  val GeometryDependentOracles: Set[String] =
    Set("sim_ivf_kmeans", "sim_ivf_probe", "sim_ivf_probe2", "sim_ivf_filtered",
      "sim_filtered_recall",
      "dedup_embedding_ivf", "dedup_semantic", "sim_cluster_purity",
      "sim_ivf_append",
      // sampled above [[CalibSampleCap]] (> the fixture threshold), where
      // the unsampled oracle SQL no longer describes the Spark plan
      "dedup_embedding_calibration")

  /** True iff the fixture geometry (k = [[KmK]], fixture PQ codebook)
    * trains for `d`, i.e. every geometry-dependent oracle is valid. */
  def fixtureOracleValid(s: SparkSession, d: String): Boolean =
    nVectors(s, d) < ProdMinVectors

  /** Brute-force cosine top-k: query = embedding of vec_id 0. */
  val cosineTopk = OracleQuery(
    "sim_cosine_topk",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
        .withColumn("nrm", DetMath.normCol(col("embedding"), Dim))
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("qe"), col("nrm").as("qn"))
      emb.filter(col("vec_id") =!= 0)
        // bound: one query row (vec_id 0)
        .crossJoin(broadcast(q))
        .withColumn("cosine", DetMath.cosinePre(
          DetMath.dotCol(col("embedding"), col("qe"), Dim), col("nrm"), col("qn")))
        .select(col("vec_id"), col("label"), col("cosine"))
        .orderBy(col("cosine").desc, col("vec_id"))
        .limit(10)
    },
    Some(s"""WITH e AS (
      |  SELECT vec_id, label, embedding, ${DetMath.normSql("embedding", Dim)} AS nrm
      |  FROM embeddings
      |), q AS (SELECT embedding AS qe, nrm AS qn FROM e WHERE vec_id = 0)
      |SELECT e.vec_id, e.label,
      |  ${DetMath.cosinePreSql(DetMath.dotSql("e.embedding", "q.qe", Dim), "e.nrm", "q.qn")} AS cosine
      |FROM e, q
      |WHERE e.vec_id <> 0
      |ORDER BY cosine DESC, e.vec_id
      |LIMIT 10""".stripMargin))

  /** Embeddings with the precomputed L2 norm every pairwise stage reuses. */
  private def embNorm(s: org.apache.spark.sql.SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .withColumn("nrm", DetMath.normCol(col("embedding"), Dim))

  /** The UNTRAINED demo centroids (vec_id < 4) — kept only for
    * `sim_ivf` oracle continuity and as the recall floor the trained
    * index is pinned against; the probe/layout path uses
    * [[kmeansCentroids]]. */
  private[graft] def fixedCentroids(emb: DataFrame): DataFrame =
    emb.filter(col("vec_id") < 4)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"), col("nrm").as("cn"))

  /** Argmax-cosine assignment of every vector to its nearest centroid
    * (deterministic tie-break on centroid id). Keeps `emb`'s columns
    * plus (cid, cos); the centroid set is broadcast — the assignment
    * never shuffles the vector side. Shared by the fixed-centroid demo,
    * every Lloyd iteration, and the final trained assignment, so the
    * variants cannot drift. */
  private def assignTo(emb: DataFrame, cents: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id")).orderBy(col("cos").desc, col("cid"))
    // bound: the k centroids of the call
    emb.crossJoin(broadcast(cents))
      .withColumn("cos", DetMath.cosinePre(
        DetMath.dotCol(col("embedding"), col("ce"), Dim), col("nrm"), col("cn")))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .drop("rn", "ce", "cn")
  }

  /** Cluster summary (sizes + top-3 members by cosine-to-centroid) from
    * an assignment frame (vec_id, cid, cos) — one body shared by the
    * untrained `sim_ivf` and trained `sim_ivf_kmeans`. */
  private def clusterSummary(assigned: DataFrame): DataFrame = {
    val wc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cid")).orderBy(col("cos").desc, col("vec_id"))
    assigned
      .withColumn("rank_in_cluster", row_number().over(wc))
      .withColumn("cluster_size", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("cid"))))
      .filter(col("rank_in_cluster") <= 3)
      .select(col("cid"), col("cluster_size"), col("rank_in_cluster"), col("vec_id"), col("cos"))
      .orderBy(col("cid"), col("rank_in_cluster"))
  }

  /** IVF-style clustering with the 4 FIXED demo centroids (vec_id 0..3):
    * the untrained twin of [[ivfKmeans]], kept for oracle continuity —
    * same assignment + summary body, only the centroid source differs. */
  val ivf = OracleQuery(
    "sim_ivf",
    (s, d) => {
      val emb = embNorm(s, d)
      clusterSummary(
        assignTo(emb, fixedCentroids(emb)).select(col("vec_id"), col("cid"), col("cos")))
    },
    Some(s"""WITH e AS (
      |  SELECT vec_id, embedding, ${DetMath.normSql("embedding", Dim)} AS nrm FROM embeddings
      |), scored AS (
      |  SELECT e.vec_id, c.vec_id AS cid,
      |    ${DetMath.cosinePreSql(DetMath.dotSql("e.embedding", "c.embedding", Dim), "e.nrm", "c.nrm")} AS cos
      |  FROM e, e c WHERE c.vec_id < 4
      |), assigned AS (
      |  SELECT vec_id, cid, cos FROM (
      |    SELECT vec_id, cid, cos,
      |           row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
      |    FROM scored) WHERE rn = 1
      |)
      |SELECT cid, cluster_size, rank_in_cluster, vec_id, cos FROM (
      |  SELECT cid, vec_id, cos,
      |         row_number() OVER (PARTITION BY cid ORDER BY cos DESC, vec_id) AS rank_in_cluster,
      |         CAST(count(*) OVER (PARTITION BY cid) AS BIGINT) AS cluster_size
      |  FROM assigned)
      |WHERE rank_in_cluster <= 3
      |ORDER BY cid, rank_in_cluster""".stripMargin))

  // ------------------------------------------------------------------
  // Embedding-cosine near-dup via hyperplane LSH, parameterized for scale.
  //
  // bucket(band b) = sign pattern of dims [b·width+1, (b+1)·width] —
  // axis-aligned hyperplanes; the random-plane variant replaces the
  // coordinate sign with sign(plane · embedding), and BOTH are exact on
  // both engines (the dot is a libm-free left-assoc IEEE chain; the
  // planes ship as literals — see randomBucketSql). Candidates
  // share ANY band's bucket (banded OR-amplification: more bands = more
  // recall, wider bands = smaller buckets).
  //
  // What happens at n = 10¹⁰: pick width ≈ log₂(n / targetBucketSize)
  // (e.g. n=10¹⁰, target 10⁴ per bucket → width 20) so the per-bucket
  // all-pairs term stays bounded, and add bands to buy recall back —
  // cost is linear in bands, quadratic only within buckets. Production
  // deployments use the seeded random hyperplanes generated on the
  // driver and broadcast; the plan shape is identical.
  // ------------------------------------------------------------------

  /** Candidate pairs sharing any band bucket, deduped before the exact
    * cosine so each pair's verification runs once.
    *
    * The LSH join and the pair dedup move ONLY (vec_id, bucket) — the
    * 64-float vectors never ride through the candidate shuffle. Vectors
    * and precomputed norms re-attach via vec_id equi-joins afterwards:
    * AQE broadcasts them at small scale; at 100 TB they hash-join
    * co-partitioned on vec_id. With norms precomputed, each surviving
    * pair pays exactly one dot product. */
  /** The shared candidate→verify pipeline: `bucketOf(b)` supplies each
    * band's bucket expression; everything downstream (banded explode,
    * id-only candidate join, OR-amplification dedup, vector re-attach,
    * one-dot verify) is identical for axis-aligned and random-plane
    * bucketing. */
  private def nearDupPipeline(
      emb: DataFrame,
      nBands: Int,
      bucketOf: Int => Column,
      minCosine: Double): DataFrame = {
    val bandEntries = (0 until nBands).flatMap(b => Seq(lit(b), bucketOf(b)))
    val e = emb.select(col("vec_id"), col("embedding"),
      DetMath.normCol(col("embedding"), Dim).as("nrm"))
    val banded = emb.select(col("vec_id"),
      explode(map(bandEntries: _*)).as(Seq("band_idx", "bucket")))
    val a = banded.toDF("a_id", "band_idx", "bucket")
    val b = banded.toDF("b_id", "band_idx", "bucket")
    val pairs = a.join(b, Seq("band_idx", "bucket"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"))
      .distinct() // OR-amplification dedup — ids only, pre-verify
    pairs
      .join(e.toDF("a_id", "a_e", "a_n"), "a_id")
      .join(e.toDF("b_id", "b_e", "b_n"), "b_id")
      .withColumn("cosine", DetMath.cosinePre(
        DetMath.dotCol(col("a_e"), col("b_e"), Dim), col("a_n"), col("b_n")))
      .filter(col("cosine") >= minCosine)
      .select(col("a_id"), col("b_id"), col("cosine"))
      .orderBy(col("a_id"), col("b_id"))
  }

  def embedNearDupFrame(
      emb: DataFrame,
      width: Int,
      nBands: Int,
      minCosine: Double): DataFrame = {
    def signBucket(b: Int): Column = concat((b * width + 1 to (b + 1) * width).map(i =>
      when(element_at(col("embedding"), i) >= 0f, "1").otherwise("0")): _*)
    nearDupPipeline(emb, nBands, signBucket, minCosine)
  }

  /** The production bucketing: SEEDED RANDOM hyperplanes. nBands×width
    * Gaussian planes are generated ON THE DRIVER from `seed` and embedded
    * as array literals (they ship with the plan — no side channel, no
    * refit between runs); a band's bucket is the sign pattern of the
    * plane dots, computed by the same codegen'd [[graft.functions.DotF64]]
    * kernel as the verify stage. Random planes decorrelate the buckets
    * from the embedding's coordinate system, so recall at equal bucket
    * counts is ≥ the axis-aligned variant's (pinned by SimilaritySpec on
    * the fixture). The axis-aligned variant remains the ORACLE path —
    * sign(random dot) could flip between engines' libm rounding, while a
    * sign bit of a raw coordinate cannot. Plan shape is identical:
    * id-only candidate shuffle, vectors re-attach by key. */
  /** The ONE source of the seeded planes — both the Spark bucketing and
    * the DuckDB oracle SQL must draw the identical RNG sequence, or the
    * oracle compares against different geometry. */
  private def gaussianPlanes(seed: Long, count: Int): Array[Array[Float]] = {
    val rng = new java.util.Random(seed)
    Array.fill(count)(Array.fill(Dim)(rng.nextGaussian().toFloat))
  }

  def embedNearDupRandom(
      emb: DataFrame,
      seed: Long,
      width: Int,
      nBands: Int,
      minCosine: Double): DataFrame = {
    val planes = gaussianPlanes(seed, nBands * width)
    def planeBit(p: Array[Float]): Column =
      when(DetMath.dotCol(col("embedding"), typedlit(p.toSeq), Dim) >= 0d, "1").otherwise("0")
    def bucket(b: Int): Column =
      concat((0 until width).map(j => planeBit(planes(b * width + j))): _*)
    nearDupPipeline(emb, nBands, bucket, minCosine)
  }

  /** DuckDB twin of [[embedNearDupRandom]]'s bucketing: each plane's
    * dot is the SAME left-associated chain as [[graft.functions.DotF64]]
    * — CAST(embedding[i] AS DOUBLE) times the plane coordinate as a
    * DOUBLE LITERAL (float→double widening is exact, and
    * `Double.toString` round-trips, so both engines multiply identical
    * doubles with identical IEEE rounding; no libm is involved anywhere
    * in the dot, so the sign cannot flip between engines). The libm
    * that generates the Gaussians runs ONCE, on the driver, and ships
    * into both plans as these literals. */
  private def randomBucketSql(
      planes: Array[Array[Float]], b: Int, width: Int): String =
    (b * width until (b + 1) * width).map { j =>
      val chain = (1 to Dim).map(i =>
        s"CAST(embedding[$i] AS DOUBLE) * (${planes(j)(i - 1).toDouble})")
        .mkString(" + ")
      s"CASE WHEN $chain >= 0 THEN '1' ELSE '0' END"
    }.mkString(" || ")

  private def bucketSqlOf(v: String, b: Int, width: Int) =
    (b * width + 1 to (b + 1) * width)
      .map(i => s"CASE WHEN $v[$i] >= 0 THEN '1' ELSE '0' END").mkString(" || ")

  private def embedNearDupSql(width: Int, nBands: Int, minCosine: Double): String =
    embedNearDupSqlWith(b => bucketSqlOf("embedding", b, width), nBands, minCosine)

  /** The candidate→verify CTE chain shared by every bucketing variant —
    * the SQL twin of [[nearDupPipeline]], parameterized the same way. */
  private def embedNearDupSqlWith(
      bucketSqlOf: Int => String, nBands: Int, minCosine: Double): String = {
    val bandSelects = (0 until nBands).map(b =>
      s"SELECT vec_id, $b AS band_idx, ${bucketSqlOf(b)} AS bucket FROM embeddings")
      .mkString("\n  UNION ALL\n  ")
    s"""WITH e AS (
      |  SELECT vec_id, embedding, ${DetMath.normSql("embedding", Dim)} AS nrm FROM embeddings
      |), bands AS (
      |  $bandSelects
      |), pairs AS (
      |  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
      |  FROM bands a JOIN bands b
      |    ON a.band_idx = b.band_idx AND a.bucket = b.bucket AND a.vec_id < b.vec_id
      |)
      |SELECT a_id, b_id, cosine FROM (
      |  SELECT p.a_id, p.b_id,
      |         ${DetMath.cosinePreSql(DetMath.dotSql("ea.embedding", "eb.embedding", Dim), "ea.nrm", "eb.nrm")} AS cosine
      |  FROM pairs p
      |  JOIN e ea ON ea.vec_id = p.a_id
      |  JOIN e eb ON eb.vec_id = p.b_id)
      |WHERE cosine >= $minCosine
      |ORDER BY a_id, b_id""".stripMargin
  }

  /** Single-band 8-plane variant (256 buckets — fine at test SF). */
  val embedNearDup = OracleQuery(
    "dedup_embedding",
    (s, d) => embedNearDupFrame(Tables.embeddings(s, d), width = 8, nBands = 1, minCosine = 0.2),
    Some(embedNearDupSql(width = 8, nBands = 1, minCosine = 0.2)))

  /** Banded OR-amplified variant: 2 bands × 8 planes over dims 1–16.
    * Same verify threshold; recall ≥ the single-band variant. */
  val embedNearDupBanded = OracleQuery(
    "dedup_embedding_banded",
    (s, d) => embedNearDupFrame(Tables.embeddings(s, d), width = 8, nBands = 2, minCosine = 0.2),
    Some(embedNearDupSql(width = 8, nBands = 2, minCosine = 0.2)))

  /** Seeded random-hyperplane variant (the production bucketing; see
    * [[embedNearDupRandom]]). HASH-CHECKED after all (r9 — this was
    * rows-only through r8 on a "libm could flip a sign" argument that
    * does not survive inspection: the plane DOT is a libm-free
    * left-associated IEEE chain, identical on both engines, and the
    * libm that generates the Gaussians runs once on the driver and
    * ships into BOTH plans as double literals via [[gaussianPlanes]] /
    * [[randomBucketSql]]). Recall ≥ axis-aligned stays pinned by
    * SimilaritySpec. */
  val embedNearDupRandomQ = OracleQuery(
    "dedup_embedding_random",
    (s, d) => embedNearDupRandom(Tables.embeddings(s, d),
      seed = 42L, width = 8, nBands = 2, minCosine = 0.2),
    Some {
      val planes = gaussianPlanes(42L, 2 * 8)
      embedNearDupSqlWith(
        b => randomBucketSql(planes, b, width = 8), nBands = 2, minCosine = 0.2)
    })

  /** The IVF probe path (the point of IVF: answer a query by scanning
    * only its cluster, 1/k of the data). The assignment is materialized
    * as a parquet layout PARTITIONED BY cid — the 100 TB shape, where
    * the probe becomes partition pruning — and the probe plan reads only
    * the chosen cluster's partition. Centroid selection for the probe
    * list is a driver-side argmax over the (tiny) centroid set, exactly
    * as real IVF planners do. Norms ride along in the layout so probes
    * never recompute them. */
  /** The cid-partitioned IVF assignment layout for a dataset,
    * materialized once per JVM (the index artifact probes partition-prune;
    * Bench warm-up pre-builds it so the probe measures the pruned scan).
    * Built from the TRAINED [[kmeansAssignments]] — the probe path
    * indexes the same codebook a real IVF deployment would train, not
    * the fixed demo centroids. The vec_id equi-join re-attaches vectors
    * and norms to the id-only assignment; at 100 TB both sides
    * co-partition on vec_id. */
  def ivfLayoutPath(s: org.apache.spark.sql.SparkSession, d: String): String =
    graft.ScratchDirs.materializedPath("ivf", d) { p =>
      val asg = kmeansAssignments(s, d, KmIters).select(col("vec_id"), col("cid"))
      // `label` rides along as the FILTER COLUMN — filtered ANN
      // ([[ivfFiltered]]) needs the metadata predicate evaluable inside
      // each probed cluster's scan, not via a post-search join
      embNorm(s, d).join(asg, "vec_id")
        .select(col("vec_id"), col("label"), col("embedding"), col("nrm"), col("cid"))
        // cluster by cid before the partitioned write (r21, guide §6 —
        // the ivfpq-layout lesson: unclustered dynamic-partition writes
        // open tasks × clusters tiny files)
        .repartition(col("cid"))
        .write.mode("overwrite").partitionBy("cid").parquet(p)
    }

  /** One builder for single- and multi-probe: `nprobe` nearest centroids
    * (the recall knob), everything else — centroid argmax, layout scan,
    * verify — identical by construction so the variants cannot drift. */
  private def ivfProbeQuery(name: String, nprobe: Int): OracleQuery = OracleQuery(
    name,
    (s, d) => {
      val emb = embNorm(s, d)
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("qe"), col("nrm").as("qn"))
      // probe list: nprobe nearest TRAINED centroids to the query (k-row
      // driver argmax over the codebook, exactly as real IVF planners do)
      val probeCids = probeCidsOf(kmeansCentroids(s, d, KmIters), q, nprobe)
      // the probe: the cid IN-list partition-prunes the layout scan. The
      // partition column round-trips through directory names and is
      // inferred as INT — cast back to the written BIGINT so the output
      // schema matches the oracle's
      s.read.parquet(ivfLayoutPath(s, d))
        .withColumn("cid", col("cid").cast("long"))
        .filter(col("cid").isin(probeCids: _*) && col("vec_id") =!= 0)
        // bound: one query row (vec_id 0)
        .crossJoin(broadcast(q))
        .withColumn("cosine", DetMath.cosinePre(
          DetMath.dotCol(col("embedding"), col("qe"), Dim), col("nrm"), col("qn")))
        .select(col("cid"), col("vec_id"), col("cosine"))
        .orderBy(col("cosine").desc, col("vec_id"))
        .limit(5)
    },
    // oracle: the same Lloyd chain as sim_ivf_kmeans (bit-identical
    // trained centroids on both engines), probe list from the FINAL
    // centroid CTE, probe scan from the final assignment aF
    Some(s"""$kmeansSqlChain,
      |q AS (SELECT embedding AS qe, nrm AS qn FROM e WHERE vec_id = 0),
      |qcid AS (
      |  SELECT cid FROM (
      |    SELECT cid, ${DetMath.cosinePreSql(DetMath.dotSql("ce", "qe", Dim), "cn", "qn")} AS qcos
      |    FROM c${KmIters}n, q)
      |  ORDER BY qcos DESC, cid LIMIT $nprobe
      |)
      |SELECT cid, vec_id, cosine FROM (
      |  SELECT a.cid, a.vec_id,
      |         ${DetMath.cosinePreSql(DetMath.dotSql("e.embedding", "q.qe", Dim), "e.nrm", "q.qn")} AS cosine
      |  FROM aF a
      |  JOIN qcid ON a.cid = qcid.cid
      |  JOIN e ON e.vec_id = a.vec_id, q
      |  WHERE a.vec_id <> 0)
      |ORDER BY cosine DESC, vec_id LIMIT 5""".stripMargin))

  /** The nprobe nearest centroids to a (broadcast) 1-row query frame —
    * a k-row driver argmax shared by the probe queries and the recall
    * test, so the production path and its pin use one selection rule. */
  private[graft] def probeCidsOf(cents: DataFrame, q: DataFrame, nprobe: Int): Seq[Long] =
    // bound: one query row (the call takes a 1-row frame)
    cents.crossJoin(broadcast(q))
      .withColumn("qcos", DetMath.cosinePre(
        DetMath.dotCol(col("ce"), col("qe"), Dim), col("cn"), col("qn")))
      .orderBy(col("qcos").desc, col("cid"))
      .select(col("cid")).head(nprobe).map(_.getLong(0)).toSeq

  /** Probe top-k vec_ids for the vec_id-0 query against an arbitrary
    * centroid frame, deriving the assignment on the fly — the recall
    * harness behind SimilaritySpec's trained-vs-fixed pin. (The
    * registered probe queries read the materialized layout instead; the
    * candidate set is identical by construction — the layout IS the
    * materialized assignment.) */
  private[graft] def probeTopIds(
      s: org.apache.spark.sql.SparkSession, d: String,
      cents: DataFrame, nprobe: Int, k: Int): Seq[Long] = {
    val emb = embNorm(s, d)
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding").as("qe"), col("nrm").as("qn"))
    val cids = probeCidsOf(cents, q, nprobe)
    assignTo(emb, cents)
      .filter(col("cid").isin(cids: _*) && col("vec_id") =!= 0)
      // bound: one query row (vec_id 0)
      .crossJoin(broadcast(q))
      .withColumn("cosine", DetMath.cosinePre(
        DetMath.dotCol(col("embedding"), col("qe"), Dim), col("nrm"), col("qn")))
      .orderBy(col("cosine").desc, col("vec_id"))
      .select(col("vec_id")).head(k).map(_.getLong(0)).toSeq
  }

  val ivfProbe = ivfProbeQuery("sim_ivf_probe", nprobe = 1)

  /** Multi-probe IVF (the standard recall knob: nprobe = 2): the query
    * scans its TWO nearest centroids' partitions — partition pruning
    * still applies (an IN-list of partition values), recall rises at
    * 2/k scan cost. */
  val ivfProbe2 = ivfProbeQuery("sim_ivf_probe2", nprobe = 2)

  /** FILTERED IVF probe — [[filteredTopk]]'s SCALE path realized: the
    * metadata predicate (label even) evaluates INSIDE the probed
    * clusters' pruned scan, because the layout CARRIES the filter
    * column — the in-cluster filtering every production vector store
    * converged on (post-filtering k results under-delivers when the
    * predicate is selective; pre-filtering to a separate index
    * duplicates storage per predicate). Plan shape: cid IN-list
    * partition-prunes to 2 of k directories, the label/vec_id guards
    * run in the scan stage, survivors score against the broadcast
    * query — so cost is (nprobe/k)·selectivity of a full scan. The
    * brute-force [[filteredTopk]] is this query's recall oracle;
    * THIS oracle replays the trained-centroid chain bit-exactly. */
  val ivfFiltered = OracleQuery(
    "sim_ivf_filtered",
    (s, d) => {
      val emb = embNorm(s, d)
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("qe"), col("nrm").as("qn"))
      val probeCids = probeCidsOf(kmeansCentroids(s, d, KmIters), q, 2)
      s.read.parquet(ivfLayoutPath(s, d))
        .withColumn("cid", col("cid").cast("long"))
        .filter(col("cid").isin(probeCids: _*) && col("vec_id") =!= 0
          && pmod(col("label"), lit(2)) === 0)
        // bound: one query row (vec_id 0)
        .crossJoin(broadcast(q))
        .withColumn("cosine", DetMath.cosinePre(
          DetMath.dotCol(col("embedding"), col("qe"), Dim), col("nrm"), col("qn")))
        .select(col("cid"), col("vec_id"), col("label"), col("cosine"))
        .orderBy(col("cosine").desc, col("vec_id"))
        .limit(5)
    },
    Some(s"""$kmeansSqlChain,
      |q AS (SELECT embedding AS qe, nrm AS qn FROM e WHERE vec_id = 0),
      |qcid AS (
      |  SELECT cid FROM (
      |    SELECT cid, ${DetMath.cosinePreSql(DetMath.dotSql("ce", "qe", Dim), "cn", "qn")} AS qcos
      |    FROM c${KmIters}n, q)
      |  ORDER BY qcos DESC, cid LIMIT 2
      |)
      |SELECT cid, vec_id, label, cosine FROM (
      |  SELECT a.cid, a.vec_id, emb.label,
      |         ${DetMath.cosinePreSql(DetMath.dotSql("e.embedding", "q.qe", Dim), "e.nrm", "q.qn")} AS cosine
      |  FROM aF a
      |  JOIN qcid ON a.cid = qcid.cid
      |  JOIN e ON e.vec_id = a.vec_id
      |  JOIN embeddings emb ON emb.vec_id = a.vec_id, q
      |  WHERE a.vec_id <> 0 AND ((emb.label % 2) + 2) % 2 = 0)
      |ORDER BY cosine DESC, vec_id LIMIT 5""".stripMargin))

  /** TRAINED IVF centroids via seeded Lloyd iterations (k-means) — the
    * index-quality upgrade over [[ivf]]'s fixed demo centroids: init =
    * the k lowest-vec_id vectors (deterministic), then [[KmIters]]
    * rounds of assign (broadcast centroid join + argmax cosine, the same
    * shape as [[ivf]]) and update.
    *
    * The update step is the novel bit, chosen for ORACLE PARITY AT ANY
    * PARALLELISM: a float mean is partial-aggregation-order-dependent,
    * so instead each centroid dimension is the sum of the vectors'
    * int8-QUANTIZED codes ([[graft.functions.QuantizeI8]]) divided by
    * 127·count — integer addition is exact and order-independent, the
    * single division and the one double→float rounding are IEEE-
    * identical on both engines, so the trained centroids are
    * bit-reproducible with NO constraint on partitioning. (This is the
    * same trick PQ/IVF trainers use to keep codebooks stable across
    * runs.) Per iteration the update is one map-side-combined groupBy
    * over k×Dim integer sums; the k centroid rows are collected to the
    * driver and re-broadcast as literals — exactly how real IVF
    * planners hold their codebook, and it keeps the per-iteration
    * lineage flat.
    *
    * Output = the [[ivf]] cluster summary (sizes + top-3 members by
    * cosine-to-centroid) computed from the FINAL assignment. */
  /** The full final assignment (vec_id, cid, cos) after `iters` Lloyd
    * rounds — iters = 0 is the fixed-init assignment, so tests can pin
    * that training improves the clustering objective.
    *
    * Dataset-keyed PERSISTED through [[graft.CachedFrames]]: a trained
    * IVF index is a once-per-corpus artifact — the summary query, the
    * cluster-bucketed dedup, and repeated runs all read one training,
    * exactly like the signature/band caches. */
  private[graft] def kmeansAssignments(
      s: org.apache.spark.sql.SparkSession, d: String, iters: Int): DataFrame =
    graft.CachedFrames.getOrBuild(
      s"kmeans_asg${kmK(s, d)}_$iters|${graft.CachedFrames.sessionKey(s)}|$d") {
      assignTo(embWithCodes(s, d), kmeansCentroids(s, d, iters))
        .select(col("vec_id"), col("cid"), col("cos"))
    }

  /** One persisted materialization of (embedding, norm, codes) per
    * dataset: every Lloyd assign scan and update agg reuses the stored
    * blocks instead of re-reading + re-quantizing per iteration, and the
    * trainer and the final assignment share the same frame. */
  private[operators] def embWithCodes(
      s: org.apache.spark.sql.SparkSession, d: String): DataFrame =
    graft.CachedFrames.getOrBuild(
      s"kmeans_emb|${graft.CachedFrames.sessionKey(s)}|$d") {
      import org.apache.spark.sql.GraftColumns.{columnOf, expressionOf}
      Tables.embeddings(s, d)
        .withColumn("nrm", DetMath.normCol(col("embedding"), Dim))
        .withColumn("q",
          columnOf(graft.functions.QuantizeI8(expressionOf(col("embedding"))))
            .getField("codes"))
        .select(col("vec_id"), col("embedding"), col("nrm"), col("q"))
    }

  /** The trained codebook — the FINAL (cid, ce, cn) centroid frame after
    * `iters` Lloyd rounds, dataset-keyed like the assignment (a k-row
    * local relation; the probe queries collect it for the driver-side
    * probe argmax, exactly as real IVF planners hold their codebook).
    * Trains at [[kmK]]: fixture k on oracle corpora, k ≈ √n above the
    * threshold. */
  private[graft] def kmeansCentroids(
      s: org.apache.spark.sql.SparkSession, d: String, iters: Int): DataFrame =
    kmeansCentroidsK(s, d, kmK(s, d), iters)

  /** Codebook trainer parameterized by k — the production path trains at
    * [[KmK]]; the recall pin also trains a k=4 codebook so trained-vs-
    * fixed compares EQUAL cluster counts (a k=8 index probes half the
    * data per cluster, so raw recall against the k=4 demo would measure
    * scan fraction, not index quality). */
  private[graft] def kmeansCentroidsK(
      s: org.apache.spark.sql.SparkSession, d: String, k: Int, iters: Int): DataFrame =
    graft.CachedFrames.getOrBuild(
      s"kmeans_cent${k}_$iters|${graft.CachedFrames.sessionKey(s)}|$d") {
      import s.implicits._
      val emb = embWithCodes(s, d)
      val stride = trainStride(nVectors(s, d))
      val train = if (stride == 1L) emb
        else emb.filter(col("vec_id") % stride === 0)
      def withCn(c: DataFrame): DataFrame =
        c.withColumn("cn", DetMath.normCol(col("ce"), Dim))
      var cents = withCn(emb.filter(col("vec_id") < k)
        .select(col("vec_id").as("cid"), col("embedding").as("ce")))
      for (_ <- 1 to iters) {
        val aggs = count(lit(1)).as("cnt") +:
          (1 to Dim).map(i => sum(element_at(col("q"), i)).as(s"s$i"))
        val rows = assignTo(train, cents).groupBy(col("cid"))
          .agg(aggs.head, aggs.tail: _*).collect()
        val trained = rows.toSeq.map { r =>
          val cnt = r.getLong(1)
          (r.getLong(0),
            (1 to Dim).map(i => (r.getLong(i + 1) / (127.0 * cnt)).toFloat).toArray)
        }
        cents = withCn(trained.toDF("cid", "ce"))
      }
      cents
    }

  val ivfKmeans = OracleQuery(
    "sim_ivf_kmeans",
    (s, d) => {
      val wc = org.apache.spark.sql.expressions.Window
        .partitionBy(col("cid")).orderBy(col("cos").desc, col("vec_id"))
      kmeansAssignments(s, d, KmIters)
        .withColumn("rank_in_cluster", row_number().over(wc))
        .withColumn("cluster_size", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("cid"))))
        .filter(col("rank_in_cluster") <= 3)
        .select(col("cid"), col("cluster_size"), col("rank_in_cluster"),
          col("vec_id"), col("cos"))
        .orderBy(col("cid"), col("rank_in_cluster"))
    },
    Some {
      s"""$kmeansSqlChain
        |SELECT cid, cluster_size, rank_in_cluster, vec_id, cos FROM (
        |  SELECT cid, vec_id, cos,
        |         row_number() OVER (PARTITION BY cid ORDER BY cos DESC, vec_id) AS rank_in_cluster,
        |         CAST(count(*) OVER (PARTITION BY cid) AS BIGINT) AS cluster_size
        |  FROM aF)
        |WHERE rank_in_cluster <= 3
        |ORDER BY cid, rank_in_cluster""".stripMargin
    })

  /** The Lloyd chain as DuckDB CTEs, ending at `aF` (the final
    * (vec_id, cid, cos) assignment) with `e` (vec_id, embedding, nrm,
    * codes) in scope: scored_i → a_i (argmax) → c_i (integer-code sums /
    * 127·count, cast to REAL) — bit-identical to [[kmeansAssignments]]
    * because every arithmetic step is either exact (int sums) or a
    * single IEEE op on identical inputs. Shared by the `sim_ivf_kmeans`
    * summary and the `dedup_embedding_ivf` pair search. */
  private[operators] def kmeansSqlChain: String = {
    val quantSql =
      "list_transform(embedding, v -> CAST(floor(greatest(-1.0, least(1.0, " +
        "CAST(v AS DOUBLE))) * 127.0 + 0.5) AS INT))"
    def scoredCte(name: String, cents: String) =
      s"""$name AS (
         |  SELECT e.vec_id, e.codes, c.cid,
         |    ${DetMath.cosinePreSql(DetMath.dotSql("e.embedding", "c.ce", Dim), "e.nrm", "c.cn")} AS cos
         |  FROM e, $cents c
         |)""".stripMargin
    def assignCte(name: String, scored: String) =
      s"""$name AS (
         |  SELECT vec_id, codes, cid, cos FROM (
         |    SELECT vec_id, codes, cid, cos,
         |           row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
         |    FROM $scored) WHERE rn = 1
         |)""".stripMargin
    def updateCte(name: String, assigned: String) = {
      val dims = (1 to Dim).map(i =>
        s"CAST(CAST(SUM(codes[$i]) AS DOUBLE) / (127.0 * COUNT(*)) AS REAL)")
        .mkString(", ")
      s"""$name AS (
         |  SELECT cid, [$dims] AS ce FROM $assigned GROUP BY cid
         |), ${name}n AS (
         |  SELECT cid, ce, ${DetMath.normSql("ce", Dim)} AS cn FROM $name
         |)""".stripMargin
    }
    val iters = (1 to KmIters).map { i =>
      val prev = if (i == 1) "c0" else s"c${i - 1}n"
      s"""${scoredCte(s"scored$i", prev)},
         |${assignCte(s"a$i", s"scored$i")},
         |${updateCte(s"c$i", s"a$i")}""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (
      |  SELECT vec_id, embedding, ${DetMath.normSql("embedding", Dim)} AS nrm,
      |         $quantSql AS codes
      |  FROM embeddings
      |), c0 AS (
      |  SELECT vec_id AS cid, embedding AS ce, nrm AS cn FROM e WHERE vec_id < $KmK
      |),
      |$iters,
      |${scoredCte("scoredF", s"c${KmIters}n")},
      |${assignCte("aF", "scoredF")}""".stripMargin
  }

  /** IVF-bucketed embedding near-dup (the production path for embedding
    * dedup over a 100 TB vector corpus: candidate pairs only WITHIN a
    * trained cluster — (n/k)² per cluster instead of n² global — then
    * exact cosine verification): the trained assignment bucketes ids,
    * pairs form per cid, vectors re-attach by key equi-join, one DotF64
    * per pair. At real k ≈ √n the candidate bound is n^1.5; recall
    * misses only pairs straddling a cluster boundary — the standard IVF
    * dedup trade, tightened by multi-probe if needed. */
  /** The within-cluster candidate-pair frame SHARED by
    * [[dedupEmbeddingIvf]] and [[dedupSemantic]] (identical assignment,
    * joins, and cosine threshold): (cid, a_id, b_id, cosine) for every
    * trained-cluster pair at cosine ≥ minCos. Built and persisted ONCE
    * per dataset via [[graft.CachedFrames]] — the band-frame/histogram
    * pattern — so the heaviest pair join in the suite runs once, not
    * once per consuming query; both consumers get the SAME DataFrame
    * instance, sharing one storage entry by construction. */
  private[graft] def withinClusterPairs(
      s: SparkSession, d: String, minCos: Double = 0.2): DataFrame =
    graft.CachedFrames.getOrBuild(
      s"ivf_pairs_${kmK(s, d)}_${KmIters}_$minCos|${graft.CachedFrames.sessionKey(s)}|$d")(
      buildWithinClusterPairs(s, d, minCos))

  /** The uncached pair-frame plan — split out so PlanSpec can audit the
    * join shape (equi-join on cid, no cartesian) without the persisted
    * frame's InMemoryRelation nesting the build plan into every printed
    * audit. */
  private[graft] def buildWithinClusterPairs(
      s: SparkSession, d: String, minCos: Double): DataFrame = {
      val asg = kmeansAssignments(s, d, KmIters).select(col("vec_id"), col("cid"))
      val e = Tables.embeddings(s, d).select(col("vec_id"),
        col("embedding"), DetMath.normCol(col("embedding"), Dim).as("nrm"))
      asg.toDF("a_id", "cid").join(asg.toDF("b_id", "cid"), "cid")
        .filter(col("a_id") < col("b_id"))
        .join(e.toDF("a_id", "a_e", "a_n"), "a_id")
        .join(e.toDF("b_id", "b_e", "b_n"), "b_id")
        .withColumn("cosine", DetMath.cosinePre(
          DetMath.dotCol(col("a_e"), col("b_e"), Dim), col("a_n"), col("b_n")))
        .filter(col("cosine") >= minCos)
        .select(col("cid"), col("a_id"), col("b_id"), col("cosine"))
  }

  val dedupEmbeddingIvf = OracleQuery(
    "dedup_embedding_ivf",
    (s, d) => withinClusterPairs(s, d)
      .orderBy(col("cid"), col("a_id"), col("b_id")),
    Some {
      val cos = DetMath.cosinePreSql(
        DetMath.dotSql("ea.embedding", "eb.embedding", Dim), "ea.nrm", "eb.nrm")
      s"""$kmeansSqlChain
        |SELECT cid, a_id, b_id, cosine FROM (
        |  SELECT a.cid AS cid, a.vec_id AS a_id, b.vec_id AS b_id, $cos AS cosine
        |  FROM aF a
        |  JOIN aF b ON a.cid = b.cid AND a.vec_id < b.vec_id
        |  JOIN e ea ON ea.vec_id = a.vec_id
        |  JOIN e eb ON eb.vec_id = b.vec_id)
        |WHERE cosine >= 0.2
        |ORDER BY cid, a_id, b_id""".stripMargin
    })

  /** Semantic deduplication END-TO-END (the SemDeDup recipe — Abbas et
    * al., "SemDeDup: Data-efficient learning at web-scale through
    * semantic deduplication", 2023): cluster the embedding space with
    * the TRAINED k-means index, form candidate pairs only within
    * clusters (the [[dedupEmbeddingIvf]] bound — (n/k)² per cluster,
    * n^1.5 at k≈√n, never all-pairs), connect the pairs into semantic
    * duplicate groups with the one-job-per-iteration label propagation,
    * and keep ONE representative (min vec_id) per group; vectors in no
    * pair keep themselves. Every vector gets a verdict row, so
    * `keep = 0` rows ARE the semantic prune list a training-data
    * pipeline drops before tokenization. The oracle replays the whole
    * composition — Lloyd training, pair predicate, and a recursive-CTE
    * reachability closure — bit-exactly. */
  val dedupSemantic = OracleQuery(
    "dedup_semantic",
    (s, d) => {
      val minCos = 0.2 // the dedupEmbeddingIvf near-dup threshold
      Dedup.withAqeOff(s) { // fixed tiny plan for the CC loop
        val pairs = withinClusterPairs(s, d, minCos)
          .select(col("a_id"), col("b_id"))
        val (labels, _) = Dedup.connectedComponents(pairs)
        Tables.embeddings(s, d).select(col("vec_id"))
          .join(labels.toDF("vec_id", "rep"), Seq("vec_id"), "left")
          .select(col("vec_id"),
            coalesce(col("rep"), col("vec_id")).as("cluster"),
            (col("vec_id") === coalesce(col("rep"), col("vec_id")))
              .cast("int").as("keep"))
          .orderBy(col("vec_id"))
      }
    },
    Some {
      val cos = DetMath.cosinePreSql(
        DetMath.dotSql("ea.embedding", "eb.embedding", Dim), "ea.nrm", "eb.nrm")
      val cte = kmeansSqlChain.replaceFirst("WITH ", "WITH RECURSIVE ")
      s"""$cte,
        |edges AS (
        |  SELECT a_id, b_id FROM (
        |    SELECT a.vec_id AS a_id, b.vec_id AS b_id, $cos AS cosine
        |    FROM aF a
        |    JOIN aF b ON a.cid = b.cid AND a.vec_id < b.vec_id
        |    JOIN e ea ON ea.vec_id = a.vec_id
        |    JOIN e eb ON eb.vec_id = b.vec_id)
        |  WHERE cosine >= 0.2
        |),
        |sym AS (SELECT a_id AS src, b_id AS dst FROM edges
        |        UNION ALL SELECT b_id, a_id FROM edges),
        |nodes AS (SELECT DISTINCT src AS id FROM sym),
        |r(id, rid) AS (
        |  SELECT id, id FROM nodes
        |  UNION
        |  SELECT sym.src, r.rid FROM sym JOIN r ON sym.dst = r.id
        |),
        |lab AS (SELECT id, min(rid) AS cluster FROM r GROUP BY id)
        |SELECT e.vec_id,
        |       COALESCE(lab.cluster, e.vec_id) AS cluster,
        |       CAST(e.vec_id = COALESCE(lab.cluster, e.vec_id) AS INT) AS keep
        |FROM e LEFT JOIN lab ON lab.id = e.vec_id
        |ORDER BY e.vec_id""".stripMargin
    })

  /** Hamming distance between two vectors' SIGN patterns in unpacked
    * form (one CASE per dimension) — the semantic definition the packed
    * words of [[binaryTopk]] are verified against, shared with the
    * recall audit so the audited tier is the same arithmetic. */
  private[operators] def signDisagreements(a: Column, b: Column): Column =
    (1 to Dim).map(i =>
      when((element_at(a, i) > 0f) =!= (element_at(b, i) > 0f), 1).otherwise(0))
      .reduceLeft(_ + _)

  /** DuckDB twin of [[signDisagreements]]. */
  private[operators] def signDisagreeSql(a: String, b: String): String =
    (1 to Dim).map(i =>
      s"CASE WHEN ($a[$i] > 0) <> ($b[$i] > 0) THEN 1 ELSE 0 END")
      .mkString(" + ")

  /** One packed word of sign bits: bit (i − lo) set iff embedding[i] > 0,
    * for i in [lo, hi] — an explicit compiled sum of power-of-two terms
    * (exact integer addition, so term order is immaterial for parity). */
  private def signWord(lo: Int, hi: Int): Column =
    (lo to hi).map(i =>
      when(element_at(col("embedding"), i) > 0f, lit(1L << (i - lo)))
        .otherwise(lit(0L)))
      .reduceLeft(_ + _)

  /** Binary (1-bit sign) quantization + Hamming ANN with exact rerank —
    * the third compression tier next to int8 ([[embedQuantize]]) and PQ
    * ([[Pq]]): each 64-dim float vector packs to TWO 32-bit sign words
    * (32× smaller than f32), candidate generation is pure integer
    * `bit_count(xor)` per word on the packed columns, and only the
    * top-[[BinaryCand]] Hamming candidates (cut deterministically by
    * (hamming, vec_id)) are reranked with the exact cosine. At 100 TB
    * the packed words are a skinny two-long column an index scan reads
    * instead of raw vectors — the same codes-not-vectors shape as the
    * PQ layout — and the rerank touches [[BinaryCand]] raw vectors per
    * query, not the corpus. The oracle computes the identical Hamming
    * integer as the 64-term sign-disagreement sum (the unpacked
    * definition), so the packed words are verified against their
    * semantics, not an implementation twin. */
  val BinaryCand = 50

  val binaryTopk = OracleQuery(
    "sim_binary_topk",
    (s, d) => {
      val packed = embNorm(s, d).select(
        col("vec_id"), col("embedding"), col("nrm"),
        signWord(1, 32).as("w0"), signWord(33, 64).as("w1"))
      val q = packed.filter(col("vec_id") === 0).select(
        col("embedding").as("qe"), col("nrm").as("qn"),
        col("w0").as("qw0"), col("w1").as("qw1"))
      val hamming =
        bit_count(col("w0").bitwiseXOR(col("qw0"))) +
          bit_count(col("w1").bitwiseXOR(col("qw1")))
      val cand = packed.filter(col("vec_id") =!= 0)
        // bound: one query row (vec_id 0)
        .crossJoin(broadcast(q))
        .withColumn("hamming", hamming)
        .orderBy(col("hamming"), col("vec_id"))
        .limit(BinaryCand)
      cand
        .withColumn("cosine", DetMath.cosinePre(
          DetMath.dotCol(col("embedding"), col("qe"), Dim), col("nrm"), col("qn")))
        .select(col("vec_id"), col("hamming"), col("cosine"))
        .orderBy(col("cosine").desc, col("vec_id"))
        .limit(10)
    },
    Some {
      val disagree = signDisagreeSql("e.embedding", "q.qe")
      s"""WITH e AS (
        |  SELECT vec_id, embedding, ${DetMath.normSql("embedding", Dim)} AS nrm
        |  FROM embeddings
        |), q AS (SELECT embedding AS qe, nrm AS qn FROM e WHERE vec_id = 0),
        |cand AS (
        |  SELECT e.vec_id, e.embedding, e.nrm, $disagree AS hamming
        |  FROM e, q WHERE e.vec_id <> 0
        |  ORDER BY hamming, e.vec_id LIMIT $BinaryCand
        |)
        |SELECT c.vec_id, c.hamming,
        |  ${DetMath.cosinePreSql(DetMath.dotSql("c.embedding", "q.qe", Dim), "c.nrm", "q.qn")} AS cosine
        |FROM cand c, q
        |ORDER BY cosine DESC, c.vec_id
        |LIMIT 10""".stripMargin
    })

  /** Matryoshka-truncation recall audit (Kusupati et al. 2022, MRL):
    * retrieval quality when only the FIRST m dimensions of each vector
    * are scored — the read-bandwidth knob a 100 TB vector store turns
    * before any quantizer, since a prefix scan reads m/Dim of the
    * bytes with zero index structure. One row per tier (16, 32, full
    * 64): top-10 by prefix-cosine vs the full-dim exact top-10, hits as
    * exact integers through one division — the same measure-don't-guess
    * harness as the recall report, with the full-width tier as the
    * built-in recall-1.0 sanity row. (The fixture's embeddings are not
    * MRL-trained, so prefix recall IS the honest penalty of truncating
    * an untrained layout — the audit is what tells you whether your
    * embeddings earn the truncation.) */
  val MatryoshkaTiers = Seq(16, 32, Dim)

  val matryoshkaQ = OracleQuery(
    "sim_matryoshka",
    (s, d) => {
      import s.implicits._
      val emb = Tables.embeddings(s, d)
      val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
      // bound: one query row (vec_id 0)
      val base = emb.filter(col("vec_id") =!= 0).crossJoin(broadcast(q))
      def top10(m: Int) = base
        .withColumn("pcos", DetMath.cosinePre(
          DetMath.dotCol(col("embedding"), col("qe"), m),
          DetMath.normCol(col("embedding"), m),
          DetMath.normCol(col("qe"), m)))
        .orderBy(col("pcos").desc, col("vec_id"))
        .limit(10).select(col("vec_id"))
      val exact10 = top10(Dim)
      val found = MatryoshkaTiers
        .map(m => top10(m).withColumn("dims", lit(m)))
        .reduce(_ unionByName _)
        .join(exact10, "vec_id")
        .groupBy(col("dims")).agg(count(lit(1)).as("hits"))
      MatryoshkaTiers.toDF("dims")
        .join(found, Seq("dims"), "left")
        .select(col("dims"),
          coalesce(col("hits"), lit(0L)).as("hits"),
          (coalesce(col("hits"), lit(0L)).cast("double") / 10.0).as("recall_at_10"))
        .orderBy(col("dims"))
    },
    Some {
      def tier(m: Int) =
        s"""t$m AS (
           |  SELECT vec_id FROM (
           |    SELECT e.vec_id,
           |      ${DetMath.cosinePreSql(DetMath.dotSql("e.embedding", "q.qe", m),
                  DetMath.normSql("e.embedding", m), DetMath.normSql("q.qe", m))} AS pcos
           |    FROM e, q WHERE e.vec_id <> 0)
           |  ORDER BY pcos DESC, vec_id LIMIT 10
           |)""".stripMargin
      val unions = MatryoshkaTiers
        .map(m => s"SELECT $m AS dims, vec_id FROM t$m")
        .mkString("\n  UNION ALL ")
      val values = MatryoshkaTiers.map(m => s"($m)").mkString(", ")
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
        |q AS (SELECT embedding AS qe FROM e WHERE vec_id = 0),
        |${MatryoshkaTiers.map(tier).mkString(",\n")},
        |m AS (
        |  $unions
        |),
        |h AS (
        |  SELECT dims, CAST(count(*) AS BIGINT) AS hits
        |  FROM m JOIN t$Dim USING (vec_id) GROUP BY dims
        |)
        |SELECT d.dims, COALESCE(h.hits, 0) AS hits,
        |       CAST(COALESCE(h.hits, 0) AS DOUBLE) / 10.0 AS recall_at_10
        |FROM (VALUES $values) d(dims) LEFT JOIN h USING (dims)
        |ORDER BY d.dims""".stripMargin
    })

  /** Int8 embedding quantization (the 4× storage/bandwidth reduction a
    * 100 TB vector corpus wants before ANN indexing): code = floor(
    * clamp(v,−1,1)·127 + 0.5) per dimension — floor(x+0.5) instead of
    * round() because the engines' round() tie rules differ — plus the
    * max absolute reconstruction error as the audit metric. Map-side
    * only. */
  val embedQuantize = OracleQuery(
    "embed_quantize",
    (s, d) => {
      // native QuantizeI8 kernel — one compiled pass (the composed
      // transform + zip_with + aggregate form is three interpreted HOF
      // traversals with two intermediate arrays per vector)
      import org.apache.spark.sql.GraftColumns.{columnOf, expressionOf}
      Tables.embeddings(s, d)
        .withColumn("q", columnOf(graft.functions.QuantizeI8(expressionOf(col("embedding")))))
        .select(col("vec_id"), element_at(col("q.codes"), 1).as("c1"),
          element_at(col("q.codes"), 2).as("c2"), col("q.max_abs_err").as("max_abs_err"))
        .orderBy(col("vec_id"))
    },
    Some("""SELECT vec_id, codes[1] AS c1, codes[2] AS c2,
      |       list_aggregate(errs, 'max') AS max_abs_err
      |FROM (
      |  SELECT vec_id, codes,
      |         list_transform(range_pairs.idx, i ->
      |           abs(greatest(-1.0, least(1.0, CAST(embedding[i] AS DOUBLE)))
      |               - CAST(codes[i] AS DOUBLE) / 127.0)) AS errs
      |  FROM (
      |    SELECT vec_id, embedding,
      |           list_transform(embedding, v ->
      |             CAST(floor(greatest(-1.0, least(1.0, CAST(v AS DOUBLE))) * 127.0 + 0.5) AS INT)) AS codes,
      |           {'idx': generate_series(1, len(embedding))} AS range_pairs
      |    FROM embeddings))
      |ORDER BY vec_id""".stripMargin))

  /** Hard-negative mining — the contrastive-training companion of kNN:
    * for each query, the top-3 most-similar corpus vectors whose cosine
    * is still BELOW the likely-positive ceiling (τ = [[HardNegCeiling]]).
    * Vectors at or above the ceiling are near-duplicates / paraphrases
    * of the query — training on them as negatives poisons the loss — so
    * the miner wants the hardest examples strictly under it.
    *
    * Scale shape: the scoring pass is map-side (query block broadcast,
    * exact cosine via [[DetMath]] in one codegen projection). The
    * per-query top-k is SALTED two-phase: rank within (qid, salt) over
    * 64 hash salts first, then rank the ≤ 64·k survivors per qid — so
    * no reducer ever sees more than ~n/64 candidates and the final
    * window touches a constant-size frame, where a single-phase
    * `Window.partitionBy(qid)` would funnel the whole corpus×|queries|
    * frame into |queries| reducers (the skew the probes' plans avoid).
    * Exactness: every global top-k row is necessarily in its salt
    * group's top-k, so phase 2 sees all of them. At production scale
    * the scoring pass composes over the IVF/PQ shortlist
    * (`sim_knn_batch`) instead of the full scan; the ceiling filter and
    * salted rank are unchanged. */
  val HardNegCeiling = 0.9
  val hardNegatives = OracleQuery(
    "sim_hard_negatives",
    (s, d) => {
      val emb = embNorm(s, d)
      val qs = emb.filter(col("vec_id") < 3)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"),
          col("nrm").as("qn"))
      val wSalt = org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid"), col("salt"))
        .orderBy(col("cosine").desc, col("vec_id"))
      val wQ = org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid")).orderBy(col("cosine").desc, col("vec_id"))
      // bound: three query rows (vec_id < 3)
      emb.crossJoin(broadcast(qs))
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("cosine", DetMath.cosinePre(
          DetMath.dotCol(col("embedding"), col("qe"), Dim), col("nrm"), col("qn")))
        .filter(col("cosine") < lit(HardNegCeiling))
        .withColumn("salt", pmod(crc32(col("vec_id").cast("string")), lit(64)))
        .withColumn("rs", row_number().over(wSalt)).filter(col("rs") <= 3)
        .withColumn("rank", row_number().over(wQ)).filter(col("rank") <= 3)
        .select(col("qid"), col("rank"), col("vec_id"), col("label"), col("cosine"))
        .orderBy(col("qid"), col("rank"))
    },
    Some(s"""WITH e AS (
      |  SELECT vec_id, label, embedding, ${DetMath.normSql("embedding", Dim)} AS nrm
      |  FROM embeddings
      |), q AS (
      |  SELECT vec_id AS qid, embedding AS qe, nrm AS qn FROM e WHERE vec_id < 3
      |), sc AS (
      |  SELECT q.qid, e.vec_id, e.label,
      |    ${DetMath.cosinePreSql(DetMath.dotSql("e.embedding", "q.qe", Dim), "e.nrm", "q.qn")} AS cosine
      |  FROM e, q WHERE e.vec_id <> q.qid
      |)
      |SELECT qid, rank, vec_id, label, cosine FROM (
      |  SELECT qid, vec_id, label, cosine,
      |         row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rank
      |  FROM sc WHERE cosine < $HardNegCeiling)
      |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin))

  /** Sample cap for the calibration histogram: at fixed 256 sign
    * buckets, within-bucket candidate pairs grow ~n²/256 — the r10
    * sf10 probe MEASURED the unsampled histogram at 168× for 100× data
    * (the same quadratic class as r8's fixed-k IVF pairing). A
    * distribution estimate doesn't need the full corpus: the
    * deterministic vec_id-stride sample (the [[TrainCap]] pattern —
    * uniform across id-blocks, reproducible, no RNG) bounds the pair
    * count at any scale, and below the cap the stride is 1 so the
    * fixture histogram IS the unsampled one and the oracle replays it
    * exactly. */
  private[graft] val CalibSampleCap = 4000L

  /** Threshold-calibration histogram — how a deployment picks the
    * near-dup cosine τ it then bakes into the dedup tier: the
    * distribution of exact cosines over the LSH CANDIDATE pairs (the
    * only pairs the verify stage will ever score), bucketed at 0.05.
    * The knee between the same-bucket-by-chance mass and the true
    * near-dup tail is read off this report. Scale shape: the histogram
    * runs over the candidate pairs of a [[CalibSampleCap]]-bounded
    * deterministic sample (stride 1 ⇒ the full corpus on every fixture
    * and the bench SF), so the within-bucket quadratic is capped by
    * construction; the bucket rollup is one combinable aggregate;
    * bucket ids are floor(cosine·20) over bit-identical cosines, so
    * the histogram hash-matches with no float policy beyond the
    * pairs'. */
  val embedCalibration = OracleQuery(
    "dedup_embedding_calibration",
    (s, d) => {
      val stride = math.max(1L,
        (nVectors(s, d) + CalibSampleCap - 1) / CalibSampleCap)
      embedNearDupFrame(
        Tables.embeddings(s, d).filter(col("vec_id") % stride === 0),
        width = 8, nBands = 1, minCosine = -1.0)
        .groupBy(floor(col("cosine") * 20).cast("int").as("bucket"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("bucket"))
    },
    Some(s"""SELECT CAST(floor(cosine * 20) AS INT) AS bucket,
      |       CAST(count(*) AS BIGINT) AS n_pairs
      |FROM (${embedNearDupSql(width = 8, nBands = 1, minCosine = -1.0)})
      |GROUP BY 1 ORDER BY bucket""".stripMargin))

  /** Cluster-purity audit — the label-agreement report an embedding
    * index owes once labels exist: per trained k-means cluster, its
    * size, majority label, and majority count (ties to the smallest
    * label — deterministic). Purity is top_n/size, left as the integer
    * pair so the report hash-matches; a cluster whose majority share is
    * near 1/|labels| is noise, not structure. Scale shape: the
    * assignment frame is a shared cached artifact; the audit adds one
    * (cid, label) combinable count and a window over the |k|·|labels|
    * result — broadcast-size at any corpus. */
  val clusterPurity = OracleQuery(
    "sim_cluster_purity",
    (s, d) => {
      val asg = kmeansAssignments(s, d, KmIters).select(col("vec_id"), col("cid"))
      val cl = asg
        .join(Tables.embeddings(s, d).select(col("vec_id"), col("label")), "vec_id")
        .groupBy(col("cid"), col("label")).agg(count(lit(1)).as("n"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("cid")).orderBy(col("n").desc, col("label"))
      cl.withColumn("rn", row_number().over(w))
        .withColumn("size", sum(col("n")).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("cid"))))
        .filter(col("rn") === 1)
        .select(col("cid"), col("size"), col("label").as("top_label"),
          col("n").as("top_n"))
        .orderBy(col("cid"))
    },
    Some(s"""$kmeansSqlChain,
      |cl AS (
      |  SELECT a.cid, em.label, CAST(count(*) AS BIGINT) AS n
      |  FROM aF a JOIN embeddings em ON em.vec_id = a.vec_id
      |  GROUP BY a.cid, em.label
      |)
      |SELECT cid, size, top_label, top_n FROM (
      |  SELECT cid, label AS top_label, n AS top_n,
      |         row_number() OVER (PARTITION BY cid ORDER BY n DESC, label) AS rn,
      |         CAST(sum(n) OVER (PARTITION BY cid) AS BIGINT) AS size
      |  FROM cl)
      |WHERE rn = 1 ORDER BY cid""".stripMargin))

  /** Embedding OUTLIER audit — the per-group quality check an embedding
    * corpus owes its labels: for each label, the 3 members FARTHEST
    * from the label's centroid (lowest cosine) — mislabeled, corrupt,
    * or genuinely novel rows, surfaced for review. The centroid is the
    * Lloyd-update mean: int8-quantized coordinates summed exactly
    * (integer addition is order-independent, so the centroid — and the
    * hash — cannot depend on partitioning), one double division per
    * dimension, cast to float. Scale shape: one combinable
    * (label, Σcodes) aggregate, a broadcast |labels|-row centroid
    * frame, exact cosine map-side, and the per-label bottom-k runs the
    * same SALTED two-phase rank as `sim_hard_negatives` — no reducer
    * sees more than ~n/64 of a label's members. */
  val embedOutliers = OracleQuery(
    "sim_embed_outliers",
    (s, d) => {
      val emb = embWithCodes(s, d)
        .join(Tables.embeddings(s, d).select(col("vec_id"), col("label")), "vec_id")
      val aggs = count(lit(1)).as("cnt") +:
        (1 to Dim).map(i => sum(element_at(col("q"), i)).as(s"s$i"))
      val sums = emb.groupBy(col("label")).agg(aggs.head, aggs.tail: _*)
      val cent = sums.select(col("label"),
        array((1 to Dim).map(i =>
          (col(s"s$i") / (lit(127.0) * col("cnt"))).cast("float")): _*).as("ce"))
        .withColumn("cn", DetMath.normCol(col("ce"), Dim))
      val wSalt = org.apache.spark.sql.expressions.Window
        .partitionBy(col("label"), col("salt"))
        .orderBy(col("cosine"), col("vec_id"))
      val wL = org.apache.spark.sql.expressions.Window
        .partitionBy(col("label")).orderBy(col("cosine"), col("vec_id"))
      // bound: one centroid per class label (closed vocabulary)
      emb.join(broadcast(cent), "label")
        .withColumn("cosine", DetMath.cosinePre(
          DetMath.dotCol(col("embedding"), col("ce"), Dim), col("nrm"), col("cn")))
        .withColumn("salt", pmod(crc32(col("vec_id").cast("string")), lit(64)))
        .withColumn("rs", row_number().over(wSalt)).filter(col("rs") <= 3)
        .withColumn("rank", row_number().over(wL)).filter(col("rank") <= 3)
        .select(col("label"), col("rank"), col("vec_id"), col("cosine"))
        .orderBy(col("label"), col("rank"))
    },
    Some {
      val quantSql =
        "list_transform(embedding, v -> CAST(floor(greatest(-1.0, least(1.0, " +
          "CAST(v AS DOUBLE))) * 127.0 + 0.5) AS INT))"
      val dims = (1 to Dim).map(i =>
        s"CAST(CAST(SUM(codes[$i]) AS DOUBLE) / (127.0 * COUNT(*)) AS REAL)")
        .mkString(", ")
      s"""WITH e AS (
        |  SELECT vec_id, label, embedding, ${DetMath.normSql("embedding", Dim)} AS nrm,
        |         $quantSql AS codes
        |  FROM embeddings
        |), cs AS (
        |  SELECT label, [$dims] AS ce FROM e GROUP BY label
        |), c AS (
        |  SELECT label, ce, ${DetMath.normSql("ce", Dim)} AS cn FROM cs
        |), sc AS (
        |  SELECT e.label, e.vec_id,
        |    ${DetMath.cosinePreSql(DetMath.dotSql("e.embedding", "c.ce", Dim), "e.nrm", "c.cn")} AS cosine
        |  FROM e JOIN c USING (label)
        |)
        |SELECT label, rank, vec_id, cosine FROM (
        |  SELECT label, vec_id, cosine,
        |         row_number() OVER (PARTITION BY label ORDER BY cosine, vec_id) AS rank
        |  FROM sc)
        |WHERE rank <= 3 ORDER BY label, rank""".stripMargin
    })

  /** Incremental IVF MAINTENANCE — the operation a deployed vector index
    * runs every day where the trainers run once: assign an ARRIVING
    * batch against the FROZEN codebook (no retraining, no touch of the
    * existing inverted lists) and report per-cluster growth plus the
    * distribution DRIFT that tells the operator when a retrain is due —
    * a cluster whose batch share runs ahead of its index share is where
    * the corpus is moving. The batch here is the deterministic
    * vec_id % 10 = 7 re-ingest slice (new ids, same vectors — so the
    * oracle replays the assignment through the shared Lloyd chain with
    * no second training CTE); the assignment is the broadcast-codebook
    * map-side argmax every probe already uses, the rollups are
    * combinable counts, and drift is two divisions and a subtraction in
    * one IEEE chain over a k-row frame. */
  val ivfAppend = OracleQuery(
    "sim_ivf_append",
    (s, d) => {
      val idx = kmeansAssignments(s, d, KmIters)
      val cents = kmeansCentroids(s, d, KmIters)
      val batch = embWithCodes(s, d).filter(col("vec_id") % 10 === 7)
        .select((col("vec_id") + 10000000L).as("vec_id"),
          col("embedding"), col("nrm"), col("q"))
      val nIdx = idx.groupBy(col("cid")).agg(count(lit(1)).as("n_index"))
      val nB = assignTo(batch, cents)
        .groupBy(col("cid")).agg(count(lit(1)).as("n_batch"))
      // both share totals ride the aggregate that collects the k-row
      // frame ([[FrameOps.withGlobalStats]])
      FrameOps.withGlobalStats(
        nIdx.join(nB, Seq("cid"), "left")
          .select(col("cid"), col("n_index"),
            coalesce(col("n_batch"), lit(0L)).as("n_batch")),
        "tb" -> sum(col("n_batch")), "ti" -> sum(col("n_index")))
        .withColumn("share_drift",
          col("n_batch").cast("double") / col("tb").cast("double") -
            col("n_index").cast("double") / col("ti").cast("double"))
        .drop("tb", "ti")
        .orderBy(col("cid"))
    },
    Some(s"""$kmeansSqlChain,
      |bidx AS (
      |  SELECT cid, CAST(count(*) AS BIGINT) AS n_index FROM aF GROUP BY cid
      |), bb AS (
      |  SELECT cid, CAST(count(*) AS BIGINT) AS n_batch
      |  FROM aF WHERE vec_id % 10 = 7 GROUP BY cid
      |)
      |SELECT cid, n_index, n_batch,
      |       CAST(n_batch AS DOUBLE) / CAST(sum(n_batch) OVER () AS DOUBLE)
      |       - CAST(n_index AS DOUBLE) / CAST(sum(n_index) OVER () AS DOUBLE)
      |         AS share_drift
      |FROM (
      |  SELECT i.cid, i.n_index, COALESCE(b.n_batch, 0) AS n_batch
      |  FROM bidx i LEFT JOIN bb b ON b.cid = i.cid)
      |ORDER BY cid""".stripMargin))

  /** MMR diversity re-rank (Carbonell & Goldstein, SIGIR 1998) — the
    * step between "top-k by cosine" and what a retrieval stack actually
    * returns: greedily pick k results maximizing
    * λ·rel − (1−λ)·max_sim-to-already-picked, so near-duplicate hits
    * stop crowding the page. The selection is inherently SEQUENTIAL
    * (each pick changes every remaining candidate's penalty), and it
    * runs where sequential belongs: the candidate POOL is the top-20 by
    * exact cosine (the brute-force leg; at production scale the IVF/PQ
    * shortlist — `sim_knn_batch` — feeds the same pool), its pairwise
    * cosine matrix is one broadcast self-join of a 20-row frame, and
    * the greedy walks COLLECTED doubles driver-side — the same
    * render-scale planning-job class as the IVF probe argmax and the
    * BPE merge pick. Scores compare Spark-computed IEEE doubles with
    * the identical 0.7·rel − 0.3·maxsim chain the oracle's RECURSIVE
    * CTE evaluates (max over a set is a comparison, not a sum — no
    * float-order hazard), ties to the smallest vec_id; the first pick's
    * empty-set penalty is an exact −0.3·0.0. The oracle replays the
    * full greedy with a carried selected-list, the LTTB device. */
  val mmrTopk = OracleQuery(
    "sim_mmr_topk",
    (s, d) => {
      import s.implicits._
      val emb = embNorm(s, d)
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("qe"), col("nrm").as("qn"))
      // bound: one query row (vec_id 0)
      val pool = emb.filter(col("vec_id") =!= 0).crossJoin(broadcast(q))
        .withColumn("rel", DetMath.cosinePre(
          DetMath.dotCol(col("embedding"), col("qe"), Dim), col("nrm"), col("qn")))
        .orderBy(col("rel").desc, col("vec_id")).limit(20)
        .select(col("vec_id"), col("embedding"), col("nrm"), col("rel"))
      val a = pool.select(col("vec_id").as("ai"), col("embedding").as("ea"),
        col("nrm").as("na"))
      val b = pool.select(col("vec_id").as("bi"), col("embedding").as("eb"),
        col("nrm").as("nb"))
      val relMap = pool.select(col("vec_id"), col("rel")).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      // bound: the 20-row LIMIT of the relevance pool
      val sims = a.crossJoin(broadcast(b)).filter(col("ai") =!= col("bi"))
        .select(col("ai"), col("bi"), DetMath.cosinePre(
          DetMath.dotCol(col("ea"), col("eb"), Dim), col("na"), col("nb")).as("sim"))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      var selected = Vector.empty[(Int, Long, Double, Double)]
      var remaining = relMap.keySet
      for (rank <- 1 to 5) {
        val scored = remaining.toSeq.map { id =>
          val maxSim =
            if (selected.isEmpty) 0.0
            else selected.map(p => sims((id, p._2))).max
          (id, 0.7 * relMap(id) - 0.3 * maxSim)
        }
        val (bestId, bestScore) = scored.minBy { case (id, sc) => (-sc, id) }
        selected :+= ((rank, bestId, relMap(bestId), bestScore))
        remaining -= bestId
      }
      selected.toDF("rank", "vec_id", "rel", "mmr_score")
    },
    Some(s"""WITH RECURSIVE e AS (
      |  SELECT vec_id, embedding, ${DetMath.normSql("embedding", Dim)} AS nrm
      |  FROM embeddings
      |), q AS (SELECT embedding AS qe, nrm AS qn FROM e WHERE vec_id = 0),
      |pool AS (
      |  SELECT e.vec_id, e.embedding, e.nrm,
      |    ${DetMath.cosinePreSql(DetMath.dotSql("e.embedding", "q.qe", Dim), "e.nrm", "q.qn")} AS rel
      |  FROM e, q WHERE e.vec_id <> 0
      |  ORDER BY rel DESC, e.vec_id LIMIT 20
      |),
      |pr AS (
      |  SELECT a.vec_id AS ai, b.vec_id AS bi,
      |    ${DetMath.cosinePreSql(DetMath.dotSql("a.embedding", "b.embedding", Dim), "a.nrm", "b.nrm")} AS sim
      |  FROM pool a JOIN pool b ON a.vec_id <> b.vec_id
      |),
      |pick(rank, sel, vec_id, rel, mmr_score) AS (
      |  (SELECT 1, [p.vec_id], p.vec_id, p.rel, 0.7 * p.rel - 0.3 * 0.0
      |   FROM pool p ORDER BY 0.7 * p.rel - 0.3 * 0.0 DESC, p.vec_id LIMIT 1)
      |  UNION ALL
      |  SELECT rank + 1, list_append(sel, vec_id), vec_id, rel, score FROM (
      |    SELECT pk.rank AS rank, pk.sel AS sel, p.vec_id, p.rel,
      |           0.7 * p.rel - 0.3 * (SELECT max(pr.sim) FROM pr
      |             WHERE pr.ai = p.vec_id AND list_contains(pk.sel, pr.bi)) AS score
      |    FROM pick pk, pool p
      |    WHERE pk.rank < 5 AND NOT list_contains(pk.sel, p.vec_id))
      |  QUALIFY row_number() OVER (ORDER BY score DESC, vec_id) = 1
      |)
      |SELECT rank, vec_id, rel, mmr_score FROM pick ORDER BY rank""".stripMargin))

  private val RadiusTau = 0.25

  /** RADIUS (threshold) SEARCH — the range-query half of the ANN
    * surface [[cosineTopk]]'s top-k leaves uncovered: every corpus
    * vector within cosine ≥ τ of ANY query vector, the shape a
    * retrieval stack runs when the contract is "all sufficiently
    * similar", not "the k best" (dedup candidate pull, policy-match
    * scans, near-duplicate review queues). Query side is a broadcast
    * k-row frame; the corpus side is ONE map-only scan with the τ
    * filter applied before anything shuffles — the only post-scan work
    * is the final order. At 100 TB the same query routes through the
    * IVF cluster layout ([[ivfProbe]]'s pruned read) with τ unchanged;
    * this brute-force form is the recall-1.0 oracle for that path. */
  val radiusSearch = OracleQuery(
    "sim_radius_search",
    (s, d) => {
      val emb = embNorm(s, d)
      val q = emb.filter(col("vec_id") < 3)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("nrm").as("qn"))
      emb.filter(col("vec_id") >= 3)
        // bound: three query rows (vec_id < 3)
        .crossJoin(broadcast(q))
        .withColumn("cosine", DetMath.cosinePre(
          DetMath.dotCol(col("embedding"), col("qe"), Dim), col("nrm"), col("qn")))
        .filter(col("cosine") >= RadiusTau)
        .select(col("qid"), col("vec_id"), col("label"), col("cosine"))
        .orderBy(col("qid"), col("cosine").desc, col("vec_id"))
    },
    Some(s"""WITH e AS (
      |  SELECT vec_id, label, embedding, ${DetMath.normSql("embedding", Dim)} AS nrm
      |  FROM embeddings
      |), q AS (SELECT vec_id AS qid, embedding AS qe, nrm AS qn FROM e WHERE vec_id < 3)
      |SELECT qid, vec_id, label, cosine FROM (
      |  SELECT q.qid, e.vec_id, e.label,
      |    ${DetMath.cosinePreSql(
        DetMath.dotSql("e.embedding", "q.qe", Dim), "e.nrm", "q.qn")} AS cosine
      |  FROM e, q
      |  WHERE e.vec_id >= 3)
      |WHERE cosine >= $RadiusTau
      |ORDER BY qid, cosine DESC, vec_id""".stripMargin))

  /** FILTERED ANN — top-k under a metadata predicate ("nearest docs
    * WHERE label is even"), the query shape every production vector
    * store added after plain top-k (post-filtering k results loses
    * recall when the predicate is selective; the correct form filters
    * DURING the search). Here the exact form: the predicate lands in
    * the scan (`PushedFilters` on the raw parquet — plan-asserted in
    * PlanSpec), the surviving vectors score against the broadcast
    * query set in one map pass, and a per-query window takes the
    * top-3. At scale the same query runs over an IVF layout that
    * CARRIES the filter column (the [[ivfAppend]] layout pattern plus
    * one more column), so the predicate prunes inside each probed
    * cluster — this brute-force form is, as with [[radiusSearch]],
    * that path's recall-1.0 oracle. */
  val filteredTopk = OracleQuery(
    "sim_filtered_topk",
    (s, d) => {
      val emb = embNorm(s, d)
      val q = emb.filter(col("vec_id") < 3)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("nrm").as("qn"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid")).orderBy(col("cosine").desc, col("vec_id"))
      emb.filter(col("vec_id") >= 3 && pmod(col("label"), lit(2)) === 0)
        // bound: three query rows (vec_id < 3)
        .crossJoin(broadcast(q))
        .withColumn("cosine", DetMath.cosinePre(
          DetMath.dotCol(col("embedding"), col("qe"), Dim), col("nrm"), col("qn")))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("qid"), col("rank"), col("vec_id"), col("label"), col("cosine"))
        .orderBy(col("qid"), col("rank"))
    },
    Some(s"""WITH e AS (
      |  SELECT vec_id, label, embedding, ${DetMath.normSql("embedding", Dim)} AS nrm
      |  FROM embeddings
      |), q AS (SELECT vec_id AS qid, embedding AS qe, nrm AS qn FROM e WHERE vec_id < 3)
      |SELECT qid, rank, vec_id, label, cosine FROM (
      |  SELECT qid, vec_id, label, cosine,
      |         row_number() OVER (PARTITION BY qid
      |                            ORDER BY cosine DESC, vec_id) AS rank
      |  FROM (
      |    SELECT q.qid, e.vec_id, e.label,
      |      ${DetMath.cosinePreSql(
        DetMath.dotSql("e.embedding", "q.qe", Dim), "e.nrm", "q.qn")} AS cosine
      |    FROM e, q
      |    WHERE e.vec_id >= 3 AND ((e.label % 2) + 2) % 2 = 0))
      |WHERE rank <= 3
      |ORDER BY qid, rank""".stripMargin))

  /** FILTERED-ANN RECALL — the honest measurement closing the filtered
    * pair: how much of the brute-force filtered top-5 ([[filteredTopk]]
    * restricted to the vec-0 query) does the nprobe=2 IVF-filtered
    * probe ([[ivfFiltered]]) actually return? Both legs run in one
    * plan, the overlap is an id-set intersection, and recall is the
    * one closing division — the same measured-not-asserted pattern as
    * `sim_knn_recall`/`sim_recall_report`, now for the predicate
    * path (selective predicates SHRINK clusters' qualifying sets, so
    * filtered recall can differ from unfiltered recall at the same
    * nprobe — this query is where that shows). */
  val filteredRecall = OracleQuery(
    "sim_filtered_recall",
    (s, d) => {
      val emb = embNorm(s, d)
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("qe"), col("nrm").as("qn"))
      val bf = emb.filter(col("vec_id") =!= 0 && pmod(col("label"), lit(2)) === 0)
        // bound: one query row (vec_id 0)
        .crossJoin(broadcast(q))
        .withColumn("cosine", DetMath.cosinePre(
          DetMath.dotCol(col("embedding"), col("qe"), Dim), col("nrm"), col("qn")))
        .orderBy(col("cosine").desc, col("vec_id"))
        .limit(5)
        .select(col("vec_id"))
      val probed = ivfFiltered.run(s, d).select(col("vec_id"))
      bf.join(probed, Seq("vec_id"), "left_semi")
        .agg(count(lit(1)).as("n_overlap"))
        .select(lit(5).as("k"), col("n_overlap"),
          (col("n_overlap").cast("double") / 5.0d).as("recall"))
    },
    Some(s"""$kmeansSqlChain,
      |q AS (SELECT embedding AS qe, nrm AS qn FROM e WHERE vec_id = 0),
      |qcid AS (
      |  SELECT cid FROM (
      |    SELECT cid, ${DetMath.cosinePreSql(DetMath.dotSql("ce", "qe", Dim), "cn", "qn")} AS qcos
      |    FROM c${KmIters}n, q)
      |  ORDER BY qcos DESC, cid LIMIT 2
      |), probed AS (
      |  SELECT vec_id FROM (
      |    SELECT a.vec_id,
      |           ${DetMath.cosinePreSql(DetMath.dotSql("e.embedding", "q.qe", Dim), "e.nrm", "q.qn")} AS cosine
      |    FROM aF a
      |    JOIN qcid ON a.cid = qcid.cid
      |    JOIN e ON e.vec_id = a.vec_id
      |    JOIN embeddings emb ON emb.vec_id = a.vec_id, q
      |    WHERE a.vec_id <> 0 AND ((emb.label % 2) + 2) % 2 = 0)
      |  ORDER BY cosine DESC, vec_id LIMIT 5
      |), bf AS (
      |  SELECT e.vec_id FROM e
      |  JOIN embeddings emb ON emb.vec_id = e.vec_id, q
      |  WHERE e.vec_id <> 0 AND ((emb.label % 2) + 2) % 2 = 0
      |  ORDER BY ${DetMath.cosinePreSql(
        DetMath.dotSql("e.embedding", "q.qe", Dim), "e.nrm", "q.qn")} DESC, e.vec_id
      |  LIMIT 5
      |)
      |SELECT 5 AS k,
      |       CAST((SELECT count(*) FROM bf WHERE vec_id IN (SELECT vec_id FROM probed))
      |            AS BIGINT) AS n_overlap,
      |       CAST((SELECT count(*) FROM bf WHERE vec_id IN (SELECT vec_id FROM probed))
      |            AS DOUBLE) / 5.0 AS recall""".stripMargin))

  val all: Seq[OracleQuery] =
    Seq(cosineTopk, ivf, embedNearDup, embedNearDupBanded, embedNearDupRandomQ,
      ivfProbe, ivfProbe2, ivfKmeans, dedupEmbeddingIvf, dedupSemantic,
      binaryTopk, matryoshkaQ, embedQuantize, hardNegatives, embedCalibration,
      clusterPurity, embedOutliers, ivfAppend, mmrTopk, radiusSearch,
      filteredTopk, ivfFiltered, filteredRecall)
}
