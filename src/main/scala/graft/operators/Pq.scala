package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.DetMath

/** Product quantization (PQ) over the embedding column — the memory-side
  * scale path for ANN that IVF alone does not give: a 64-dim float
  * vector (256 B) compresses to M sub-codes (2 B at the oracle-fixture
  * M=2/k=4, a 32-bit code at the bench-scale M=8/k=16 — see
  * [[PqParams]]; 8–16 B at production M=8–16, k=256), so a 100 TB
  * vector corpus's index fits in cluster RAM and the query-time scan
  * reads CODES, never raw vectors. The classic two-piece design (Jégou et al., "Product
  * Quantization for Nearest Neighbor Search", TPAMI 2011):
  *
  *  - **train**: an independent k-means codebook per subspace (here
  *    spherical/cosine assignment, matching the corpus's cosine metric —
  *    the same seeded Lloyd machinery as [[Similarity.kmeansCentroidsK]]
  *    with the same integer-quantized-sum update, so centroids are
  *    bit-reproducible at any parallelism and the DuckDB oracle replays
  *    training exactly);
  *  - **encode**: ONE broadcast of all M·k centroids (tagged by
  *    subspace) fanned against each vector, then ONE map-side-combinable
  *    struct-MAX argmax per subspace — no window, no shuffle-per-
  *    subspace, no vec_id self-join to zip the sub-codes;
  *  - **query (ADC)**: the query vector precomputes a dot-product table
  *    against each sub-codebook (M·k scalars, in-plan via a 1-row
  *    broadcast), and each database vector's approximate cosine is two
  *    table lookups + one divide — the scan never touches a raw vector.
  *
  * adc_cosine = (dt0+dt1)/(|q|·sqrt(sq0+sq1)) is exactly cos(q, x̂) of
  * the reconstruction x̂ (concatenated assigned centroids), so it is
  * bounded to [-1, 1] by Cauchy–Schwarz — pinned in PqSpec.
  *
  * Reference anchor: the reference delegates similarity workloads to
  * PostgreSQL (custom_components/ltss/models.py:75-80 builds the index
  * FOR the query path); PQ is that philosophy at vector scale.
  */
object Pq {

  /** Codebook geometry: M subspaces of Dim/M dims, k centroids each. */
  final case class PqParams(m: Int, k: Int) {
    val subDim: Int = Similarity.Dim / m
    def off(sub: Int): Int = sub * subDim + 1 // 1-based slice start
  }

  /** Fixture geometry — sized so the DuckDB oracle replays the full
    * Lloyd chain tractably. Standalone ADC recall at this size is ~0 by
    * construction (4-bit codes); the rerank tiers recover it. */
  val FixtureParams: PqParams = PqParams(2, 4)

  /** Production geometry for corpora past [[ProdMinVectors]] (the
    * bench SF): the PUBLISHED Jégou et al. shape — M = 8 subspaces,
    * k = 256 centroids each, one byte per sub-code (8-byte codes).
    * Measured on the sf0.1 corpus (`sim_recall_report`): standalone
    * ADC 0.3@10, ivfpq 0.6, pq_rerank 1.0, vs 0.0 for the fixture
    * code (r14's interim M=8/k=16 tier read 0.2/0.3/0.8). The 2 000-
    * vector bench corpus is small for k=256 (≈8 training vectors per
    * centroid per subspace), so these recalls UNDERSTATE the published
    * regime; the scan shape — one M·k-centroid broadcast + M lookups
    * per vector — is the production plan verbatim at any k. */
  val ProdParams: PqParams = PqParams(8, 256)

  /** Codebook CAPACITY SCALES WITH THE TRAINING CORPUS, like every real
    * PQ deployment: below this vector count (the oracle fixtures) the
    * geometry stays DuckDB-replayable; at or above it (sf0.1 bench and
    * up) the production geometry trains instead. The correctness gate
    * runs at sf0.01 (500 vectors), so every oracle row still replays
    * bit-exactly; sf0.1's 2000 vectors cross the line. One threshold
    * governs every geometry decision — shared with the k-means cluster
    * count ([[Similarity.kmK]]). */
  val ProdMinVectors: Long = Similarity.ProdMinVectors

  /** Queries whose DuckDB oracle SQL hard-codes the FIXTURE geometry
    * (M=2 → c0/c1 columns, k=4 Lloyd replay): on a corpus where
    * [[params]] selects [[ProdParams]] that SQL would mismatch the Spark
    * result BY CONSTRUCTION (different schema, different codebook).
    * [[graft.Verify]] consults [[fixtureOracleValid]] and omits these
    * entries from oracle_sql.json on such corpora — the driver then
    * records a rows-only check, making the mismatch impossible rather
    * than a convention about which SF the gate runs at. */
  val GeometryDependentOracles: Set[String] =
    Set("sim_pq_codes", "sim_pq_topk", "sim_ivfpq_topk",
      "sim_recall_report", "sim_knn_batch", "sim_knn_recall")

  /** True iff [[params]] picks the fixture geometry for `d`, i.e. the
    * fixture-shaped oracle SQL in [[GeometryDependentOracles]] is valid. */
  def fixtureOracleValid(s: SparkSession, d: String): Boolean =
    params(s, d) == FixtureParams

  /** The geometry for a dataset — one shared vector count per JVM. */
  private[graft] def params(s: SparkSession, d: String): PqParams =
    if (Similarity.nVectors(s, d) >= ProdMinVectors) ProdParams
    else FixtureParams

  // Fixture constants — the oracle SQL (always fixture-shaped; the
  // correctness gate runs below ProdMinVectors) and the fixture-scale
  // specs reference these.
  val SubM: Int = FixtureParams.m
  val SubDim: Int = FixtureParams.subDim
  val PqK: Int = FixtureParams.k
  val PqIters = 2

  private def off(m: Int): Int = FixtureParams.off(m)

  /** Per-subspace view of the persisted (embedding, codes) frame:
    * (vec_id, emb, q, nrm) with 32-dim slices — the slices are cheap
    * columnar projections over [[Similarity.embWithCodes]]'s one cached
    * materialization, shared with the full-width IVF trainer. */
  private def subEmb(s: SparkSession, d: String, m: Int): DataFrame = {
    val P = params(s, d)
    Similarity.embWithCodes(s, d)
      .select(col("vec_id"),
        slice(col("embedding"), P.off(m), P.subDim).as("emb"),
        slice(col("q"), P.off(m), P.subDim).as("q"))
      .withColumn("nrm", DetMath.normCol(col("emb"), P.subDim))
  }

  /** Trained sub-codebook for subspace `m`: (cid, ce, cn) after
    * [[PqIters]] Lloyd rounds — init = the first [[PqK]] vectors'
    * subvectors, assignment = argmax cosine (ties → lowest cid), update
    * = int8-quantized coordinate sums / (127·count) so the update is
    * order-independent and the oracle replays it bit-exactly. Collect is
    * k rows per iteration — the codebook collect every PQ trainer does. */
  private[graft] def pqCentroids(
      s: SparkSession, d: String, m: Int): DataFrame = {
    val P = params(s, d)
    graft.CachedFrames.getOrBuild(
      s"pq_cent${m}_${P.m}x${P.k}_$PqIters|${graft.CachedFrames.sessionKey(s)}|$d") {
      import s.implicits._
      val emb = subEmb(s, d, m)
      // bounded training sample, same stride policy as the IVF trainer
      // ([[Similarity.trainStride]]): stride 1 below the cap, so the
      // oracle fixtures replay bit-identically
      val stride = Similarity.trainStride(Similarity.nVectors(s, d))
      val train = if (stride == 1L) emb
        else emb.filter(col("vec_id") % stride === 0)
      def withCn(c: DataFrame): DataFrame =
        c.withColumn("cn", DetMath.normCol(col("ce"), P.subDim))
      var cents = withCn(emb.filter(col("vec_id") < P.k)
        .select(col("vec_id").as("cid"), col("emb").as("ce")))
      for (_ <- 1 to PqIters) {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("vec_id")).orderBy(col("cos").desc, col("cid"))
        val aggs = count(lit(1)).as("cnt") +:
          (1 to P.subDim).map(i => sum(element_at(col("q"), i)).as(s"s$i"))
        // bound: PqParams.k centroids
        val rows = train.crossJoin(broadcast(cents))
          .withColumn("cos", DetMath.cosinePre(
            DetMath.dotCol(col("emb"), col("ce"), P.subDim), col("nrm"), col("cn")))
          .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .groupBy(col("cid")).agg(aggs.head, aggs.tail: _*).collect()
        val trained = rows.toSeq.map { r =>
          val cnt = r.getLong(1)
          (r.getLong(0),
            (1 to P.subDim).map(i => (r.getLong(i + 1) / (127.0 * cnt)).toFloat).toArray)
        }
        cents = withCn(trained.toDF("cid", "ce"))
      }
      cents
    }
  }

  /** PQ encoding of the whole corpus: (vec_id, c0, c1). All M·k
    * centroids broadcast ONCE (tagged by subspace), each vector fans to
    * M·k scored rows map-side, and one hash aggregate takes the per-
    * subspace struct-MAX argmax (ties → lowest cid, same rule as
    * training) — partials combine map-side, no window sort, and the
    * sub-codes land zipped without a vec_id self-join. */
  private[graft] def pqCodes(s: SparkSession, d: String): DataFrame = {
    val P = params(s, d)
    graft.CachedFrames.getOrBuild(
      s"pq_codes_${P.m}x${P.k}_$PqIters|${graft.CachedFrames.sessionKey(s)}|$d") {
      // train the M sub-codebooks CONCURRENTLY (r21, guide §2.6
      // "overlap independent jobs"): each training is an independent
      // chain of small driver-coordinated jobs (2 Lloyd rounds of
      // crossJoin+argmax+collect over a bounded sample) that leaves
      // most cores idle — measured 1.6–2.9 s each, ~16 s sequential at
      // sf0.1 (ProbePqPhases); submitted together the scheduler
      // back-fills and the wall time is the slowest chain. Training
      // math is untouched — same jobs, same per-key cache entries
      // (CachedFrames builds under per-entry locks).
      locally {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(P.m)
        try {
          (0 until P.m).map { m =>
            pool.submit(new java.util.concurrent.Callable[AnyRef] {
              def call(): AnyRef = pqCentroids(s, d, m)
            })
          }.foreach(_.get())
        } finally pool.shutdown()
      }
      val cents = (0 until P.m).map(m =>
        pqCentroids(s, d, m).withColumn("m", lit(m))).reduce(_ unionByName _)
      val e = Similarity.embWithCodes(s, d).select(
        (col("vec_id") +: (0 until P.m).map(m =>
          slice(col("embedding"), P.off(m), P.subDim).as(s"e$m"))): _*)
      val withNrm = (0 until P.m).foldLeft(e)((df, m) =>
        df.withColumn(s"n$m", DetMath.normCol(col(s"e$m"), P.subDim)))
      val cos = (0 until P.m).map { m =>
        (col("m") === m) -> DetMath.cosinePre(
          DetMath.dotCol(col(s"e$m"), col("ce"), P.subDim), col(s"n$m"), col("cn"))
      }.foldLeft(lit(null).cast("double"))((acc, c) => when(c._1, c._2).otherwise(acc))
      val best = (0 until P.m).map(m =>
        max(when(col("m") === m,
          struct(col("cos"), (lit(P.k - 1) - col("cid")).as("r")))).as(s"b$m"))
      // bound: PqParams.m x k centroids
      withNrm.crossJoin(broadcast(cents))
        .withColumn("cos", cos)
        .groupBy(col("vec_id"))
        .agg(best.head, best.tail: _*)
        .select(col("vec_id") +: (0 until P.m).map(m =>
          (lit(P.k - 1) - col(s"b$m").getField("r")).as(s"c$m")): _*)
    }
  }

  // ------------------------------------------------------------ queries

  /** Codes + reconstruction energy for every vector — the audit frame a
    * PQ index ships with. recon_sq = Σ_m |centroid_m|² is the squared
    * norm of the reconstruction (subspaces are orthogonal coordinate
    * blocks), attached via two 4-row broadcast joins on the codes. */
  val pqCodesQ = OracleQuery(
    "sim_pq_codes",
    (s, d) => {
      val P = params(s, d)
      val sq = (0 until P.m).map(m => pqCentroids(s, d, m)
        .select(col("cid").as(s"c$m"),
          DetMath.dotCol(col("ce"), col("ce"), P.subDim).as(s"sq$m")))
      (0 until P.m).foldLeft(pqCodes(s, d))((df, m) =>
        // bound: one k-row table per subspace (PqParams.k)
        df.join(broadcast(sq(m)), s"c$m"))
        .select(col("vec_id") +: (0 until P.m).map(m => col(s"c$m")) :+
          (0 until P.m).map(m => col(s"sq$m")).reduce(_ + _).as("recon_sq"): _*)
        .orderBy(col("vec_id"))
    },
    Some(s"""$pqSqlChain
      |SELECT p.vec_id, p.c0, p.c1, s0.sq + s1.sq AS recon_sq
      |FROM pq p
      |JOIN (SELECT cid, ${DetMath.dotSql("ce", "ce", SubDim)} AS sq
      |      FROM c_0_${PqIters}n) s0 ON s0.cid = p.c0
      |JOIN (SELECT cid, ${DetMath.dotSql("ce", "ce", SubDim)} AS sq
      |      FROM c_1_${PqIters}n) s1 ON s1.cid = p.c1
      |ORDER BY p.vec_id""".stripMargin))

  /** ADC top-k for the query vector (vec_id 0): the query precomputes
    * its dot table against each sub-codebook (M·k scalars, built
    * in-plan from the k-row centroid frames crossed with the 1-row
    * query), and every database vector scores as two lookups + one
    * divide over its CODES — the scan reads 2 small ints per vector,
    * never the raw floats. adc_cosine = cos(query, reconstruction). */
  val pqTopkQ = OracleQuery(
    "sim_pq_topk",
    (s, d) => {
      val P = params(s, d)
      val q = Similarity.embWithCodes(s, d).filter(col("vec_id") === 0)
        .select(col("embedding").as("qe"), col("nrm").as("qn"))
      val dt = (0 until P.m).map(m => pqCentroids(s, d, m)
        // bound: one query row (vec_id 0)
        .crossJoin(broadcast(q))
        .select(col("cid").as(s"c$m"),
          DetMath.dotCol(slice(col("qe"), P.off(m), P.subDim), col("ce"), P.subDim)
            .as(s"dt$m"),
          DetMath.dotCol(col("ce"), col("ce"), P.subDim).as(s"sq$m")))
      val dtSum = (0 until P.m).map(m => col(s"dt$m")).reduce(_ + _)
      val sqSum = (0 until P.m).map(m => col(s"sq$m")).reduce(_ + _)
      (0 until P.m).foldLeft(pqCodes(s, d))((df, m) =>
        // bound: one k-row ADC table per subspace (PqParams.k)
        df.join(broadcast(dt(m)), s"c$m"))
        // bound: one query row (vec_id 0)
        .crossJoin(broadcast(q.select(col("qn"))))
        .filter(col("vec_id") =!= 0)
        .select(col("vec_id") +: (0 until P.m).map(m => col(s"c$m")) :+
          (dtSum / (col("qn") * sqrt(sqSum))).as("adc_cosine"): _*)
        .orderBy(col("adc_cosine").desc, col("vec_id"))
        .limit(10)
    },
    Some(s"""$pqSqlChain,
      |q AS (SELECT embedding AS qe, nrm AS qn FROM ef WHERE vec_id = 0),
      |dt0 AS (
      |  SELECT c.cid AS c0, ${DetMath.dotSql("qs", "c.ce", SubDim)} AS dt,
      |         ${DetMath.dotSql("c.ce", "c.ce", SubDim)} AS sq
      |  FROM c_0_${PqIters}n c, (SELECT qe[1:$SubDim] AS qs FROM q)
      |),
      |dt1 AS (
      |  SELECT c.cid AS c1, ${DetMath.dotSql("qs", "c.ce", SubDim)} AS dt,
      |         ${DetMath.dotSql("c.ce", "c.ce", SubDim)} AS sq
      |  FROM c_1_${PqIters}n c,
      |       (SELECT qe[${SubDim + 1}:${2 * SubDim}] AS qs FROM q)
      |)
      |SELECT p.vec_id, p.c0, p.c1,
      |       (dt0.dt + dt1.dt) / (q.qn * sqrt(dt0.sq + dt1.sq)) AS adc_cosine
      |FROM pq p
      |JOIN dt0 ON dt0.c0 = p.c0
      |JOIN dt1 ON dt1.c1 = p.c1
      |CROSS JOIN q
      |WHERE p.vec_id <> 0
      |ORDER BY adc_cosine DESC, p.vec_id
      |LIMIT 10""".stripMargin))

  // ------------------------------------------------------------ oracle SQL

  /** The PQ chain as DuckDB CTEs, ending at `pq` (vec_id, c0, c1) with
    * the final sub-codebooks `c_{m}_{PqIters}n` (cid, ce, cn) and `ef`
    * (vec_id, embedding, nrm, codes) in scope. Mirrors the Scala
    * trainer/encoder step for step: every arithmetic step is either
    * exact (int sums, slices) or a single IEEE op on identical inputs,
    * and both tie-breaks (training window, encode struct-MAX) resolve to
    * the lowest cid. */
  private def pqSqlChain: String = {
    val quantSql =
      "list_transform(embedding, v -> CAST(floor(greatest(-1.0, least(1.0, " +
        "CAST(v AS DOUBLE))) * 127.0 + 0.5) AS INT))"
    s"""WITH ef AS (
      |  SELECT vec_id, embedding, ${DetMath.normSql("embedding", Similarity.Dim)} AS nrm,
      |         $quantSql AS codes
      |  FROM embeddings
      |),
      |${pqSqlBody("ef")}""".stripMargin
  }

  /** The chain body (everything after the base CTE), parameterized on
    * the base relation name so the IVF+PQ oracle can graft it onto the
    * Lloyd chain's `e` (same columns as `ef`). */
  private def pqSqlBody(base: String): String = {
    def sub(m: Int): String = {
      val lo = off(m); val hi = m * SubDim + SubDim
      def scoredCte(name: String, cents: String) =
        s"""$name AS (
           |  SELECT e.vec_id, e.q, c.cid,
           |    ${DetMath.cosinePreSql(DetMath.dotSql("e.emb", "c.ce", SubDim), "e.nrm", "c.cn")} AS cos
           |  FROM e_$m e, $cents c
           |)""".stripMargin
      def assignCte(name: String, scored: String) =
        s"""$name AS (
           |  SELECT vec_id, q, cid FROM (
           |    SELECT vec_id, q, cid,
           |           row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
           |    FROM $scored) WHERE rn = 1
           |)""".stripMargin
      def updateCte(name: String, assigned: String) = {
        val dims = (1 to SubDim).map(i =>
          s"CAST(CAST(SUM(q[$i]) AS DOUBLE) / (127.0 * COUNT(*)) AS REAL)")
          .mkString(", ")
        s"""$name AS (
           |  SELECT cid, [$dims] AS ce FROM $assigned GROUP BY cid
           |), ${name}n AS (
           |  SELECT cid, ce, ${DetMath.normSql("ce", SubDim)} AS cn FROM $name
           |)""".stripMargin
      }
      val iters = (1 to PqIters).map { i =>
        val prev = if (i == 1) s"c_${m}_0" else s"c_${m}_${i - 1}n"
        s"""${scoredCte(s"sc_${m}_$i", prev)},
           |${assignCte(s"a_${m}_$i", s"sc_${m}_$i")},
           |${updateCte(s"c_${m}_$i", s"a_${m}_$i")}""".stripMargin
      }.mkString(",\n")
      s"""e_$m AS (
        |  SELECT vec_id, emb, q, ${DetMath.normSql("emb", SubDim)} AS nrm
        |  FROM (SELECT vec_id, embedding[$lo:$hi] AS emb, codes[$lo:$hi] AS q
        |        FROM $base)
        |), c_${m}_0 AS (
        |  SELECT vec_id AS cid, emb AS ce, nrm AS cn FROM e_$m WHERE vec_id < $PqK
        |),
        |$iters,
        |enc_$m AS (
        |  SELECT vec_id,
        |         ${PqK - 1} - (max({'cos': cos, 'r': ${PqK - 1} - cid})).r AS c$m
        |  FROM (
        |    SELECT e.vec_id, c.cid,
        |      ${DetMath.cosinePreSql(DetMath.dotSql("e.emb", "c.ce", SubDim), "e.nrm", "c.cn")} AS cos
        |    FROM e_$m e, c_${m}_${PqIters}n c)
        |  GROUP BY vec_id
        |)""".stripMargin
    }
    s"""${sub(0)},
      |${sub(1)},
      |pq AS (
      |  SELECT enc_0.vec_id, enc_0.c0, enc_1.c1
      |  FROM enc_0 JOIN enc_1 ON enc_1.vec_id = enc_0.vec_id
      |)""".stripMargin
  }

  // ------------------------------------------------------------ IVF+PQ

  /** The codes table in its 100 TB storage shape — the FAISS "inverted
    * list": (vec_id, c0, c1) partitioned by the TRAINED IVF cluster id,
    * materialized once per dataset like the raw-vector IVF layout. A
    * probe partition-prunes to its clusters and reads 2 small ints per
    * member vector — cluster scoping from IVF, vector compression from
    * PQ, the standard composed index. */
  def ivfPqLayoutPath(s: SparkSession, d: String): String = {
    val P = params(s, d)
    graft.ScratchDirs.materializedPath(s"ivfpq_m${P.m}k${P.k}", d) { p =>
      val asg = Similarity.kmeansAssignments(s, d, Similarity.KmIters)
        .select(col("vec_id"), col("cid"))
      // cluster the write by cid (r21, guide §6): without it every one
      // of the join's shuffle-partition tasks opened a file in every
      // cid directory (~tasks × clusters tiny files — measured 7.2 s of
      // commit overhead for a 2,000-row write, ProbePqWrite); hashing
      // rows to tasks by cid writes each cluster's codes from one task
      val parted = pqCodes(s, d).join(asg, "vec_id")
        .repartition(col("cid"))
      parted.write.mode("overwrite").partitionBy("cid").parquet(p)
    }
  }

  /** IVF+PQ probe: the query's nprobe nearest TRAINED IVF centroids
    * pick the partitions (driver-side k-row argmax, as in the raw IVF
    * probes), the pruned scan reads only those clusters' CODES, and ADC
    * scores them — at no point does the query path touch a raw database
    * vector. The oracle grafts the PQ chain onto the Lloyd chain
    * (`pqSqlBody("e")` — the two trainers share one base CTE), so both
    * index trainings replay bit-exactly in DuckDB. */
  val ivfPqTopkQ = OracleQuery(
    "sim_ivfpq_topk",
    (s, d) => {
      val nprobe = 2
      val P = params(s, d)
      val q = Similarity.embWithCodes(s, d).filter(col("vec_id") === 0)
        .select(col("embedding").as("qe"), col("nrm").as("qn"))
      val probeCids = Similarity.probeCidsOf(
        Similarity.kmeansCentroids(s, d, Similarity.KmIters), q, nprobe)
      val dt = (0 until P.m).map(m => pqCentroids(s, d, m)
        // bound: one query row (vec_id 0)
        .crossJoin(broadcast(q))
        .select(col("cid").as(s"c$m"),
          DetMath.dotCol(slice(col("qe"), P.off(m), P.subDim), col("ce"), P.subDim)
            .as(s"dt$m"),
          DetMath.dotCol(col("ce"), col("ce"), P.subDim).as(s"sq$m")))
      val dtSum = (0 until P.m).map(m => col(s"dt$m")).reduce(_ + _)
      val sqSum = (0 until P.m).map(m => col(s"sq$m")).reduce(_ + _)
      val scan = s.read.parquet(ivfPqLayoutPath(s, d))
        .withColumn("cid", col("cid").cast("long")) // dir-name round-trip
        .filter(col("cid").isin(probeCids: _*) && col("vec_id") =!= 0)
      // bound: one k-row ADC table per subspace (PqParams.k)
      (0 until P.m).foldLeft(scan)((df, m) => df.join(broadcast(dt(m)), s"c$m"))
        // bound: one query row (vec_id 0)
        .crossJoin(broadcast(q.select(col("qn"))))
        .select(col("cid"), col("vec_id"),
          (dtSum / (col("qn") * sqrt(sqSum))).as("adc_cosine"))
        .orderBy(col("adc_cosine").desc, col("vec_id"))
        .limit(5)
    },
    Some(s"""${Similarity.kmeansSqlChain},
      |${pqSqlBody("e")},
      |q AS (SELECT embedding AS qe, nrm AS qn FROM e WHERE vec_id = 0),
      |qcid AS (
      |  SELECT cid FROM (
      |    SELECT cid,
      |      ${DetMath.cosinePreSql(DetMath.dotSql("ce", "qe", Similarity.Dim), "cn", "qn")} AS qcos
      |    FROM c${Similarity.KmIters}n, q)
      |  ORDER BY qcos DESC, cid LIMIT 2
      |),
      |dt0 AS (
      |  SELECT c.cid AS c0, ${DetMath.dotSql("qs", "c.ce", SubDim)} AS dt,
      |         ${DetMath.dotSql("c.ce", "c.ce", SubDim)} AS sq
      |  FROM c_0_${PqIters}n c, (SELECT qe[1:$SubDim] AS qs FROM q)
      |),
      |dt1 AS (
      |  SELECT c.cid AS c1, ${DetMath.dotSql("qs", "c.ce", SubDim)} AS dt,
      |         ${DetMath.dotSql("c.ce", "c.ce", SubDim)} AS sq
      |  FROM c_1_${PqIters}n c,
      |       (SELECT qe[${SubDim + 1}:${2 * SubDim}] AS qs FROM q)
      |)
      |SELECT a.cid, p.vec_id,
      |       (dt0.dt + dt1.dt) / (q.qn * sqrt(dt0.sq + dt1.sq)) AS adc_cosine
      |FROM pq p
      |JOIN aF a ON a.vec_id = p.vec_id
      |JOIN qcid ON qcid.cid = a.cid
      |JOIN dt0 ON dt0.c0 = p.c0
      |JOIN dt1 ON dt1.c1 = p.c1
      |CROSS JOIN q
      |WHERE p.vec_id <> 0
      |ORDER BY adc_cosine DESC, p.vec_id
      |LIMIT 5""".stripMargin))

  /** Recall audit — "measure, don't guess" as a first-class query: the
    * recall@10 of every ANN method in the library against the exact
    * brute-force top-10, one row per method. This is the index-quality
    * report an ANN deployment ships with its artifacts; at 100 TB it
    * runs over a SAMPLE of queries, and per query it costs one
    * brute-force scan (the thing being audited against) plus the cheap
    * index reads. hits/recall are exact integers through one division,
    * so the whole report — including both trained index chains —
    * hash-matches the oracle.
    *
    * What it measures at fixture scale is itself instructive: a 4-bit
    * PQ code (M=2, k=4 — sized so the oracle can replay training) has
    * ~zero standalone recall, which is WHY production systems never
    * rank by ADC alone — `pq_rerank` shows the standard remedy, ADC as
    * a CANDIDATE GENERATOR (top-100 of 500 here) whose survivors are
    * reranked by exact cosine over raw vectors. At bench scale
    * (≥ [[ProdMinVectors]] vectors) the report runs against the
    * [[ProdParams]] 32-bit codebook instead and pq_adc's standalone
    * recall is materially non-zero (0.2@10 at sf0.1) — the same
    * report, measuring a real codebook; production M=8–16/k=256 shifts
    * the candidate stage's precision further, not the architecture.
    * `binary_rerank` audits the 1-bit sign tier ([[Similarity.binaryTopk]])
    * through the same harness: Hamming candidates + exact rerank,
    * geometry-independent (valid in both codebook regimes). */
  val recallReportQ = OracleQuery(
    "sim_recall_report",
    (s, d) => {
      import s.implicits._
      val nprobe = 2
      val P = params(s, d)
      val emb = Similarity.embWithCodes(s, d)
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("qe"), col("nrm").as("qn"))
      // bound: one query row (vec_id 0)
      val scored = emb.filter(col("vec_id") =!= 0).crossJoin(broadcast(q))
        .withColumn("cosine", DetMath.cosinePre(
          DetMath.dotCol(col("embedding"), col("qe"), Similarity.Dim),
          col("nrm"), col("qn")))
      val exact10 = scored.orderBy(col("cosine").desc, col("vec_id"))
        .limit(10).select(col("vec_id"))
      val probeCids = Similarity.probeCidsOf(
        Similarity.kmeansCentroids(s, d, Similarity.KmIters), q, nprobe)
      val asg = Similarity.kmeansAssignments(s, d, Similarity.KmIters)
        .select(col("vec_id"), col("cid"))
      val ivf10 = scored.join(asg, "vec_id")
        .filter(col("cid").isin(probeCids: _*))
        .orderBy(col("cosine").desc, col("vec_id")).limit(10).select(col("vec_id"))
      val dt = (0 until P.m).map(m => pqCentroids(s, d, m)
        // bound: one query row (vec_id 0)
        .crossJoin(broadcast(q))
        .select(col("cid").as(s"c$m"),
          DetMath.dotCol(slice(col("qe"), P.off(m), P.subDim), col("ce"), P.subDim)
            .as(s"dt$m"),
          DetMath.dotCol(col("ce"), col("ce"), P.subDim).as(s"sq$m")))
      val dtSum = (0 until P.m).map(m => col(s"dt$m")).reduce(_ + _)
      val sqSum = (0 until P.m).map(m => col(s"sq$m")).reduce(_ + _)
      val adc = (0 until P.m).foldLeft(pqCodes(s, d))((df, m) =>
        // bound: one k-row ADC table per subspace (PqParams.k)
        df.join(broadcast(dt(m)), s"c$m"))
        // bound: one query row (vec_id 0)
        .crossJoin(broadcast(q.select(col("qn"))))
        .filter(col("vec_id") =!= 0)
        .withColumn("adc_cosine", dtSum / (col("qn") * sqrt(sqSum)))
      val pq10 = adc.orderBy(col("adc_cosine").desc, col("vec_id"))
        .limit(10).select(col("vec_id"))
      val ivfpq10 = adc.join(asg, "vec_id")
        .filter(col("cid").isin(probeCids: _*))
        .orderBy(col("adc_cosine").desc, col("vec_id"))
        .limit(10).select(col("vec_id"))
      val rerank10 = adc.orderBy(col("adc_cosine").desc, col("vec_id"))
        .limit(100).select(col("vec_id"))
        .join(scored.select(col("vec_id"), col("cosine")), "vec_id")
        .orderBy(col("cosine").desc, col("vec_id"))
        .limit(10).select(col("vec_id"))
      // the full FAISS pipeline: IVF scopes the clusters, ADC ranks the
      // candidates inside them, exact cosine reranks the survivors
      val ivfpqRerank10 = adc.join(asg, "vec_id")
        .filter(col("cid").isin(probeCids: _*))
        .orderBy(col("adc_cosine").desc, col("vec_id"))
        .limit(100).select(col("vec_id"))
        .join(scored.select(col("vec_id"), col("cosine")), "vec_id")
        .orderBy(col("cosine").desc, col("vec_id"))
        .limit(10).select(col("vec_id"))
      // the binary-sign tier: Hamming top-candidates, exact rerank —
      // audited with the same disagreement arithmetic the oracle uses
      val binary10 = scored
        .withColumn("hamming",
          Similarity.signDisagreements(col("embedding"), col("qe")))
        .orderBy(col("hamming"), col("vec_id"))
        .limit(Similarity.BinaryCand)
        .orderBy(col("cosine").desc, col("vec_id"))
        .limit(10).select(col("vec_id"))
      val found = Seq("ivf_probe" -> ivf10, "pq_adc" -> pq10,
        "ivfpq" -> ivfpq10, "pq_rerank" -> rerank10,
        "ivfpq_rerank" -> ivfpqRerank10, "binary_rerank" -> binary10)
        .map { case (nm, df) => df.withColumn("method", lit(nm)) }
        .reduce(_ unionByName _)
        .join(exact10, "vec_id")
        .groupBy(col("method")).agg(count(lit(1)).as("hits"))
      Seq("ivf_probe", "pq_adc", "ivfpq", "pq_rerank", "ivfpq_rerank",
        "binary_rerank").toDF("method")
        .join(found, Seq("method"), "left")
        .select(col("method"),
          coalesce(col("hits"), lit(0L)).as("hits"),
          (coalesce(col("hits"), lit(0L)).cast("double") / 10.0).as("recall_at_10"))
        .orderBy(col("method"))
    },
    Some {
      val cos = DetMath.cosinePreSql(
        DetMath.dotSql("e.embedding", "q.qe", Similarity.Dim), "e.nrm", "q.qn")
      s"""${Similarity.kmeansSqlChain},
        |${pqSqlBody("e")},
        |q AS (SELECT embedding AS qe, nrm AS qn FROM e WHERE vec_id = 0),
        |qcid AS (
        |  SELECT cid FROM (
        |    SELECT cid,
        |      ${DetMath.cosinePreSql(DetMath.dotSql("ce", "qe", Similarity.Dim), "cn", "qn")} AS qcos
        |    FROM c${Similarity.KmIters}n, q)
        |  ORDER BY qcos DESC, cid LIMIT 2
        |),
        |exact10 AS (
        |  SELECT vec_id FROM (
        |    SELECT e.vec_id, $cos AS cosine FROM e, q WHERE e.vec_id <> 0)
        |  ORDER BY cosine DESC, vec_id LIMIT 10
        |),
        |ivf10 AS (
        |  SELECT vec_id FROM (
        |    SELECT e.vec_id, $cos AS cosine
        |    FROM e JOIN aF a ON a.vec_id = e.vec_id
        |    JOIN qcid ON qcid.cid = a.cid, q
        |    WHERE e.vec_id <> 0)
        |  ORDER BY cosine DESC, vec_id LIMIT 10
        |),
        |dt0 AS (
        |  SELECT c.cid AS c0, ${DetMath.dotSql("qs", "c.ce", SubDim)} AS dt,
        |         ${DetMath.dotSql("c.ce", "c.ce", SubDim)} AS sq
        |  FROM c_0_${PqIters}n c, (SELECT qe[1:$SubDim] AS qs FROM q)
        |),
        |dt1 AS (
        |  SELECT c.cid AS c1, ${DetMath.dotSql("qs", "c.ce", SubDim)} AS dt,
        |         ${DetMath.dotSql("c.ce", "c.ce", SubDim)} AS sq
        |  FROM c_1_${PqIters}n c,
        |       (SELECT qe[${SubDim + 1}:${2 * SubDim}] AS qs FROM q)
        |),
        |adc AS (
        |  SELECT p.vec_id,
        |         (dt0.dt + dt1.dt) / (q.qn * sqrt(dt0.sq + dt1.sq)) AS adc_cosine
        |  FROM pq p
        |  JOIN dt0 ON dt0.c0 = p.c0
        |  JOIN dt1 ON dt1.c1 = p.c1
        |  CROSS JOIN q
        |  WHERE p.vec_id <> 0
        |),
        |pq10 AS (
        |  SELECT vec_id FROM adc ORDER BY adc_cosine DESC, vec_id LIMIT 10
        |),
        |rr AS (
        |  SELECT vec_id FROM adc ORDER BY adc_cosine DESC, vec_id LIMIT 100
        |),
        |rerank10 AS (
        |  SELECT vec_id FROM (
        |    SELECT e.vec_id, $cos AS cosine
        |    FROM e JOIN rr ON rr.vec_id = e.vec_id, q)
        |  ORDER BY cosine DESC, vec_id LIMIT 10
        |),
        |irr AS (
        |  SELECT adc.vec_id FROM adc
        |  JOIN aF a ON a.vec_id = adc.vec_id
        |  JOIN qcid ON qcid.cid = a.cid
        |  ORDER BY adc.adc_cosine DESC, adc.vec_id LIMIT 100
        |),
        |ivfpq_rerank10 AS (
        |  SELECT vec_id FROM (
        |    SELECT e.vec_id, $cos AS cosine
        |    FROM e JOIN irr ON irr.vec_id = e.vec_id, q)
        |  ORDER BY cosine DESC, vec_id LIMIT 10
        |),
        |ivfpq10 AS (
        |  SELECT vec_id FROM (
        |    SELECT adc.vec_id, adc.adc_cosine
        |    FROM adc JOIN aF a ON a.vec_id = adc.vec_id
        |    JOIN qcid ON qcid.cid = a.cid)
        |  ORDER BY adc_cosine DESC, vec_id LIMIT 10
        |),
        |bin50 AS (
        |  SELECT vec_id, cosine FROM (
        |    SELECT e.vec_id, $cos AS cosine,
        |           ${Similarity.signDisagreeSql("e.embedding", "q.qe")} AS hamming
        |    FROM e, q WHERE e.vec_id <> 0)
        |  ORDER BY hamming, vec_id LIMIT ${Similarity.BinaryCand}
        |),
        |binary10 AS (
        |  SELECT vec_id FROM bin50 ORDER BY cosine DESC, vec_id LIMIT 10
        |),
        |m AS (
        |  SELECT 'ivf_probe' AS method, vec_id FROM ivf10
        |  UNION ALL SELECT 'pq_adc', vec_id FROM pq10
        |  UNION ALL SELECT 'ivfpq', vec_id FROM ivfpq10
        |  UNION ALL SELECT 'pq_rerank', vec_id FROM rerank10
        |  UNION ALL SELECT 'ivfpq_rerank', vec_id FROM ivfpq_rerank10
        |  UNION ALL SELECT 'binary_rerank', vec_id FROM binary10
        |),
        |h AS (
        |  SELECT method, CAST(count(*) AS BIGINT) AS hits
        |  FROM m JOIN exact10 USING (vec_id) GROUP BY method
        |),
        |names AS (
        |  SELECT * FROM (VALUES ('ivf_probe'), ('pq_adc'), ('ivfpq'),
        |                        ('pq_rerank'), ('ivfpq_rerank'),
        |                        ('binary_rerank')) t(method)
        |)
        |SELECT n.method, COALESCE(h.hits, 0) AS hits,
        |       CAST(COALESCE(h.hits, 0) AS DOUBLE) / 10.0 AS recall_at_10
        |FROM names n LEFT JOIN h ON h.method = n.method
        |ORDER BY n.method""".stripMargin
    })

  /** Batch kNN join — the workload shape the single-query probes don't
    * cover: EVERY query in a query set gets its top-k neighbors through
    * the composed IVF → ADC → exact-rerank pipeline, fully data-driven
    * (no driver-side argmax, no per-query `isin` — the probe list is a
    * window over the query×centroid scores, candidates come from an
    * equi-join on cid, and the ADC dot tables are a |queries|·M·k-row
    * broadcast). This is how embedding dedup / retrieval actually runs
    * on a cluster: a batch of queries flows through joins and windows,
    * and nothing in the plan depends on the number of queries. */
  val knnBatchQ = OracleQuery(
    "sim_knn_batch",
    (s, d) => {
      val nprobe = 2; val rerankWidth = 100; val k = 3
      val emb = Similarity.embWithCodes(s, d)
      val qs = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"),
          col("nrm").as("qn"))
      // data-driven probe list: rank centroids per qid, keep nprobe
      val cents = Similarity.kmeansCentroids(s, d, Similarity.KmIters)
      val wq = org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid")).orderBy(col("qcos").desc, col("cid"))
      // bound: the k k-means centroids
      val probes = qs.crossJoin(broadcast(cents))
        .withColumn("qcos", DetMath.cosinePre(
          DetMath.dotCol(col("qe"), col("ce"), Similarity.Dim), col("qn"), col("cn")))
        .withColumn("rn", row_number().over(wq)).filter(col("rn") <= nprobe)
        .select(col("qid"), col("cid"))
      // ADC dot tables per (qid, subspace, code): |queries|·M·k rows
      val P = params(s, d)
      val dt = (0 until P.m).map(m => pqCentroids(s, d, m)
        // bound: five query rows (vec_id < 5)
        .crossJoin(broadcast(qs.select(col("qid"), col("qe"))))
        .select(col("qid"), col("cid").as(s"c$m"),
          DetMath.dotCol(slice(col("qe"), P.off(m), P.subDim), col("ce"), P.subDim)
            .as(s"dt$m"),
          DetMath.dotCol(col("ce"), col("ce"), P.subDim).as(s"sq$m")))
      val dtSum = (0 until P.m).map(m => col(s"dt$m")).reduce(_ + _)
      val sqSum = (0 until P.m).map(m => col(s"sq$m")).reduce(_ + _)
      val asg = Similarity.kmeansAssignments(s, d, Similarity.KmIters)
        .select(col("vec_id"), col("cid"))
      // candidates: probed clusters' members, codes attached, self excluded
      val cand = probes.join(asg, "cid").filter(col("vec_id") =!= col("qid"))
        .join(pqCodes(s, d), "vec_id")
      val scoredAdc = (0 until P.m).foldLeft(cand)((df, m) =>
        // bound: one (query, code) table per subspace: 5 x PqParams.k rows
        df.join(broadcast(dt(m)), Seq("qid", s"c$m")))
        // bound: five query rows (vec_id < 5)
        .join(broadcast(qs.select(col("qid"), col("qn"))), "qid")
        .withColumn("adc_cosine", dtSum / (col("qn") * sqrt(sqSum)))
      val wAdc = org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid")).orderBy(col("adc_cosine").desc, col("vec_id"))
      val shortlist = scoredAdc
        .withColumn("rn", row_number().over(wAdc)).filter(col("rn") <= rerankWidth)
        .select(col("qid"), col("vec_id"))
      // exact rerank of the shortlist
      val e = emb.select(col("vec_id"), col("embedding"), col("nrm"))
      val wK = org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid")).orderBy(col("cosine").desc, col("vec_id"))
      shortlist
        .join(e, "vec_id")
        // bound: five query rows (vec_id < 5)
        .join(broadcast(qs), "qid")
        .withColumn("cosine", DetMath.cosinePre(
          DetMath.dotCol(col("embedding"), col("qe"), Similarity.Dim),
          col("nrm"), col("qn")))
        .withColumn("rank", row_number().over(wK)).filter(col("rank") <= k)
        .select(col("qid"), col("rank"), col("vec_id"), col("cosine"))
        .orderBy(col("qid"), col("rank"))
    },
    Some(s"""$knnSqlChain
      |SELECT qid, rank, vec_id, cosine FROM knn
      |ORDER BY qid, rank""".stripMargin))

  /** The batch-kNN chain as DuckDB CTEs ending at `knn`
    * (qid, rank, vec_id, cosine — top-3 per query through the composed
    * pipeline), with `qs` and `e` in scope. Shared by [[knnBatchQ]] and
    * the batch recall audit. */
  private def knnSqlChain: String = {
    val cosQ = DetMath.cosinePreSql(
      DetMath.dotSql("e.embedding", "qs.qe", Similarity.Dim), "e.nrm", "qs.qn")
    s"""${Similarity.kmeansSqlChain},
        |${pqSqlBody("e")},
        |qs AS (
        |  SELECT vec_id AS qid, embedding AS qe, nrm AS qn FROM e WHERE vec_id < 5
        |),
        |probes AS (
        |  SELECT qid, cid FROM (
        |    SELECT qs.qid, c.cid,
        |           row_number() OVER (PARTITION BY qs.qid ORDER BY
        |             ${DetMath.cosinePreSql(DetMath.dotSql("qs.qe", "c.ce", Similarity.Dim), "qs.qn", "c.cn")} DESC,
        |             c.cid) AS rn
        |    FROM qs, c${Similarity.KmIters}n c) WHERE rn <= 2
        |),
        |bdt0 AS (
        |  SELECT qs.qid, c.cid AS c0,
        |         ${DetMath.dotSql("qs.qe[1:" + SubDim + "]", "c.ce", SubDim)} AS dt,
        |         ${DetMath.dotSql("c.ce", "c.ce", SubDim)} AS sq
        |  FROM c_0_${PqIters}n c, qs
        |),
        |bdt1 AS (
        |  SELECT qs.qid, c.cid AS c1,
        |         ${DetMath.dotSql("qs.qe[" + (SubDim + 1) + ":" + 2 * SubDim + "]", "c.ce", SubDim)} AS dt,
        |         ${DetMath.dotSql("c.ce", "c.ce", SubDim)} AS sq
        |  FROM c_1_${PqIters}n c, qs
        |),
        |cand AS (
        |  SELECT p.qid, a.vec_id, pq.c0, pq.c1
        |  FROM probes p JOIN aF a ON a.cid = p.cid
        |  JOIN pq ON pq.vec_id = a.vec_id
        |  WHERE a.vec_id <> p.qid
        |),
        |shortlist AS (
        |  SELECT qid, vec_id FROM (
        |    SELECT c.qid, c.vec_id,
        |           row_number() OVER (PARTITION BY c.qid ORDER BY
        |             (d0.dt + d1.dt) / (qs.qn * sqrt(d0.sq + d1.sq)) DESC,
        |             c.vec_id) AS rn
        |    FROM cand c
        |    JOIN bdt0 d0 ON d0.qid = c.qid AND d0.c0 = c.c0
        |    JOIN bdt1 d1 ON d1.qid = c.qid AND d1.c1 = c.c1
        |    JOIN qs ON qs.qid = c.qid) WHERE rn <= 100
        |),
        |knn AS (
        |  SELECT qid, rank, vec_id, cosine FROM (
        |    SELECT s.qid,
        |           row_number() OVER (PARTITION BY s.qid ORDER BY $cosQ DESC, s.vec_id) AS rank,
        |           s.vec_id, $cosQ AS cosine
        |    FROM shortlist s
        |    JOIN e ON e.vec_id = s.vec_id
        |    JOIN qs ON qs.qid = s.qid)
        |  WHERE rank <= 3
        |)""".stripMargin
  }

  /** Batch recall audit: the kNN join's recall@3 PER QUERY against each
    * query's exact brute-force top-3 — the n>1 generalization of
    * [[recallReportQ]] (which audits methods on one query in depth;
    * this audits the production pipeline across a query sample).
    * All-integer hits through one division. */
  val knnRecallQ = OracleQuery(
    "sim_knn_recall",
    (s, d) => {
      val emb = Similarity.embWithCodes(s, d)
      val qs = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"),
          col("nrm").as("qn"))
      val wq = org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid")).orderBy(col("cosine").desc, col("vec_id"))
      val exact3 = emb.select(col("vec_id"), col("embedding"), col("nrm"))
        // bound: five query rows (vec_id < 5)
        .crossJoin(broadcast(qs))
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("cosine", DetMath.cosinePre(
          DetMath.dotCol(col("embedding"), col("qe"), Similarity.Dim),
          col("nrm"), col("qn")))
        .withColumn("rn", row_number().over(wq)).filter(col("rn") <= 3)
        .select(col("qid"), col("vec_id"))
      val hits = knnBatchQ.run(s, d).select(col("qid"), col("vec_id"))
        .join(exact3, Seq("qid", "vec_id"))
        .groupBy(col("qid")).agg(count(lit(1)).as("hits"))
      qs.select(col("qid")).join(hits, Seq("qid"), "left")
        .select(col("qid"),
          coalesce(col("hits"), lit(0L)).as("hits"),
          (coalesce(col("hits"), lit(0L)).cast("double") / 3.0).as("recall_at_3"))
        .orderBy(col("qid"))
    },
    Some {
      val cosQ = DetMath.cosinePreSql(
        DetMath.dotSql("e.embedding", "qs.qe", Similarity.Dim), "e.nrm", "qs.qn")
      s"""$knnSqlChain,
        |exact3 AS (
        |  SELECT qid, vec_id FROM (
        |    SELECT qs.qid, e.vec_id,
        |           row_number() OVER (PARTITION BY qs.qid ORDER BY $cosQ DESC, e.vec_id) AS rn
        |    FROM e, qs WHERE e.vec_id <> qs.qid)
        |  WHERE rn <= 3
        |),
        |h AS (
        |  SELECT k.qid, CAST(count(*) AS BIGINT) AS hits
        |  FROM knn k JOIN exact3 x ON x.qid = k.qid AND x.vec_id = k.vec_id
        |  GROUP BY k.qid
        |)
        |SELECT qs.qid, COALESCE(h.hits, 0) AS hits,
        |       CAST(COALESCE(h.hits, 0) AS DOUBLE) / 3.0 AS recall_at_3
        |FROM qs LEFT JOIN h ON h.qid = qs.qid
        |ORDER BY qs.qid""".stripMargin
    })

  /** Embedding-quality audit per label — the ingest gate a vector
    * corpus runs before indexing (zero vectors crash cosine math,
    * unnormalized vectors skew IP-trained indexes): per label, the
    * count, zero-vector count, out-of-norm-band count, and norm
    * extremes. MIN/MAX of doubles are order-independent (safe to
    * aggregate exactly); the MEAN norm goes through a DECIMAL(18,9)
    * quantization per row so the sum is order-independent too — the
    * 1e-9 rounding is documented, deterministic, and identical on both
    * engines. Map-side combinable throughout. */
  val embAuditQ = OracleQuery(
    "embed_norm_audit",
    (s, d) => {
      val nrm = col("nrm")
      Similarity.embWithCodes(s, d)
        .join(graft.Tables.embeddings(s, d).select(col("vec_id"), col("label")), "vec_id")
        .withColumn("nq", nrm.cast("decimal(18,9)"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n"),
          sum((nrm === 0.0).cast("long")).as("n_zero"),
          // per-row DOUBLE compare — deterministic (only aggregation
          // ORDER breaks parity, never per-row IEEE ops)
          sum((abs(nrm - 1.0) > lit(0.01)).cast("long")).as("n_off_unit"),
          min(nrm).as("min_norm"), max(nrm).as("max_norm"),
          sum(col("nq")).as("nsum"))
        .select(col("label"), col("n"), col("n_zero"), col("n_off_unit"),
          col("min_norm"), col("max_norm"),
          (col("nsum").cast("double") / col("n").cast("double")).as("mean_norm"))
        .orderBy(col("label"))
    },
    Some(s"""WITH e AS (
      |  SELECT label, ${DetMath.normSql("embedding", Similarity.Dim)} AS nrm
      |  FROM embeddings
      |), q AS (
      |  SELECT label, nrm, CAST(nrm AS DECIMAL(18,9)) AS nq FROM e
      |)
      |SELECT label, CAST(count(*) AS BIGINT) AS n,
      |       CAST(sum(CASE WHEN nrm = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
      |       CAST(sum(CASE WHEN abs(nrm - 1.0) > 0.01 THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_off_unit,
      |       min(nrm) AS min_norm, max(nrm) AS max_norm,
      |       CAST(sum(nq) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_norm
      |FROM q
      |GROUP BY label
      |ORDER BY label""".stripMargin))

  val all: Seq[OracleQuery] = Seq(pqCodesQ, pqTopkQ, ivfPqTopkQ, recallReportQ,
    knnBatchQ, knnRecallQ, embAuditQ)
}
