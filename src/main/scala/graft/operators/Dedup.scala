package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftLineage, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{Routes, Tables}

/** Deduplication operators for the LLM-data-pipeline surface: exact
  * (hash-groupBy), MinHash+LSH (shingle → minhash → band → bucket join),
  * and exact n-gram Jaccard for candidate verification.
  *
  * Scale design (100 TB): exact dedup is one hash shuffle on the
  * fingerprint; MinHash+LSH replaces the O(n²) pairwise compare with a
  * bucket join on band signatures — only same-bucket docs pair up. All
  * hashing is md5 (present on both Spark and the DuckDB oracle), and
  * minhash takes the *string*-min of fixed-width hex slices, which is
  * deterministic and engine-independent (no Murmur mismatch).
  *
  * Cost shape: 8 minhashes come from TWO md5 evaluations per shingle
  * (the 32-hex digest sliced into four 8-hex chunks ≈ four independent
  * 32-bit hashes), and the LSH join carries the signature columns through
  * the band explode so the signature aggregate is computed once, not
  * re-joined per side.
  */
object Dedup {

  /** 2-word shingles (DuckDB side; the Spark side computes the same
    * shingling inside the [[graft.functions.MinHash8]] kernel). */
  private[operators] val shingles2Sql =
    """CASE WHEN len(string_split(text, ' ')) >= 2
      |  THEN list_transform(generate_series(1, len(string_split(text, ' ')) - 1),
      |         i -> concat_ws(' ', string_split(text, ' ')[i], string_split(text, ' ')[i+1]))
      |  ELSE [text] END""".stripMargin

  private val NumHashes = 8

  /** Exact dedup: md5-fingerprint group, deterministic survivor (lowest
    * doc_id), duplicate count exposed per doc. */
  val exact = OracleQuery(
    "dedup_exact",
    (s, d) => {
      val w = Window.partitionBy(col("fp"))
      Tables.documents(s, d)
        .withColumn("fp", md5(col("text")))
        .withColumn("dup_count", count(lit(1)).over(w))
        .withColumn("survivor", (col("doc_id") === min(col("doc_id")).over(w)).cast("int"))
        .select(col("doc_id"), col("fp"), col("dup_count"), col("survivor"))
        .orderBy(col("doc_id"))
    },
    Some("""SELECT doc_id, fp, CAST(dup_count AS BIGINT) AS dup_count, survivor FROM (
      |  SELECT doc_id, md5(text) AS fp,
      |         count(*) OVER (PARTITION BY md5(text)) AS dup_count,
      |         CAST(doc_id = min(doc_id) OVER (PARTITION BY md5(text)) AS INT) AS survivor
      |  FROM documents)
      |ORDER BY doc_id""".stripMargin))

  /** MinHash signature frame: doc_id, m0..m7 (8-hex-char string mins).
    *
    * SHUFFLE-FREE and CODEGEN-NATIVE: the whole signature is computed
    * row-locally by the [[graft.functions.MinHash8]] native expression
    * (one compiled pass: shingle spans → 2×md5 → running slice-mins) —
    * no explode, no groupBy, no interpreted higher-order functions. At
    * 100 TB the signature stage is a pure map with no exchange at all;
    * only the LSH band join shuffles. */
  private def minhashFrame(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.GraftColumns.{columnOf, expressionOf}
    val base = Tables.fanOut(docs)
      .select(col("doc_id"),
        columnOf(graft.functions.MinHash8(expressionOf(col("text")))).as("sig"))
    val mins = (0 until NumHashes).map(i => element_at(col("sig"), i + 1).as(s"m$i"))
    base.select(col("doc_id") +: mins: _*)
  }

  private def minhashCte: String = {
    val mins = ((0 until 4).map(i =>
      s"list_aggregate(list_transform(h0s, h -> substring(h, ${i * 8 + 1}, 8)), 'min') AS m$i") ++
      (0 until 4).map(i =>
        s"list_aggregate(list_transform(h1s, h -> substring(h, ${i * 8 + 1}, 8)), 'min') AS m${i + 4}"))
      .mkString(",\n    ")
    s"""WITH hs AS (
       |  SELECT doc_id,
       |         list_transform(shl, s -> md5('0:' || s)) AS h0s,
       |         list_transform(shl, s -> md5('1:' || s)) AS h1s
       |  FROM (SELECT doc_id, $shingles2Sql AS shl FROM documents)
       |), sig AS (
       |  SELECT doc_id,
       |    $mins
       |  FROM hs
       |)""".stripMargin
  }

  /** MinHash signatures: 8 hashes per doc. */
  val minhashSig = OracleQuery(
    "minhash_signature",
    (s, d) => minhashFrame(Tables.documents(s, d)).orderBy(col("doc_id")),
    Some(s"""$minhashCte
      |SELECT * FROM sig ORDER BY doc_id""".stripMargin))

  /** Per-bucket skew cap for the LSH join: buckets larger than this are
    * excluded from pair generation (a hot band value — e.g. boilerplate
    * docs sharing a signature band — would otherwise make one reducer
    * quadratic). Capped buckets route to [[lshOverflowVerify]], whose
    * own hard bound drops truly degenerate bands (see its doc) — the
    * three-tier policy is: banded join ≤ this cap, exact verify in
    * (cap, hardMax], deliberate drop above hardMax. The routing at THIS
    * cap (not just a demo cap) is pinned by `DedupSkewSpec` with a
    * synthesized >1000-doc hot band. */
  val MaxLshBucket = 1000

  /** The ONE definition of banding: the 8-slot signature splits into 2
    * bands of 4 fixed-width hex mins (concat is injective). Shared by
    * the pair join, the overflow verifier, and the SQL oracles so a
    * band-shape change cannot make the paths disagree. */
  private def bandedExplode: Column = {
    val ms = (0 until NumHashes).map(i => col(s"m$i"))
    explode(map(
      lit(0), concat(ms.take(4): _*),
      lit(1), concat(ms.drop(4): _*)))
  }

  private def bandValSql(bi: Int): String =
    (0 until 4).map(i => s"m${bi * 4 + i}").mkString(" || ")

  /** DuckDB bands CTE body; `extraCols` rides the signature columns
    * along when the consumer needs them. */
  private def bandsCteSql(extraCols: String): String =
    s"""bands AS (
       |  SELECT doc_id$extraCols, 0 AS band_idx, ${bandValSql(0)} AS band_val FROM sig
       |  UNION ALL
       |  SELECT doc_id$extraCols, 1 AS band_idx, ${bandValSql(1)} AS band_val FROM sig
       |)""".stripMargin

  /** MinHash + LSH near-dup pairs: the 8-hash signature banded into 2
    * bands of 4 (fixed-width hex → concat is injective), bucket-join on
    * (band_idx, band_val), Jaccard estimated as the fraction of matching
    * minhashes. A band match guarantees est ≥ 0.5.
    *
    * Scale shape: the banded signature frame is PERSISTED before the
    * self-join — the shingle→md5→groupBy signature aggregate (the most
    * expensive stage) executes once and both join sides scan the cache
    * (ReuseExchange is plan-shape-sensitive; the cache is not). Bucket
    * sizes are counted and oversized buckets dropped (see
    * [[MaxLshBucket]]) so a single hot band value cannot go O(b²). */
  /** The persisted banded signature frame — ALL buckets, each row
    * carrying its bucket size `bsz` — shared by the pair join, the
    * clustering stage, and the overflow verifier: the signature +
    * band-count subtree executes once per dataset and every consumer
    * scans the cache, applying its own tier of the size policy
    * ([[MaxLshBucket]]). Cached UNFILTERED so the overflow verifier can
    * see the hot buckets the pair join excludes. Dataset-keyed through
    * [[graft.CachedFrames]], so interleaved multi-dataset workloads
    * don't thrash a shared slot. */
  private[graft] def guardedBands(s: SparkSession, d: String): DataFrame =
    graft.CachedFrames.getOrBuild(
      s"lsh_bands|${graft.CachedFrames.sessionKey(s)}|$d") {
      val sig = minhashFrame(Tables.documents(s, d))
      val ms = (0 until NumHashes).map(i => col(s"m$i"))
      val bands = sig.select(
        (col("doc_id") +: ms) :+ bandedExplode.as(Seq("band_idx", "band_val")): _*)
      val wBucket = Window.partitionBy(col("band_idx"), col("band_val"))
      bands.withColumn("bsz", count(lit(1)).over(wBucket))
    }

  /** (doc_id, band_idx, band_val) bands for an arbitrary docs frame —
    * the map-side signature+banding stage exposed for streaming
    * consumers ([[graft.streaming.StreamingOps.splitStream]]), computed
    * by the same native kernel and band rule as [[guardedBands]] so the
    * stream and the batch index cannot disagree on a bucket. */
  private[graft] def bandsOf(docs: DataFrame): DataFrame = {
    val sig = minhashFrame(docs)
    val ms = (0 until NumHashes).map(i => col(s"m$i"))
    sig.select(
      (col("doc_id") +: ms) :+ bandedExplode.as(Seq("band_idx", "band_val")): _*)
      .select(col("doc_id"), col("band_idx"), col("band_val"))
  }

  /** The STATIC band→split-group index an incremental pipeline keeps
    * next to its fingerprint store: every guarded band of the indexed
    * corpus tagged with the doc's split group (near-dup cluster
    * representative; singletons represent themselves). A streaming doc
    * that lands in any of these buckets inherits the group — see
    * [[graft.streaming.StreamingOps.splitStream]]. */
  private[graft] def splitBandIndex(s: SparkSession, d: String): DataFrame = {
    val labels = ccLabels(s, d).select(col("id").as("doc_id"), col("label"))
    guardedBands(s, d).filter(col("bsz") <= MaxLshBucket)
      .select(col("doc_id"), col("band_idx"), col("band_val"))
      .join(labels, Seq("doc_id"), "left")
      .select(col("band_idx"), col("band_val"),
        coalesce(col("label"), col("doc_id")).as("grp"))
  }

  /** Warm the shared per-dataset signature/band cache (the artifact every
    * dedup_* query scans). Called by Bench warm-up so the one-time build
    * isn't charged to whichever dedup query happens to run first —
    * at scale the signature set is computed once per corpus by the
    * pipeline, not per query. */
  def warmShared(s: SparkSession, d: String): Unit = {
    // the three band artifacts are independent builds — overlap them
    // (r21, guide §2.6); each still lands in its own CachedFrames
    // entry, built under that entry's lock
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    try {
      Seq(
        () => guardedBands(s, d).count(),
        () => simhashBands(s, d, 16).count(),
        () => simhashBands(s, d, 64).count()
      ).map { f =>
        pool.submit(new java.util.concurrent.Callable[AnyRef] {
          def call(): AnyRef = java.lang.Long.valueOf(f())
        })
      }.foreach(_.get())
    } finally pool.shutdown()
    ()
  }

  /** The recall audit's ground-truth frame, warmed like the other
    * per-dataset artifacts so the bench charges its one-time join cost
    * to `warm_build` (both the recall and S-curve audits then read the
    * persisted 61-row frame). */
  def warmRecallTruth(s: SparkSession, d: String): Unit = {
    recallPairFrame(s, d).count(); ()
  }

  /** Candidate EDGES for clustering: same guarded bucket join as
    * [[lshPairFrame]] but WITHOUT the distinct pass or the Jaccard
    * estimate — min-label propagation is insensitive to duplicate edges,
    * so the clustering path skips a whole shuffle and the match-count
    * expression. */
  private def lshCandidateEdges(s: SparkSession, d: String): DataFrame = {
    val guarded = guardedBands(s, d).filter(col("bsz") <= MaxLshBucket)
      .select(col("doc_id"), col("band_idx"), col("band_val"))
    guarded.toDF("a_id", "band_idx", "band_val")
      .join(guarded.toDF("b_id", "band_idx", "band_val"), Seq("band_idx", "band_val"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"))
  }

  /** The banded/guarded LSH candidate frame shared by the pair query and
    * the clustering stage. UNSORTED — presentation ordering is applied
    * only by the terminal query, not paid by intermediate consumers. */
  private def lshPairFrame(s: SparkSession, d: String): DataFrame = {
    val guarded = guardedBands(s, d).filter(col("bsz") <= MaxLshBucket).drop("bsz")
    def pfx(p: String)(df: DataFrame): DataFrame =
      df.toDF(df.columns.toIndexedSeq.map(c => if (c.startsWith("band")) c else s"$p$c"): _*)
    val a = pfx("a_")(guarded)
    val b = pfx("b_")(guarded)
    val matches = (0 until NumHashes)
      .map(i => when(col(s"a_m$i") === col(s"b_m$i"), 1).otherwise(0))
      .reduceLeft(_ + _)
    a.join(b, Seq("band_idx", "band_val"))
      .filter(col("a_doc_id") < col("b_doc_id"))
      .select(col("a_doc_id").as("a_id"), col("b_doc_id").as("b_id"),
        (matches.cast("double") / lit(NumHashes.toDouble)).as("est_jaccard"))
      .distinct()
  }

  /** DuckDB CTE chain shared by the LSH pair query and the clustering
    * query: bands → size-guarded buckets. */
  private def lshGuardedCte: String = {
    val sigCols = (0 until NumHashes).map(i => s", m$i").mkString
    s"""$minhashCte,
      |${bandsCteSql(sigCols)},
      |guarded AS (
      |  SELECT * FROM (
      |    SELECT *, count(*) OVER (PARTITION BY band_idx, band_val) AS bsz FROM bands)
      |  WHERE bsz <= $MaxLshBucket
      |)""".stripMargin
  }

  val minhashLsh = OracleQuery(
    "dedup_minhash_lsh",
    (s, d) => lshPairFrame(s, d).orderBy(col("a_id"), col("b_id")),
    Some {
      val matches = (0 until NumHashes)
        .map(i => s"CASE WHEN a.m$i = b.m$i THEN 1 ELSE 0 END").mkString(" + ")
      s"""$lshGuardedCte
        |SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
        |       CAST($matches AS DOUBLE) / 8.0 AS est_jaccard
        |FROM guarded a JOIN guarded b
        |  ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id
        |ORDER BY a_id, b_id""".stripMargin
    })

  /** Connected components over an (a_id, b_id) pair frame → (id, label)
    * plus the iteration count (0 on the single-task route). Routed by
    * [[graft.Routes.Cc]]: graphs at or under its edge cap are labeled by
    * ONE task's min-root union-find — the fixpoint loop's per-iteration
    * driver round-trips and shuffles are pure overhead at that size;
    * bigger graphs run the distributed min-label propagation fixpoint
    * below.
    * The returned frame carries HONEST leaf statistics (row count from
    * the convergence job, size = rows × width), so dimension-sized
    * label frames auto-broadcast at consumers while corpus-sized ones
    * honestly shuffle — see [[org.apache.spark.sql.GraftLineage]].
    *
    * Efficiency shape (one job per iteration — pinned by PlanSpec):
    *  - seed label = min(id, min neighbor): the first propagation round
    *    rides the init shuffle instead of being its own iteration;
    *  - the convergence check is FOLDED INTO the propagation pass — the
    *    new label is computed next to the old one and a changed-count
    *    aggregate both materializes the (lazily checkpointed) iteration
    *    frame and decides convergence in the same job. No separate
    *    isEmpty join, no eager checkpoint job;
    *  - the iterated subgraph is |docs with a near-dup| — orders of
    *    magnitude smaller than the corpus — so the loop's parallelism is
    *    sized to IT, not to the session default;
    *  - lineage is truncated every round ([[GraftLineage.truncate]]:
    *    into the checkpoint directory when the deployment set one, else
    *    executor-local blocks, whose loss mid-loop kills the job).
    * Iteration count is O(log diameter): each round combines min-label
    * propagation with a pointer-doubling jump (label ← label-of-label),
    * so even a pathological duplicate CHAIN (doc A≈B≈C≈…, common in
    * boilerplate families) converges in ~log₂(chain length) driver
    * round-trips, not chain length. Returns (labels, rounds); rounds
    * is the distributed fixpoint's iteration count and 0 ONLY when
    * the single-task route was taken — a route sentinel, not "converged
    * in zero rounds" (don't build convergence telemetry on it).
    * Callers should disable AQE around
    * the loop (see
    * [[clusters]]): the plan is fixed and hand-partitioned, so adaptive
    * replanning only adds per-iteration stage jobs. */
  /** Runs `body` with AQE disabled on the session conf, restoring the
    * prior value after — the shared discipline around every
    * [[connectedComponents]] loop (the plan is fixed, tiny, and
    * hand-partitioned; adaptive replanning only adds per-iteration
    * stage jobs). One definition instead of the toggle copied at each
    * call site. */
  def withAqeOff[T](s: SparkSession)(body: => T): T = {
    val key = "spark.sql.adaptive.enabled"
    val was = s.conf.get(key, "true")
    s.conf.set(key, "false")
    try body finally s.conf.set(key, was)
  }

  def connectedComponents(pairs: DataFrame): (DataFrame, Int) = {
    val s = pairs.sparkSession
    // route selection depends on a RUNTIME edge count, so both routes
    // must emit one schema: the single-task Dataset decode below would
    // silently upcast narrower id types to bigint while the distributed
    // loop preserves them, making the output schema data-size-dependent
    // for a non-Long caller (r20 ADVICE) — refuse loudly instead
    require(pairs.schema.fields.take(2).forall(
        _.dataType == org.apache.spark.sql.types.LongType),
      s"connectedComponents expects two LongType id columns, " +
        s"got ${pairs.schema.simpleString}")
    // GraftLineage.truncate strips the checkpoint's ORIGIN STATS: the
    // pointer-doubling round joins a frame with a projection of itself,
    // which otherwise SQUARES the CBO sizeInBytes every iteration —
    // bit counts double per round and deep graphs (~20+ rounds) melt
    // the driver in megabit BigInteger products during planning — while
    // KEEPING the hand-set hash partitioning the built-in checkpoint
    // drops (see GraftLineage's scaladoc for both measured pathologies)
    val edges = GraftLineage.truncate(pairs.toDF("a_id", "b_id"))
    // one job: materializes the edge checkpoint (the union below would
    // otherwise run the pair join twice), sizes the loop's parallelism,
    // and measures the route: the edge count bounds one task's
    // union-find, whose labels (component minima) equal the fixpoint's.
    val nEdges = edges.count()
    if (Routes.local(Routes.Cc, nEdges)) {
      import s.implicits._
      // one job: materializes the label blocks AND counts the nodes for
      // the eager cut's honest statistics
      return (GraftLineage.cut(edges.as[(Long, Long)].coalesce(1)
        .mapPartitions(it =>
          graft.operators.Queries.minRootComponents(it).iterator)
        .toDF("id", "label"), eager = true), 0)
    }
    val maxParts = s.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val parts = math.max(1L, math.min(maxParts.toLong, (2L * nEdges) / 100000L + 1L)).toInt
    val sym = GraftLineage.truncate(
      edges.union(edges.select(col("b_id"), col("a_id"))).toDF("src", "dst")
        .repartition(parts, col("dst"))) // materialized by iteration 1's job
    var labels = sym.groupBy(col("src")).agg(min(col("dst")).as("mn"))
      .select(col("src").as("id"), least(col("src"), col("mn")).as("label"))
    var iters = 0
    var changed = 1L
    var nNodes = 0L
    while (changed > 0) {
      iters += 1
      val nbr = sym.join(labels.select(col("id").as("dst"), col("label")), "dst")
        .groupBy(col("src")).agg(min(col("label")).as("nlabel"))
      val newLabel = least(col("label"), coalesce(col("nlabel"), col("label")))
      // propagation (label ← min over neighbors), lazily truncated so the
      // pointer-doubling self-join below reads its blocks instead of
      // recomputing the neighbor join on both sides
      val prop = GraftLineage.truncate(
        labels.join(nbr, col("id") === col("src"), "left")
          .select(col("id"), newLabel.as("plabel"), col("label").as("old"))
          .repartition(parts, col("id")))
      // pointer doubling: label ← label-of-label. Propagation alone
      // converges in O(diameter) rounds — LINEAR driver round-trips on a
      // pathological duplicate chain (boilerplate families); the jump
      // halves the remaining chain depth each round, making convergence
      // O(log diameter) with the same per-round plan shape. Labels stay
      // node ids within the component (the label chain never leaves it),
      // so correctness is unchanged — only the fixpoint arrives sooner.
      val jump = prop.select(col("id").as("jid"), col("plabel").as("jlabel"))
      val doubled = coalesce(col("jlabel"), col("plabel"))
      val next = GraftLineage.truncate(
        prop.join(jump, col("plabel") === col("jid"), "left")
          .select(col("id"), doubled.as("label"),
            (doubled < col("old")).cast("long").as("chg"))
          .repartition(parts, col("id")))
      // THE one job: propagate + jump + materialize the checkpoint +
      // converge-check + node count (rides the same pass — it prices
      // the honest-stats re-attach below at zero extra jobs)
      val conv = next.agg(coalesce(sum(col("chg")), lit(0L)),
        count(lit(1))).head()
      changed = conv.getLong(0)
      nNodes = conv.getLong(1)
      labels = next.drop("chg")
    }
    // The in-loop truncate discipline strips stats so the self-join
    // rounds can't compound them — but handing a no-stats frame BACK to
    // callers silently demoted every downstream label join from
    // broadcast to shuffle (r19 VERDICT finding #1: dedup_semantic
    // +60%). Re-attach the exact converged row count so Catalyst
    // auto-broadcasts a dimension-sized label frame — and, just as
    // honestly, shuffles a corpus-sized one at 100 TB.
    (GraftLineage.frameWithRowCount(labels, nNodes), iters)
  }

  /** The CONVERGED near-dup component labels (id → min-label), shared
    * per dataset: [[clusters]] and [[keepBest]] both consume the same
    * fixpoint, and the CC loop is the expensive part — run it once and
    * persist the (tiny) label frame, the same shared-artifact policy as
    * the band/k-means frames. AQE is disabled for the loop (fixed tiny
    * hand-partitioned plan; adaptive replanning only adds per-iteration
    * stage jobs) and restored after. */
  private[graft] def ccLabels(s: SparkSession, d: String): DataFrame =
    graft.CachedFrames.getOrBuild(
      s"cc_labels|${graft.CachedFrames.sessionKey(s)}|$d") {
      withAqeOff(s)(connectedComponents(lshCandidateEdges(s, d))._1)
    }

  /** Canonical (min-doc_id) cluster per near-dup doc — the final stage
    * of the dedup pipeline: signature → candidate pairs → clusters →
    * keep one doc per cluster. See [[connectedComponents]] for the
    * iteration shape; the converged labels come from the shared
    * [[ccLabels]] frame. */
  /** DuckDB recursive-CTE replay of [[ccLabels]]: bands → guarded
    * buckets → candidate edges → min-label closure, ending at
    * `cclabels(doc_id, label)`. Shared by the clustering query and the
    * leakage-free split so the two oracles cannot drift. */
  private def ccLabelsCte: String = {
    val cte = lshGuardedCte.replaceFirst("WITH ", "WITH RECURSIVE ")
    s"""$cte,
      |edges AS (
      |  SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
      |  FROM guarded a JOIN guarded b
      |    ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id
      |),
      |sym AS (SELECT a AS src, b AS dst FROM edges UNION ALL SELECT b, a FROM edges),
      |nodes AS (SELECT DISTINCT src AS id FROM sym),
      |r(id, rid) AS (
      |  SELECT id, id FROM nodes
      |  UNION
      |  SELECT sym.src, r.rid FROM sym JOIN r ON sym.dst = r.id
      |),
      |cclabels AS (SELECT id AS doc_id, min(rid) AS label FROM r GROUP BY id)""".stripMargin
  }

  val clusters = OracleQuery(
    "dedup_clusters",
    (s, d) =>
      ccLabels(s, d)
        .select(col("id").as("doc_id"), col("label").as("cluster"),
          (col("id") === col("label")).cast("int").as("is_canonical"))
        .orderBy(col("doc_id")),
    Some(s"""$ccLabelsCte
      |SELECT doc_id, label AS cluster,
      |       CAST(doc_id = label AS INT) AS is_canonical
      |FROM cclabels ORDER BY doc_id""".stripMargin))

  /** Leakage-free train/val/test split — the assignment a training
    * pipeline actually needs: a plain per-doc hash split
    * (`dataset_split`) lets two NEAR-DUPLICATE docs land in train and
    * test, silently leaking eval content into training. Here the split
    * key is the doc's near-dup CLUSTER representative (connected-
    * component label from the shared [[ccLabels]] frame; singleton docs
    * represent themselves), so every member of a duplicate family lands
    * in the SAME split by construction — leakage across splits is
    * structurally impossible, not probabilistically unlikely. The
    * per-doc output row (doc_id, grp, split) is hash-checked against a
    * DuckDB recursive-CTE replay of the clustering, so the guarantee is
    * verified row by row, not asserted.
    *
    * Scale shape: the label frame is |docs with a near-dup| — a small
    * corpus fraction, joined to the corpus by ONE equi-join on doc_id
    * (AQE broadcasts it when it fits; at 100 TB with a high dup rate it
    * degrades to a plain shuffle join, never a crossJoin). The split
    * decision itself is the same md5-prefix integer band as
    * `dataset_split` applied to the group representative — map-side,
    * no per-split shuffle, and stable under corpus growth (adding docs
    * never moves an existing cluster's split unless its representative
    * changes). */
  val splitLeakageFree = OracleQuery(
    "split_leakage_free",
    (s, d) => {
      val labels = ccLabels(s, d).select(col("id").as("doc_id"), col("label"))
      val h = substring(md5(col("grp").cast("string")), 1, 1)
      Tables.documents(s, d).select(col("doc_id"), col("lang"))
        .join(labels, Seq("doc_id"), "left")
        .withColumn("grp", coalesce(col("label"), col("doc_id")))
        .withColumn("split",
          when(h.isin("c", "d"), "val").when(h.isin("e", "f"), "test")
            .otherwise("train"))
        .select(col("doc_id"), col("lang"), col("grp"), col("split"))
        .orderBy(col("doc_id"))
    },
    Some(s"""$ccLabelsCte,
      |g AS (
      |  SELECT d.doc_id, d.lang, COALESCE(l.label, d.doc_id) AS grp
      |  FROM documents d LEFT JOIN cclabels l ON l.doc_id = d.doc_id
      |)
      |SELECT doc_id, lang, grp,
      |       CASE WHEN substring(md5(CAST(grp AS VARCHAR)), 1, 1) IN ('c', 'd') THEN 'val'
      |            WHEN substring(md5(CAST(grp AS VARCHAR)), 1, 1) IN ('e', 'f') THEN 'test'
      |            ELSE 'train' END AS split
      |FROM g ORDER BY doc_id""".stripMargin))

  /** Split-leakage AUDIT — measures the failure mode
    * [[splitLeakageFree]] exists to prevent: over the near-dup
    * candidate pairs (the same guarded LSH edge set the clustering
    * consumes), how many pairs STRADDLE two different splits under
    * (a) the naive per-doc hash split (`dataset_split`'s rule) and
    * (b) the cluster-representative split. Strategy (b) reports 0 by
    * construction — but here the zero is MEASURED over the actual edge
    * set and hash-checked, turning the design argument into a tested
    * invariant, while the doc-hash row quantifies the eval
    * contamination a naive split would ship (~half of all near-dup
    * pairs at the fixture's split ratios).
    *
    * Scale shape: the pair frame and label frame already exist (shared
    * `CachedFrames` artifacts); the audit adds two doc_id equi-joins of
    * the pair frame against the |corpus|-row assignment frame and ONE
    * combinable aggregate to a 2-row report. */
  val splitLeakageAudit = OracleQuery(
    "split_leakage_audit",
    (s, d) => {
      def band(c: org.apache.spark.sql.Column) = substring(md5(c.cast("string")), 1, 1)
      def sp(c: org.apache.spark.sql.Column) =
        when(band(c).isin("c", "d"), "val").when(band(c).isin("e", "f"), "test")
          .otherwise("train")
      val labels = ccLabels(s, d).select(col("id").as("doc_id"), col("label"))
      val asg = Tables.documents(s, d).select(col("doc_id"))
        .join(labels, Seq("doc_id"), "left")
        .withColumn("grp", coalesce(col("label"), col("doc_id")))
        .select(col("doc_id"), sp(col("doc_id")).as("s_doc"), sp(col("grp")).as("s_grp"))
      lshCandidateEdges(s, d).distinct()
        .join(asg.select(col("doc_id").as("a_id"), col("s_doc").as("a_sd"),
          col("s_grp").as("a_sg")), "a_id")
        .join(asg.select(col("doc_id").as("b_id"), col("s_doc").as("b_sd"),
          col("s_grp").as("b_sg")), "b_id")
        .agg(count(lit(1)).as("n_pairs"),
          sum((col("a_sd") =!= col("b_sd")).cast("long")).as("cross_doc"),
          sum((col("a_sg") =!= col("b_sg")).cast("long")).as("cross_grp"))
        .select(explode(array(
          struct(lit("cluster").as("strategy"), col("n_pairs"),
            col("cross_grp").as("n_cross_split")),
          struct(lit("doc_hash").as("strategy"), col("n_pairs"),
            col("cross_doc").as("n_cross_split")))).as("r"))
        .select(col("r.strategy"), col("r.n_pairs"), col("r.n_cross_split"))
        .orderBy(col("strategy"))
    },
    Some(s"""$ccLabelsCte,
      |asg AS (
      |  SELECT d.doc_id,
      |    CASE WHEN substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 1) IN ('c', 'd') THEN 'val'
      |         WHEN substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 1) IN ('e', 'f') THEN 'test'
      |         ELSE 'train' END AS s_doc,
      |    CASE WHEN substring(md5(CAST(COALESCE(l.label, d.doc_id) AS VARCHAR)), 1, 1) IN ('c', 'd') THEN 'val'
      |         WHEN substring(md5(CAST(COALESCE(l.label, d.doc_id) AS VARCHAR)), 1, 1) IN ('e', 'f') THEN 'test'
      |         ELSE 'train' END AS s_grp
      |  FROM documents d LEFT JOIN cclabels l ON l.doc_id = d.doc_id
      |),
      |j AS (
      |  SELECT a.s_doc AS a_sd, a.s_grp AS a_sg, b.s_doc AS b_sd, b.s_grp AS b_sg
      |  FROM edges e JOIN asg a ON a.doc_id = e.a JOIN asg b ON b.doc_id = e.b
      |),
      |agg AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_pairs,
      |         CAST(sum(CASE WHEN a_sd <> b_sd THEN 1 ELSE 0 END) AS BIGINT) AS cross_doc,
      |         CAST(sum(CASE WHEN a_sg <> b_sg THEN 1 ELSE 0 END) AS BIGINT) AS cross_grp
      |  FROM j
      |)
      |SELECT 'cluster' AS strategy, n_pairs, cross_grp AS n_cross_split FROM agg
      |UNION ALL SELECT 'doc_hash', n_pairs, cross_doc FROM agg
      |ORDER BY strategy""".stripMargin))

  /** Corpus summary — the DATASET-CARD numbers every published corpus
    * ships (docs, tokens, language/source breadth, quality pass count,
    * exact- and near-duplicate counts), computed in ONE pass and
    * hash-checked: each figure replays through the same cascade that
    * produces it elsewhere in the suite ([[TextOps.qualitySignals]],
    * the md5 survivor window, the shared CC labels), so the card can
    * never disagree with the operators it summarizes. The exact-dup
    * count is computed over the REAL corpus (no twins — a dataset card
    * states facts about the data as it is; the fixture's honest answer
    * is 0). Scale shape: map-side signals, one md5 window shuffle, one
    * label join, then combinable aggregates to a single row (the two
    * countDistincts expand over tiny key spaces). */
  val corpusSummary = OracleQuery(
    "corpus_summary",
    (s, d) => {
      val q = TextOps.qualitySignals
      val wf = Window.partitionBy(md5(col("text")))
      val labels = ccLabels(s, d)
        .select(col("id").as("doc_id"), lit(1).as("in_cluster"))
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("source"), col("text"),
          q.getField("n_tokens").as("n_tokens"),
          q.getField("verdict").as("verdict"))
        .withColumn("survivor",
          (col("doc_id") === min(col("doc_id")).over(wf)).cast("int"))
        .join(labels, Seq("doc_id"), "left")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
          countDistinct(col("lang")).as("n_langs"),
          countDistinct(col("source")).as("n_sources"),
          sum((col("verdict") === "ok").cast("long")).as("quality_ok_docs"),
          sum((lit(1) - col("survivor")).cast("long")).as("exact_dup_docs"),
          sum(coalesce(col("in_cluster"), lit(0)).cast("long")).as("near_dup_docs"))
    },
    Some(s"""$ccLabelsCte,
      |qv AS (${TextOps.qualityVerdictSql("documents")}),
      |base AS (
      |  SELECT d.doc_id, d.lang, d.source, qv.n_tokens, qv.verdict,
      |         CAST(d.doc_id = min(d.doc_id) OVER (PARTITION BY md5(d.text)) AS INT) AS survivor,
      |         CAST(l.doc_id IS NOT NULL AS INT) AS in_cluster
      |  FROM documents d JOIN qv USING (doc_id)
      |  LEFT JOIN cclabels l ON l.doc_id = d.doc_id
      |)
      |SELECT CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
      |       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
      |       CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
      |       CAST(sum(CASE WHEN verdict = 'ok' THEN 1 ELSE 0 END) AS BIGINT) AS quality_ok_docs,
      |       CAST(sum(1 - survivor) AS BIGINT) AS exact_dup_docs,
      |       CAST(sum(in_cluster) AS BIGINT) AS near_dup_docs
      |FROM base""".stripMargin))

  /** Cluster-size distribution — the report every dedup deployment
    * reads before trusting its clusters: one row per observed cluster
    * size with how many clusters have it, how many docs they hold, and
    * how many of those are redundant (size − 1 per cluster). A single
    * boilerplate family ballooning into a giant component shows up here
    * as a lone large-size row long before it distorts downstream keeps.
    * Scale shape: two combinable aggregations over the (already tiny)
    * converged label frame — the corpus is never touched. */
  val clusterStats = OracleQuery(
    "dedup_cluster_stats",
    (s, d) => ccLabels(s, d)
      .groupBy(col("label")).agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"),
        ((col("cluster_size") - 1) * col("n_clusters")).as("n_redundant"))
      .orderBy(col("cluster_size")),
    Some(s"""$ccLabelsCte,
      |cs AS (
      |  SELECT label, CAST(count(*) AS BIGINT) AS cluster_size
      |  FROM cclabels GROUP BY label
      |)
      |SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
      |       cluster_size * CAST(count(*) AS BIGINT) AS n_docs,
      |       (cluster_size - 1) * CAST(count(*) AS BIGINT) AS n_redundant
      |FROM cs GROUP BY cluster_size ORDER BY cluster_size""".stripMargin))

  /** Token-savings accounting — what the dedup cascade actually buys,
    * in the unit training budgets are written in: each doc lands in
    * exactly ONE tier (first matching rule, so the tiers partition the
    * corpus): `exact_dup` (loses the md5-group min-id survivorship),
    * else `near_dup` (an exact survivor that loses the keep-best argmax
    * inside its near-dup cluster), else `kept`. The keep-best winner is
    * always an exact survivor (identical docs share every band, so the
    * smaller id out-ranks its twin at equal length), which makes the
    * cascade consistent by construction. Scale shape: one md5-hash
    * shuffle for the survivor window, the keep-best leg touches only
    * cluster members, and the closing rollup is combinable to 3 rows.
    *
    * The gate fixture carries no byte-identical pair, so the accounting
    * corpus is the fixture PLUS a deterministic re-crawl twin of every
    * 50th doc (same bytes, shifted id — the duplication pattern a
    * multi-crawl corpus actually has). The augmentation is part of the
    * query contract — both engines replay it — so the `exact_dup` tier
    * is hash-checked with real rows at any fixture instead of passing
    * vacuously (the r8 `contamination_spans` lesson). */
  /** The augmented accounting corpus (fixture + deterministic re-crawl
    * twins) shared by [[savings]] and [[confusion]]. */
  private def savingsCorpus(s: SparkSession, d: String): DataFrame = {
    val base = Tables.documents(s, d).select(col("doc_id"), col("text"))
    base.unionAll(base.filter(col("doc_id") % 50 === 7)
      .select((col("doc_id") + 10000000L).as("doc_id"), col("text")))
  }

  /** (doc_id, n_tokens, tier) over the accounting corpus — the
    * per-doc cascade both reports aggregate. */
  private def savingsTiers(s: SparkSession, d: String): DataFrame = {
    val nt = savingsCorpus(s, d).select(col("doc_id"),
      size(split(col("text"), " ")).cast("bigint").as("n_tokens"),
      md5(col("text")).as("fp"))
    val wf = Window.partitionBy(col("fp"))
    val ex = nt
      .withColumn("survivor",
        (col("doc_id") === min(col("doc_id")).over(wf)).cast("int"))
    val wk = Window.partitionBy(col("cluster"))
      .orderBy(col("n_tokens").desc, col("doc_id"))
    val kb = ccLabels(s, d)
      .select(col("id").as("doc_id"), col("label").as("cluster"))
      .join(nt.select(col("doc_id"), col("n_tokens")), "doc_id")
      .withColumn("kept", (row_number().over(wk) === 1).cast("int"))
      .select(col("doc_id"), col("kept"))
    ex.join(kb, Seq("doc_id"), "left")
      .withColumn("tier",
        when(col("survivor") === 0, "exact_dup")
          .when(coalesce(col("kept"), lit(1)) === 0, "near_dup")
          .otherwise("kept"))
      .select(col("doc_id"), col("n_tokens"), col("tier"))
  }

  /** DuckDB replay of [[savingsTiers]], ending at `t(doc_id, n_tokens,
    * tier)` with `corpus` in scope — shared by both report oracles. */
  private def savingsTierCte: String =
    s"""$ccLabelsCte,
      |corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 10000000, text FROM documents WHERE doc_id % 50 = 7
      |),
      |nt AS (
      |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      |         md5(text) AS fp
      |  FROM corpus
      |),
      |ex AS (
      |  SELECT doc_id, n_tokens,
      |         CAST(doc_id = min(doc_id) OVER (PARTITION BY fp) AS INT) AS survivor
      |  FROM nt
      |),
      |kb AS (
      |  SELECT l.doc_id,
      |         CAST(row_number() OVER (
      |                PARTITION BY l.label
      |                ORDER BY nt.n_tokens DESC, l.doc_id) = 1 AS INT) AS kept
      |  FROM cclabels l JOIN nt USING (doc_id)
      |),
      |t AS (
      |  SELECT ex.doc_id, ex.n_tokens,
      |         CASE WHEN ex.survivor = 0 THEN 'exact_dup'
      |              WHEN COALESCE(kb.kept, 1) = 0 THEN 'near_dup'
      |              ELSE 'kept' END AS tier
      |  FROM ex LEFT JOIN kb USING (doc_id)
      |)""".stripMargin

  val savings = OracleQuery(
    "dedup_savings",
    (s, d) => savingsTiers(s, d)
      .groupBy(col("tier"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
      .orderBy(col("tier")),
    Some(s"""$savingsTierCte
      |SELECT tier, CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(sum(n_tokens) AS BIGINT) AS n_tokens
      |FROM t GROUP BY tier ORDER BY tier""".stripMargin))

  /** Curation CONFUSION report — the interplay question a pipeline
    * tuner actually asks: of the docs each dedup tier removes, how
    * many would the quality cascade have dropped anyway (and what does
    * dedup remove that quality calls 'ok')? One row per
    * (quality verdict × dedup tier) with doc and token sums. If the
    * near-dup tier removes mostly 'ok' docs, dedup is earning its keep;
    * if it removes what quality already rejects, the pipeline pays two
    * stages for one effect. Shares [[savingsTiers]] and
    * [[graft.operators.TextOps.qualitySignals]] verbatim, so the
    * report can never disagree with the filter or the accounting it
    * cross-tabulates. Scale shape: the verdict is a map-side struct
    * over the same corpus scan, one doc_id equi-join, one combinable
    * rollup to ≤ 12 rows. */
  val confusion = OracleQuery(
    "curation_confusion",
    (s, d) => {
      val verdicts = savingsCorpus(s, d).select(col("doc_id"),
        TextOps.qualitySignals.getField("verdict").as("verdict"))
      savingsTiers(s, d).join(verdicts, "doc_id")
        .groupBy(col("verdict"), col("tier"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
        .orderBy(col("verdict"), col("tier"))
    },
    Some(s"""$savingsTierCte,
      |qv AS (${TextOps.qualityVerdictSql("corpus")})
      |SELECT qv.verdict, t.tier, CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(sum(t.n_tokens) AS BIGINT) AS n_tokens
      |FROM t JOIN qv USING (doc_id)
      |GROUP BY qv.verdict, t.tier
      |ORDER BY qv.verdict, t.tier""".stripMargin))

  /** EXACT all-pairs Jaccard join over a distinct `(doc_id, fp)` element
    * frame: every pair with Jaccard ≥ p/q, by AllPairs/SSJoin PREFIX
    * FILTERING (Bayardo, Ma & Srikant, WWW 2007; Chaudhuri, Ganti &
    * Kaushik, ICDE 2006) instead of the naive inverted join.
    *
    * The naive plan pairs every two docs sharing ANY element, so one
    * boilerplate shingle held by m docs fans out m² pair rows — the
    * quadratic hot-group term that dominates at corpus scale. Prefix
    * filtering is the standard LOSSLESS cut: order each doc's elements
    * by a global total order (ascending document frequency, ties by fp —
    * rarest first) and join only each doc's first n − ⌈(p/q)·n⌉ + 1
    * elements. Any pair with J ≥ p/q shares ≥ ⌈(p/q)·n⌉ elements of
    * either side, and two sets sharing that much MUST collide inside
    * these prefixes (suffix of either side holds < the required overlap),
    * so no qualifying pair is lost — while the hot common shingles live
    * in every doc's SUFFIX and never generate a candidate. The length
    * filter (q·n_a ≥ p·n_b both ways, implied by I ≤ min) prunes
    * mismatched-size candidates before the verify. Exact intersections
    * are then counted ONLY for surviving candidates (join the candidate
    * ids back to the full element frame), and the τ decision stays the
    * all-integer cross-multiplication (p+q)·I ≥ p·(n_a+n_b).
    * Completeness vs the naive join is property-pinned by
    * `PrefixFilterSpec`; the DuckDB oracles keep the naive join (the
    * filter is lossless, so both plans answer identically).
    *
    * REGIME (measured, r10): prefix+verify costs Σ_cand (n̄_a) verify
    * rows; the inverted count join costs Σ_fp df². On a Zipf-vocabulary
    * corpus the rarest-first prefixes make candidates scarce and this
    * wins by orders of magnitude; on the synthetic fixtures' ~900-bigram
    * universe EVERY shingle is hot, candidates approach all same-size
    * pairs, and the verify leg (~70 M rows at sf0.1) loses to the
    * inverted count join (~9 M pair rows) — so [[lshRecall]]'s ground
    * truth keeps the count-join form while this operator ships the
    * large-vocabulary shape as `dedup_allpairs`. */
  private[graft] def exactJaccardPairs(sh: DataFrame, p: Int, q: Int): DataFrame = {
    val s = sh.sparkSession
    import s.implicits._
    // route: the DIRECT all-pairs merge costs (docs−1)·Σ|doc| element
    // visits, bounded by distinct docs × element rows. The uncut form
    // returns the same pair set: prefix filtering is a LOSSLESS cut.
    val st = sh.agg(count(lit(1)), countDistinct(col("doc_id"))).head()
    val work = try Math.multiplyExact(st.getLong(1), st.getLong(0))
      catch { case _: ArithmeticException => Long.MaxValue }
    if (Routes.local(Routes.AllPairs, work)) {
      return sh.select(col("doc_id"), col("fp")).as[(Long, Long)]
        .coalesce(1)
        .mapPartitions(it => localAllPairs(it, p, q))
        .toDF("a_id", "b_id", "inter", "na", "nb")
    }
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("nsh"))
    val dfCnt = sh.groupBy(col("fp")).agg(count(lit(1)).as("dfc"))
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("dfc"), col("fp"))
    // prefix materializes ONCE (r21): both sides of the candidate
    // self-join and the plan audit below otherwise replicate the
    // sh⋈df⋈sizes window subtree wholesale (measured: the executed
    // plan carried 64 exchanges; checkpointing prefix and cand cuts it
    // to single digits). The frame is |docs| × prefix-length — the
    // same rows the self-join was already going to shuffle twice.
    val prefix = GraftLineage.cut(sh.join(dfCnt, "fp").join(sizes, "doc_id")
      .withColumn("rk", row_number().over(wDoc))
      .filter(col("rk") <= col("nsh") - expr(s"(nsh * $p + ${q - 1}) div $q") + 1)
      .select(col("doc_id"), col("fp"), col("nsh")), eager = true)
    val cand = GraftLineage.cut(prefix.toDF("a_id", "fp", "na")
      .join(prefix.toDF("b_id", "fp", "nb"), "fp")
      .filter(col("a_id") < col("b_id") &&
        col("na") * q >= col("nb") * p && col("nb") * q >= col("na") * p)
      .select(col("a_id"), col("b_id")).distinct(), eager = true)
    // VERIFY by sorted-array intersection (r21, guide §2.3): the
    // candidate set is UNCHANGED (prefix filter + length filter above —
    // the Bayardo identity of this operator); only the intersection
    // COUNT mechanism changes. The former explode join shipped
    // Σ_cand n̄_a element rows through a shuffle+count (~55 M rows at
    // sf0.1 on this hot-vocabulary fixture — the REGIME scaladoc's
    // measured verify cost); attaching each doc's sorted distinct-fp
    // array once per candidate side and counting the intersection
    // with a two-pointer merge moves the same integer count map-side —
    // the per-pair work is identical (|a|+|b| element visits), the
    // shuffle is per-PAIR instead of per-ELEMENT. `sh` is distinct by
    // construction, so the merge count equals the join count exactly.
    val arrs = sh.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("fp"))).as("fps"),
        count(lit(1)).as("nsh"))
    val withA = arrs.select(col("doc_id").as("a_id"),
        col("fps").as("afps"), col("nsh").as("na"))
      .join(cand, "a_id")
    val withB = arrs.select(col("doc_id").as("b_id"),
        col("fps").as("bfps"), col("nsh").as("nb"))
      .join(withA, "b_id")
    withB.select(col("a_id"), col("b_id"), col("na"), col("nb"),
        col("afps"), col("bfps"))
      .as[(Long, Long, Long, Long, Array[Long], Array[Long])]
      .map { case (a, b, na, nb, af, bf) =>
        (a, b, sortedIntersectCount(af, bf), na, nb)
      }
      .toDF("a_id", "b_id", "inter", "na", "nb")
      .filter(col("inter") * (p + q) >= (col("na") + col("nb")) * p)
      .select(col("a_id"), col("b_id"), col("inter"), col("na"), col("nb"))
  }

  /** In-task all-pairs exact Jaccard over a collected distinct
    * (doc_id, fp) element stream — the below-cap route of
    * [[exactJaccardPairs]]: per-doc sorted fp arrays, every unordered
    * doc pair intersection-counted by the two-pointer merge, the same
    * integer τ = p/q decision. Emits (a_id, b_id, inter, na, nb) with
    * a_id < b_id, exactly the distributed form's qualifying rows
    * (prefix filtering is a lossless cut of this output, so skipping
    * it cannot change the set). Work = (nDocs−1)·Σ|doc| element
    * visits — callers cap it before routing here. */
  private[graft] def localAllPairs(
      it: Iterator[(Long, Long)], p: Int, q: Int)
      : Iterator[(Long, Long, Long, Long, Long)] = {
    val byDoc = scala.collection.mutable.LongMap
      .empty[scala.collection.mutable.ArrayBuilder.ofLong]
    it.foreach { case (d, fp) =>
      byDoc.getOrElseUpdate(d, new scala.collection.mutable.ArrayBuilder.ofLong) += fp
    }
    val ids = byDoc.keysIterator.toArray
    java.util.Arrays.sort(ids)
    val arrs = ids.map { id =>
      val a = byDoc(id).result()
      java.util.Arrays.sort(a)
      a
    }
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, Long, Long)]
    var i = 0
    while (i < ids.length) {
      val ai = arrs(i)
      val na = ai.length.toLong
      var j = i + 1
      while (j < ids.length) {
        val bj = arrs(j)
        val nb = bj.length.toLong
        val inter = sortedIntersectCount(ai, bj)
        if (inter * (p + q) >= (na + nb) * p)
          out += ((ids(i), ids(j), inter, na, nb))
        j += 1
      }
      i += 1
    }
    out.iterator
  }

  /** Count of common elements of two SORTED arrays of distinct longs —
    * the two-pointer merge; equals the equi-join count over the same
    * element sets by definition of a merge. */
  private[graft] def sortedIntersectCount(
      a: Array[Long], b: Array[Long]): Long = {
    var i = 0
    var j = 0
    var n = 0L
    while (i < a.length && j < b.length) {
      val x = a(i)
      val y = b(j)
      if (x == y) { n += 1L; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    n
  }

  /** Distinct `(doc_id, fp)` 2-shingle element frame over a
    * deterministic md5 doc sample (`bound` = exclusive upper hex digit:
    * "8" → half-sample, "2" → eighth-sample). PERSISTED via
    * [[graft.CachedFrames]]: the consumers scan it 2–5× (sizes, df
    * table, both join legs), and re-deriving the explode+distinct per
    * scan was measured at ~4× the whole join cost (r10). */
  private[graft] def sampleShingleFrame(s: SparkSession, d: String, bound: String): DataFrame =
    graft.CachedFrames.getOrBuild(
      s"sample_shingles$bound|${graft.CachedFrames.sessionKey(s)}|$d") {
      import org.apache.spark.sql.GraftColumns.{columnOf, expressionOf}
      val sh2 = columnOf(graft.functions.ShinglesK(expressionOf(col("text")), 2))
      Tables.documents(s, d)
        .filter(substring(md5(col("doc_id").cast("string")), 1, 1) < bound)
        .select(col("doc_id"), explode(array_distinct(sh2)).as("sh"))
        .select(col("doc_id"),
          columnOf(graft.functions.Md5Prefix64(expressionOf(col("sh")))).as("fp"))
        .distinct()
    }

  /** Exact Jaccard ≥ p/q pairs by the INVERTED COUNT JOIN — the
    * hot-vocabulary sibling of [[exactJaccardPairs]] (see its REGIME
    * note): one fp equi-join with the lossless length filter
    * (q·n_a ≥ p·n_b both ways) applied IN the join, one combinable
    * pair-count aggregation, the integer cross-multiplied τ decision.
    * `shuffle_hash` hints pin the join off the sort-merge path — the
    * hot fp groups make SMJ buffer quadratically per group. */
  private[graft] def invertedCountPairs(sh: DataFrame, p: Int, q: Int): DataFrame = {
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("nsh"))
    val shs = sh.join(sizes, "doc_id")
    shs.toDF("a_id", "fp", "na").hint("shuffle_hash")
      .join(shs.toDF("b_id", "fp", "nb").hint("shuffle_hash"), "fp")
      .filter(col("a_id") < col("b_id") &&
        col("na") * q >= col("nb") * p && col("nb") * q >= col("na") * p)
      .groupBy(col("a_id"), col("b_id")).agg(count(lit(1)).as("inter"),
        first(col("na")).as("na"), first(col("nb")).as("nb"))
      .filter(col("inter") * (p + q) >= (col("na") + col("nb")) * p)
      .select(col("a_id"), col("b_id"), col("inter"), col("na"), col("nb"))
  }

  /** LSH RECALL audit — the question every banded-minhash deployment
    * owes an answer: of the TRUE near-dup pairs (exact 2-shingle-set
    * Jaccard ≥ 0.5, the same shingle family the minhash signature
    * sketches), how many does the banded candidate tier actually
    * surface? A deterministic md5 half-sample of the corpus bounds the
    * audit's cost (the sample rate is the knob — at 100 TB this runs at
    * a far smaller rate, same plan); within the sample, the ground
    * truth comes from [[invertedCountPairs]] — the inverted count join
    * with the lossless length filter, the right exact-all-pairs plan for
    * this corpus's hot vocabulary (see [[exactJaccardPairs]]'s REGIME
    * note for the measured tradeoff) — with sizes and
    * intersections as BIGINTs and the τ = 0.5 decision the exact
    * integer cross-multiplication 3·|A∩B| ≥ |A|+|B|. Shingles reduce to
    * the same 60-bit md5-prefix longs as `source_overlap` (bijective
    * with the oracle's hex prefix — collision-consistent counts). Each
    * true pair reports `caught` = membership in the banded candidate
    * set, so the recall (and every miss) is hash-checked row by row,
    * not summarized away. */
  /** The recall audit's joined (true pair × caught) frame, PERSISTED —
    * [[lshScurve]] re-reads it (61 rows at sf0.1), so the expensive
    * ground-truth join runs once per dataset. */
  private def recallPairFrame(s: SparkSession, d: String): DataFrame =
    graft.CachedFrames.getOrBuild(
      s"recall_pairs|${graft.CachedFrames.sessionKey(s)}|$d") {
      val truePairs = invertedCountPairs(sampleShingleFrame(s, d, "8"), 1, 2)
      val cand = lshPairFrame(s, d)
        .select(col("a_id"), col("b_id"), lit(1).as("c"))
      truePairs.join(cand, Seq("a_id", "b_id"), "left")
        .select(col("a_id"), col("b_id"), col("inter"), col("na"), col("nb"),
          coalesce(col("c"), lit(0)).as("caught"))
    }

  /** DuckDB replay of [[recallPairFrame]], ending at
    * `rp(a_id, b_id, inter, na, nb, caught)` — shared by the recall
    * audit and the S-curve audit so both verify one ground truth. */
  private def recallSqlCte: String =
    s"""$lshGuardedCte,
      |samp AS (
      |  SELECT doc_id, text FROM documents
      |  WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '8'
      |), ssh AS (
      |  SELECT DISTINCT doc_id, substring(md5(sh), 1, 15) AS fp FROM (
      |    SELECT doc_id, unnest(list_distinct($shingles2Sql)) AS sh FROM samp)
      |), sz AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS nsh FROM ssh GROUP BY doc_id
      |), iv AS (
      |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, CAST(count(*) AS BIGINT) AS inter
      |  FROM ssh a JOIN ssh b ON a.fp = b.fp AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2
      |), tp AS (
      |  SELECT iv.a_id, iv.b_id, iv.inter, sa.nsh AS na, sb.nsh AS nb
      |  FROM iv JOIN sz sa ON sa.doc_id = iv.a_id
      |          JOIN sz sb ON sb.doc_id = iv.b_id
      |  WHERE 3 * iv.inter >= sa.nsh + sb.nsh
      |), cand AS (
      |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      |  FROM guarded a JOIN guarded b
      |    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
      |   AND a.doc_id < b.doc_id
      |), rp AS (
      |  SELECT tp.a_id, tp.b_id, tp.inter, tp.na, tp.nb,
      |         CAST(cand.a_id IS NOT NULL AS INT) AS caught
      |  FROM tp LEFT JOIN cand ON cand.a_id = tp.a_id AND cand.b_id = tp.b_id
      |)""".stripMargin

  val lshRecall = OracleQuery(
    "dedup_lsh_recall",
    (s, d) => recallPairFrame(s, d).orderBy(col("a_id"), col("b_id")),
    Some(s"""$recallSqlCte
      |SELECT a_id, b_id, inter, na, nb, caught FROM rp
      |ORDER BY a_id, b_id""".stripMargin))

  /** LSH S-CURVE audit — theory vs observation for the banded tier: the
    * textbook capture probability of an (r = 4, b = 2) banded minhash is
    * P(s) = 1 − (1 − s⁴)², and this report checks the DEPLOYED bands
    * against it per similarity decile of the [[recallPairFrame]] ground
    * truth (exact Jaccard buckets; J = 1 folds into the top decile).
    * Observed recall far under the curve flags a banding bug; far over
    * flags correlation the independence model misses — either way it is
    * the one-page answer to "are my bands behaving like the formula I
    * sized them with". The theoretical column evaluates the SAME IEEE
    * chain on both engines at the decile midpoint (powers spelled out
    * as multiplications — no libm pow); every other figure is integer
    * until one closing division. */
  val lshScurve = OracleQuery(
    "dedup_lsh_scurve",
    (s, d) => {
      val j = col("inter").cast("double") /
        (col("na") + col("nb") - col("inter")).cast("double")
      val m = (col("bucket") * 2 + 1).cast("double") / lit(20.0)
      val m4 = m * m * m * m
      recallPairFrame(s, d)
        .withColumn("bucket", least(floor(j * lit(10.0)).cast("long"), lit(9L)))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_pairs"), sum(col("caught")).cast("long").as("n_caught"))
        .withColumn("recall",
          col("n_caught").cast("double") / col("n_pairs").cast("double"))
        .withColumn("theoretical",
          lit(1.0) - (lit(1.0) - m4) * (lit(1.0) - m4))
        .orderBy(col("bucket"))
    },
    Some(s"""$recallSqlCte,
      |bk AS (
      |  SELECT LEAST(CAST(floor((CAST(inter AS DOUBLE)
      |                 / CAST(na + nb - inter AS DOUBLE)) * 10.0) AS BIGINT),
      |               9) AS bucket,
      |         caught
      |  FROM rp
      |), ag AS (
      |  SELECT bucket, CAST(count(*) AS BIGINT) AS n_pairs,
      |         CAST(sum(caught) AS BIGINT) AS n_caught
      |  FROM bk GROUP BY bucket
      |)
      |SELECT bucket, n_pairs, n_caught,
      |       CAST(n_caught AS DOUBLE) / CAST(n_pairs AS DOUBLE) AS recall,
      |       1.0 - (1.0 - (CAST(bucket * 2 + 1 AS DOUBLE) / 20.0)
      |                    * (CAST(bucket * 2 + 1 AS DOUBLE) / 20.0)
      |                    * (CAST(bucket * 2 + 1 AS DOUBLE) / 20.0)
      |                    * (CAST(bucket * 2 + 1 AS DOUBLE) / 20.0))
      |           * (1.0 - (CAST(bucket * 2 + 1 AS DOUBLE) / 20.0)
      |                    * (CAST(bucket * 2 + 1 AS DOUBLE) / 20.0)
      |                    * (CAST(bucket * 2 + 1 AS DOUBLE) / 20.0)
      |                    * (CAST(bucket * 2 + 1 AS DOUBLE) / 20.0))
      |         AS theoretical
      |FROM ag ORDER BY bucket""".stripMargin))

  /** EXACT all-pairs similarity join (AllPairs / SSJoin) shipped as a
    * first-class operator: every pair with 2-shingle-set Jaccard ≥ 0.5
    * over a deterministic md5 eighth-sample, with the exact similarity
    * reported per pair. This is [[exactJaccardPairs]] — candidate
    * generation by rarest-first PREFIX filtering plus the length filter,
    * then exact verification of candidates only — i.e. the
    * large-vocabulary exact-join shape (Bayardo et al., WWW 2007) that
    * LSH replaces only when approximation is acceptable. The sample rate
    * is the cost knob exactly as in [[lshRecall]]; the oracle runs the
    * naive inverted join, so the hash gate PROVES the prefix cut
    * lossless on real data (and `PrefixFilterSpec` pins it on random
    * corpora). jaccard = inter/(na+nb−inter), exact BIGINTs through one
    * closing IEEE division.
    *
    * The sampled corpus is augmented with deterministic NEAR-DUP TWINS
    * (every 4th sampled doc re-appears one token longer — the
    * `dedup_savings` re-crawl-twin device): appending one token to an
    * n-token doc adds exactly one 2-shingle, so J = (n−1)/n ≥ 0.5 and
    * the pair qualifies, guaranteeing the sf0.01 gate hash-checks REAL
    * surviving pairs (never a vacuous 0-row pass). Both engines replay
    * the augmentation, so it is part of the query contract. */
  val allPairs = OracleQuery(
    "dedup_allpairs",
    (s, d) => {
      val shFrame = graft.CachedFrames.getOrBuild(
        s"allpairs_shingles|${graft.CachedFrames.sessionKey(s)}|$d") {
        import org.apache.spark.sql.GraftColumns.{columnOf, expressionOf}
        val samp = Tables.documents(s, d)
          .filter(substring(md5(col("doc_id").cast("string")), 1, 1) < "2")
          .select(col("doc_id"), col("text"))
        val corpus = samp.unionAll(samp.filter(col("doc_id") % 4 === 1)
          .select((col("doc_id") + 20000000L).as("doc_id"),
            concat(col("text"), lit(" twin")).as("text")))
        val sh2 = columnOf(graft.functions.ShinglesK(expressionOf(col("text")), 2))
        corpus
          .select(col("doc_id"), explode(array_distinct(sh2)).as("sh"))
          .select(col("doc_id"),
            columnOf(graft.functions.Md5Prefix64(expressionOf(col("sh")))).as("fp"))
          .distinct()
      }
      exactJaccardPairs(shFrame, 1, 2)
        .withColumn("jaccard",
          col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
        .orderBy(col("a_id"), col("b_id"))
    },
    Some(s"""WITH base AS (
      |  SELECT doc_id, text FROM documents
      |  WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '2'
      |), samp AS (
      |  SELECT doc_id, text FROM base
      |  UNION ALL
      |  SELECT doc_id + 20000000, text || ' twin' FROM base WHERE doc_id % 4 = 1
      |), ssh AS (
      |  SELECT DISTINCT doc_id, substring(md5(sh), 1, 15) AS fp FROM (
      |    SELECT doc_id, unnest(list_distinct($shingles2Sql)) AS sh FROM samp)
      |), sz AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS nsh FROM ssh GROUP BY doc_id
      |), iv AS (
      |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, CAST(count(*) AS BIGINT) AS inter
      |  FROM ssh a JOIN ssh b ON a.fp = b.fp AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2
      |)
      |SELECT iv.a_id, iv.b_id, iv.inter, sa.nsh AS na, sb.nsh AS nb,
      |       CAST(iv.inter AS DOUBLE) / (sa.nsh + sb.nsh - iv.inter) AS jaccard
      |FROM iv JOIN sz sa ON sa.doc_id = iv.a_id
      |        JOIN sz sb ON sb.doc_id = iv.b_id
      |WHERE 3 * iv.inter >= sa.nsh + sb.nsh
      |ORDER BY iv.a_id, iv.b_id""".stripMargin))

  /** Near-dup GRAPH TOPOLOGY audit — the diagnostic a dedup deployment
    * reads next to the cluster-size distribution: is the candidate
    * graph CLIQUE-Y (true duplicate families — high clustering
    * coefficient) or CHAIN-Y (transitive drift, where A~B~C but A≁C,
    * the failure mode that makes connected components over-merge)?
    * One row: nodes, edges, max degree, wedges (Σ deg·(deg−1)/2 over
    * the degree table), triangles (the oriented a<b<c edge-join — each
    * triangle counted exactly once, join fan-out bounded by the banded
    * tier's bucket cap), and the global clustering coefficient
    * 3·triangles/wedges (two BIGINTs, one IEEE division). Everything
    * runs on the candidate EDGE frame — orders of magnitude below the
    * corpus — and the single-row combine is broadcast nested-loop, not
    * a shuffle. */
  val graphStats = OracleQuery(
    "dedup_graph_stats",
    (s, d) => {
      val edges = lshPairFrame(s, d).select(col("a_id"), col("b_id"))
      val deg = edges.select(explode(array(col("a_id"), col("b_id"))).as("v"))
        .groupBy(col("v")).agg(count(lit(1)).as("cnt"))
      val degStats = deg.agg(
        count(lit(1)).as("n_nodes"), max(col("cnt")).as("max_degree"),
        sum(expr("(cnt * (cnt - 1)) div 2")).as("n_wedges"))
      val nEdges = edges.agg(count(lit(1)).as("n_edges"))
      val tri = edges.toDF("a", "b")
        .join(edges.toDF("b", "c"), "b")
        .join(edges.toDF("a", "c"), Seq("a", "c"))
        .agg(count(lit(1)).as("n_triangles"))
      // bound: two one-row aggregates
      degStats.crossJoin(broadcast(nEdges)).crossJoin(broadcast(tri))
        .select(col("n_nodes"), col("n_edges"), col("max_degree"),
          col("n_wedges"), col("n_triangles"),
          when(col("n_wedges") > 0,
            (col("n_triangles") * 3).cast("double") /
              col("n_wedges").cast("double")).as("clustering"))
    },
    Some(s"""$lshGuardedCte,
      |edges AS (
      |  SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
      |  FROM guarded a JOIN guarded b
      |    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
      |   AND a.doc_id < b.doc_id
      |), deg AS (
      |  SELECT v, CAST(count(*) AS BIGINT) AS cnt
      |  FROM (SELECT a AS v FROM edges UNION ALL SELECT b FROM edges)
      |  GROUP BY v
      |), tri AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n
      |  FROM edges e1 JOIN edges e2 ON e2.a = e1.b
      |       JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b
      |)
      |SELECT (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
      |       (SELECT CAST(count(*) AS BIGINT) FROM edges) AS n_edges,
      |       (SELECT max(cnt) FROM deg) AS max_degree,
      |       (SELECT CAST(sum((cnt * (cnt - 1)) // 2) AS BIGINT) FROM deg)
      |         AS n_wedges,
      |       (SELECT n FROM tri) AS n_triangles,
      |       CASE WHEN (SELECT sum((cnt * (cnt - 1)) // 2) FROM deg) > 0
      |            THEN CAST((SELECT n FROM tri) * 3 AS DOUBLE)
      |                 / CAST((SELECT sum((cnt * (cnt - 1)) // 2) FROM deg)
      |                        AS DOUBLE) END AS clustering""".stripMargin))

  /** Quality-aware canonical selection — the keep policy a curation
    * pipeline actually ships: within each near-dup cluster keep the
    * member with the MOST TOKENS (near-dups typically differ by
    * truncation or stripped boilerplate, so longest ≈ most complete),
    * ties broken to the smallest doc_id. [[clusters]] labels the
    * components with a content-blind min-id canonical; this query
    * decides survivorship by quality, which is what the kept corpus is
    * built from.
    *
    * Scale shape: the labeled frame is |docs with a near-dup| — orders
    * of magnitude smaller than the corpus — so the token-count join
    * touches only cluster members (join then count, never a full-corpus
    * explode), and the argmax is ONE window over that member frame
    * partitioned by cluster. */
  val keepBest = OracleQuery(
    "dedup_keep_best",
    (s, d) => {
      val members = ccLabels(s, d)
        .select(col("id").as("doc_id"), col("label").as("cluster"))
      val nTok = Tables.documents(s, d)
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("bigint").as("n_tokens"))
      val w = Window.partitionBy(col("cluster"))
        .orderBy(col("n_tokens").desc, col("doc_id"))
      members.join(nTok, "doc_id")
        .withColumn("kept", (row_number().over(w) === 1).cast("int"))
        .select(col("doc_id"), col("cluster"), col("n_tokens"), col("kept"))
        .orderBy(col("doc_id"))
    },
    Some {
      val cte = lshGuardedCte.replaceFirst("WITH ", "WITH RECURSIVE ")
      s"""$cte,
        |edges AS (
        |  SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
        |  FROM guarded a JOIN guarded b
        |    ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id
        |),
        |sym AS (SELECT a AS src, b AS dst FROM edges UNION ALL SELECT b, a FROM edges),
        |nodes AS (SELECT DISTINCT src AS id FROM sym),
        |r(id, rid) AS (
        |  SELECT id, id FROM nodes
        |  UNION
        |  SELECT sym.src, r.rid FROM sym JOIN r ON sym.dst = r.id
        |),
        |labels AS (SELECT id AS doc_id, min(rid) AS cluster FROM r GROUP BY id),
        |nt AS (
        |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents
        |)
        |SELECT l.doc_id, l.cluster, nt.n_tokens,
        |       CAST(row_number() OVER (
        |              PARTITION BY l.cluster
        |              ORDER BY nt.n_tokens DESC, l.doc_id) = 1 AS INT) AS kept
        |FROM labels l JOIN nt USING (doc_id)
        |ORDER BY doc_id""".stripMargin
    })

  /** The CAPPED-BUCKET FALLBACK path: docs in LSH buckets that exceed
    * the cap skip the banded pair join (see [[MaxLshBucket]]) and are
    * verified here by exact word-level Jaccard instead — bounded
    * per-bucket work with an exact answer for the hot keys the scale
    * guard excluded. Buckets above `hardMax` are DELIBERATELY dropped
    * from dedup altogether: a band value shared by more docs than that
    * is boilerplate, and pairing inside it is neither meaningful nor
    * affordable — the three-tier policy of [[MaxLshBucket]]. The oracle
    * query uses a demo cap of 2 (the fixture's hot buckets hold 3 docs)
    * with a hard bound of 50. */
  def lshOverflowVerify(
      s: SparkSession, d: String, cap: Int, hardMax: Int, minJaccard: Double): DataFrame = {
    val docs = Tables.documents(s, d)
    // derived from the SAME cached band frame as the pair join (cached
    // unfiltered, so hot buckets ABOVE the pair join's MaxLshBucket cap
    // are visible here); the signature computes once per dataset
    val hot = guardedBands(s, d)
      .filter(col("bsz") > cap && col("bsz") <= hardMax)
      .select(col("doc_id"), col("band_idx"), col("band_val"))
    val pairs = hot.select(col("band_idx"), col("band_val"), col("doc_id").as("a_id"))
      .join(hot.select(col("band_idx"), col("band_val"), col("doc_id").as("b_id")),
        Seq("band_idx", "band_val"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"))
      .distinct()
    // only HOT docs' tokens are needed — semi-join before the explode so
    // the verifier never token-explodes the whole corpus (at scale the
    // hot set is a vanishing fraction of the documents table). The
    // distinct-token arrays are materialized ONCE (lazy checkpoint: the
    // first action computes and stores the semi-join + split, then the
    // size projection and BOTH intersection sides scan the stored
    // blocks) — the previous shape re-executed the scan + semi-join +
    // explode three times, which made this the #3 bench entry.
    val hotToks = GraftLineage.cut(docs
      .join(hot.select(col("doc_id")).distinct(), Seq("doc_id"), "left_semi")
      .select(col("doc_id"), array_distinct(split(col("text"), " ")).as("ws")),
      eager = false)
    // |tokens| is the array length — map-only, no explode + count-shuffle
    val sizes = hotToks.select(col("doc_id"), size(col("ws")).cast("long").as("sz"))
    val toks = hotToks.select(col("doc_id"), explode(col("ws")).as("w"))
    val inter = pairs
      .join(toks.toDF("a_id", "w"), "a_id")
      .join(toks.toDF("b_id", "w"), Seq("b_id", "w"))
      .groupBy(col("a_id"), col("b_id")).agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.toDF("a_id", "a_sz"), "a_id")
      .join(sizes.toDF("b_id", "b_sz"), "b_id")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("a_sz") + col("b_sz") - col("inter")).cast("double"))
      .filter(col("jaccard") >= minJaccard)
      .select(col("a_id"), col("b_id"), col("jaccard"))
      .orderBy(col("a_id"), col("b_id"))
  }

  val overflowVerify = OracleQuery(
    "dedup_lsh_overflow_verify",
    (s, d) => lshOverflowVerify(s, d, cap = 2, hardMax = 50, minJaccard = 0.6),
    Some {
      s"""$minhashCte,
        |${bandsCteSql("")},
        |hot AS (
        |  SELECT * FROM (
        |    SELECT *, count(*) OVER (PARTITION BY band_idx, band_val) AS bsz FROM bands)
        |  WHERE bsz > 2 AND bsz <= 50
        |),
        |pairs AS (
        |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        |  FROM hot a JOIN hot b
        |    ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id
        |),
        |toks AS (
        |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w FROM documents
        |), sizes AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM toks GROUP BY doc_id
        |), inter AS (
        |  SELECT p.a_id, p.b_id, CAST(count(*) AS BIGINT) AS inter
        |  FROM pairs p
        |  JOIN toks ta ON ta.doc_id = p.a_id
        |  JOIN toks tb ON tb.doc_id = p.b_id AND tb.w = ta.w
        |  GROUP BY 1, 2
        |)
        |SELECT a_id, b_id, jaccard FROM (
        |  SELECT a_id, b_id,
        |         CAST(inter AS DOUBLE) / CAST(sa.sz + sb.sz - inter AS DOUBLE) AS jaccard
        |  FROM inter JOIN sizes sa ON sa.doc_id = a_id JOIN sizes sb ON sb.doc_id = b_id)
        |WHERE jaccard >= 0.6
        |ORDER BY a_id, b_id""".stripMargin
    })

  /** The persisted banded SimHash signature frame for a dataset at a
    * given signature width: doc_id, sh, band_idx, band_val, bsz — the
    * kernel + explode + bucket-size window execute once per (dataset,
    * width), then both band-join sides scan the cache and the star tier
    * reads one band's rows (a full unfiltered doc_id→sh copy — band 0
    * of every doc). Dataset-keyed ([[graft.CachedFrames]]), so
    * interleaved multi-dataset workloads don't thrash a shared slot.
    * Always 4 bands: by pigeonhole, hamming ≤ 3 guarantees an intact
    * band at any width. */
  private[graft] def simhashBands(s: SparkSession, d: String, bits: Int): DataFrame =
    graft.CachedFrames.getOrBuild(
      s"simhash${bits}_bands|${graft.CachedFrames.sessionKey(s)}|$d") {
      import org.apache.spark.sql.GraftColumns.{columnOf, expressionOf}
      val kernel: Column = bits match {
        case 16 => columnOf(graft.functions.SimHash16(expressionOf(col("text"))))
        case 64 => columnOf(graft.functions.SimHash64(expressionOf(col("text"))))
        case other => throw new IllegalArgumentException(s"no simhash kernel for $other bits")
      }
      val bandWidth = bits / 4
      val sh = coalesce(kernel, lit("0" * bits))
      val sigs = Tables.fanOut(Tables.documents(s, d))
        .select(col("doc_id"), sh.as("sh"))
      val wBucket = Window.partitionBy(col("band_idx"), col("band_val"))
      sigs.select(col("doc_id"), col("sh"),
        explode(map((0 until 4).flatMap(b =>
          Seq(lit(b), substring(col("sh"), b * bandWidth + 1, bandWidth))): _*))
          .as(Seq("band_idx", "band_val")))
        .withColumn("bsz", count(lit(1)).over(wBucket))
    }

  /** SimHash near-dup pairs at a given signature width, TWO
    * complementary tiers:
    *
    *  - **banded tier** (hamming 1–3 recall): the signature splits into
    *    4 equal bands; by pigeonhole any pair within hamming ≤ 3 shares
    *    an intact band, so candidates come from equi-joins on band
    *    values — capped per bucket, because a dominant signature would
    *    make one bucket quadratic;
    *  - **exact-signature star tier** (hamming-0 guarantee): every doc
    *    with a non-minimal doc_id in its signature group pairs with the
    *    group's min — LINEAR in group size and cap-independent, so
    *    exact duplicates are NEVER lost no matter how hot their
    *    buckets. Hot-bucket pairs at hamming 1–3 beyond the cap are the
    *    deliberately-dropped tier (boilerplate), mirroring the MinHash
    *    policy ([[MaxLshBucket]]). */
  private def simhashPairsRun(
      bits: Int, maxBucket: Int, maxHamming: Int)(
      s: SparkSession, d: String): DataFrame = {
    val sized = simhashBands(s, d, bits)
    // Pack the bit-string into 32-bit words ONCE per band row (before the
    // self-join), so per-PAIR hamming is bit_count(xor) per word — a
    // 64-term per-character CASE chain here ran per candidate pair and
    // was the query's dominant cost at hot-bucket sizes (cap² pairs/bucket).
    val nWords = (bits + 31) / 32
    val wordCols = (0 until nWords).map { w =>
      conv(substring(col("sh"), w * 32 + 1, math.min(32, bits - w * 32)), 2, 10)
        .cast("long").as(s"w$w")
    }
    val banded = sized.filter(col("bsz") <= maxBucket)
      .select(Seq(col("doc_id"), col("band_idx"), col("band_val")) ++ wordCols: _*)
    def pfx(p: String)(df: DataFrame): DataFrame =
      df.toDF(df.columns.toIndexedSeq
        .map(c => if (c.startsWith("band")) c else s"$p$c"): _*)
    val hamming = (0 until nWords)
      .map(w => bit_count(col(s"a_w$w").bitwiseXOR(col(s"b_w$w"))))
      .reduceLeft(_ + _)
    val bandPairs = pfx("a_")(banded)
      .join(pfx("b_")(banded), Seq("band_idx", "band_val"))
      .filter(col("a_doc_id") < col("b_doc_id"))
      .select(col("a_doc_id").as("a_id"), col("b_doc_id").as("b_id"),
        hamming.as("hamming"))
      .filter(col("hamming") <= maxHamming)
    val starPairs = sized.filter(col("band_idx") === 0)
      .select(col("doc_id"), col("sh"))
      .withColumn("mn", min(col("doc_id")).over(Window.partitionBy(col("sh"))))
      .filter(col("doc_id") =!= col("mn"))
      .select(col("mn").as("a_id"), col("doc_id").as("b_id"), lit(0).as("hamming"))
    bandPairs.union(starPairs)
      .distinct()
      .orderBy(col("a_id"), col("b_id"))
  }

  /** 16-bit SimHash near-dup pairs — the oracle-continuity variant
    * (kept alongside [[simhash64Pairs]], the scale width). A 4-bit band
    * has only 16 possible values, so buckets fill ~60× faster than the
    * 8-hex-char MinHash bands — the affordable bucket shrinks with the
    * value space, hence the tighter cap of 50. */
  val simhashPairs = {
    val maxHamming = 3
    val maxBucket = 50
    OracleQuery(
      "dedup_simhash",
      simhashPairsRun(bits = 16, maxBucket = maxBucket, maxHamming = maxHamming),
      Some {
        // recompute the 16-bit signature in SQL exactly as the `simhash`
        // oracle does, then the same band join + exact hamming filter
        val bitExprs = (1 to 16).map { j =>
          s"""CASE WHEN list_sum(list_transform(string_split(text, ' '),
             |  t -> CASE WHEN substring(md5(t), $j, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END)) > 0
             |THEN '1' ELSE '0' END""".stripMargin
        }.mkString(" || ")
        val bands = (0 until 4).map(b =>
          s"SELECT doc_id, sh, $b AS band_idx, substring(sh, ${b * 4 + 1}, 4) AS band_val FROM sigs")
          .mkString("\n  UNION ALL\n  ")
        val hamming = (1 to 16)
          .map(j => s"CASE WHEN substring(a.sh, $j, 1) <> substring(b.sh, $j, 1) THEN 1 ELSE 0 END")
          .mkString(" + ")
        s"""WITH sigs AS (
          |  SELECT doc_id, $bitExprs AS sh FROM documents
          |), bands AS (
          |  $bands
          |), guarded AS (
          |  SELECT * FROM (
          |    SELECT *, count(*) OVER (PARTITION BY band_idx, band_val) AS bsz FROM bands)
          |  WHERE bsz <= $maxBucket
          |), band_pairs AS (
          |  SELECT a_id, b_id, hamming FROM (
          |    SELECT a.doc_id AS a_id, b.doc_id AS b_id, $hamming AS hamming
          |    FROM guarded a JOIN guarded b
          |      ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id)
          |  WHERE hamming <= $maxHamming
          |), star_pairs AS (
          |  SELECT mn AS a_id, doc_id AS b_id, 0 AS hamming FROM (
          |    SELECT doc_id, min(doc_id) OVER (PARTITION BY sh) AS mn FROM sigs)
          |  WHERE doc_id <> mn
          |)
          |SELECT DISTINCT a_id, b_id, hamming FROM (
          |  SELECT * FROM band_pairs UNION ALL SELECT * FROM star_pairs)
          |ORDER BY a_id, b_id""".stripMargin
      })
  }

  /** 64-bit SimHash near-dup pairs — the 100 TB width, promised at the
    * 16-bit variant's doc ("width is a parameter, not a plan change")
    * and now a real kernel ([[graft.functions.SimHash64]]): 4×16-bit
    * bands give a band space of 2¹⁶ values, so hot buckets are RARE and
    * the banded tier keeps contributing at the full [[MaxLshBucket]]
    * cap — unlike 4-bit bands, whose 16-value space saturates every
    * bucket at corpus scale and collapsed recall to the hamming-0 star
    * tier. Pigeonhole still holds: hamming ≤ 3 over 4 bands guarantees
    * an intact band. Plan shape identical to [[simhashPairs]] — one
    * cached signature/band frame, capped band join, linear star tier. */
  val simhash64Pairs = {
    val maxHamming = 3
    val maxBucket = MaxLshBucket
    OracleQuery(
      "dedup_simhash64",
      simhashPairsRun(bits = 64, maxBucket = maxBucket, maxHamming = maxHamming),
      Some {
        // one md5 per token (grouped ±1 sums — order-independent integer
        // addition), then 64 bits read from the digest's first 16 hex
        // digits most-significant-first: bit j tests hex digit ⌈j/4⌉
        // against the digit set whose nibble has bit (8 >> ((j−1) mod 4))
        // set — the IN-list form keeps the oracle pure string/int logic
        val bitSums = (1 to 64).map { j =>
          val k = (j - 1) / 4 + 1
          val mask = 8 >> ((j - 1) % 4)
          val set = "0123456789abcdef".filter(c => (Character.digit(c, 16) & mask) != 0)
            .map(c => s"'$c'").mkString(",")
          s"SUM(CASE WHEN substring(h, $k, 1) IN ($set) THEN 1 ELSE -1 END) AS s$j"
        }.mkString(",\n         ")
        val bitConcat = (1 to 64)
          .map(j => s"CASE WHEN s$j > 0 THEN '1' ELSE '0' END").mkString(" || ")
        val bands = (0 until 4).map(b =>
          s"SELECT doc_id, sh, $b AS band_idx, substring(sh, ${b * 16 + 1}, 16) AS band_val FROM sigs")
          .mkString("\n  UNION ALL\n  ")
        val hamming = (1 to 64)
          .map(j => s"CASE WHEN substring(a.sh, $j, 1) <> substring(b.sh, $j, 1) THEN 1 ELSE 0 END")
          .mkString(" + ")
        s"""WITH tok AS (
          |  SELECT doc_id, md5(t) AS h
          |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
          |), bitsums AS (
          |  SELECT doc_id,
          |         $bitSums
          |  FROM tok GROUP BY doc_id
          |), sigs AS (
          |  SELECT d.doc_id, COALESCE(bs.sh, repeat('0', 64)) AS sh
          |  FROM documents d
          |  LEFT JOIN (SELECT doc_id, $bitConcat AS sh FROM bitsums) bs USING (doc_id)
          |), bands AS (
          |  $bands
          |), guarded AS (
          |  SELECT * FROM (
          |    SELECT *, count(*) OVER (PARTITION BY band_idx, band_val) AS bsz FROM bands)
          |  WHERE bsz <= $maxBucket
          |), band_pairs AS (
          |  SELECT a_id, b_id, hamming FROM (
          |    SELECT a.doc_id AS a_id, b.doc_id AS b_id, $hamming AS hamming
          |    FROM guarded a JOIN guarded b
          |      ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id)
          |  WHERE hamming <= $maxHamming
          |), star_pairs AS (
          |  SELECT mn AS a_id, doc_id AS b_id, 0 AS hamming FROM (
          |    SELECT doc_id, min(doc_id) OVER (PARTITION BY sh) AS mn FROM sigs)
          |  WHERE doc_id <> mn
          |)
          |SELECT DISTINCT a_id, b_id, hamming FROM (
          |  SELECT * FROM band_pairs UNION ALL SELECT * FROM star_pairs)
          |ORDER BY a_id, b_id""".stripMargin
      })
  }

  /** Cross-SOURCE overlap matrix (the provenance diagnostic a curation
    * pipeline runs before mixing corpora — how much 3-gram content each
    * source pair shares, as distinct-shingle intersection counts and
    * Jaccard): docs reduce to distinct (source, shingle) rows, the
    * intersection is a self-join per shingle, set sizes re-attach by a
    * join the broadcast threshold decides. Scale shape: one distinct
    * shuffle on (source, shingle); the per-shingle join group is bounded
    * by |sources| (a constant), so the pair fan-out is linear in distinct
    * shingles — never quadratic in docs; counts map-side combine and the
    * |sources|-row counts table broadcasts while under the threshold. The
    * one double division runs on identical integer inputs on both
    * engines. */
  val sourceOverlap = OracleQuery(
    "source_overlap",
    (s, d) => {
      import org.apache.spark.sql.GraftColumns.{columnOf, expressionOf}
      val sh3 = columnOf(graft.functions.ShinglesK(expressionOf(col("text")), 3))
      // shingles reduce to 60-bit md5-prefix fingerprints BEFORE the
      // distinct: the shuffle carries an 8-byte long per shingle instead
      // of the string. Any prefix collision merges the same shingles on
      // the DuckDB side (same md5, same prefix — the long is a bijection
      // of the oracle's 15-hex-char string), so counts stay parity-exact.
      // The native kernel computes the long straight from the digest
      // bytes — no hex string, no conv. Adjudicated warm at sf0.1 on an
      // idle host: built-in md5+substring+conv chain ~1.5 s, this kernel
      // ~1.3-1.4 s, raw-string shuffle ~1.0-1.2 s. Locally the string
      // variant edges ahead (the md5 is pure overhead when the shuffle
      // never leaves RAM); at 100 TB the 8-byte key wins the network
      // shuffle and the join hashing, which is why the fingerprint
      // stays.
      // the distinct (source, fp) frame materializes once (r21, guide
      // §2.4/§5): three consumers below (the counts rollup and both
      // self-join legs) otherwise each re-plan the corpus-sized
      // explode+distinct; the deduped frame is |sources|·|distinct
      // shingles| — far below the corpus element stream
      val srcSh = GraftLineage.cut(Tables.documents(s, d)
        .select(col("source"), explode(array_distinct(sh3)).as("sh"))
        .select(col("source"),
          columnOf(graft.functions.Md5Prefix64(expressionOf(col("sh")))).as("sh"))
        .distinct(), eager = true)
      val counts = srcSh.groupBy(col("source")).agg(count(lit(1)).as("n"))
      srcSh.toDF("a_src", "sh").join(srcSh.toDF("b_src", "sh"), "sh")
        .filter(col("a_src") < col("b_src"))
        .groupBy(col("a_src"), col("b_src"))
        .agg(count(lit(1)).as("shared"))
        .join(counts.toDF("a_src", "a_n"), "a_src")
        .join(counts.toDF("b_src", "b_n"), "b_src")
        .select(col("a_src"), col("b_src"), col("a_n"), col("b_n"), col("shared"),
          (col("shared").cast("double") /
            (col("a_n") + col("b_n") - col("shared")).cast("double")).as("jaccard"))
        .orderBy(col("a_src"), col("b_src"))
    },
    Some("""WITH sh AS (
      |  SELECT DISTINCT source, substring(md5(sh), 1, 15) AS sh FROM (
      |    SELECT source, unnest(list_distinct(list_transform(
      |             generate_series(1, greatest(len(w) - 2, 1)),
      |             i -> concat_ws(' ', w[i], w[i+1], w[i+2])))) AS sh
      |    FROM (SELECT source, string_split(text, ' ') AS w FROM documents))
      |), counts AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY source
      |), inter AS (
      |  SELECT a.source AS a_src, b.source AS b_src,
      |         CAST(count(*) AS BIGINT) AS shared
      |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.source < b.source
      |  GROUP BY 1, 2
      |)
      |SELECT a_src, b_src, ca.n AS a_n, cb.n AS b_n, shared,
      |       CAST(shared AS DOUBLE) / CAST(ca.n + cb.n - shared AS DOUBLE) AS jaccard
      |FROM inter
      |JOIN counts ca ON ca.source = a_src
      |JOIN counts cb ON cb.source = b_src
      |ORDER BY a_src, b_src""".stripMargin))

  /** Cross-modal dedup agreement (a curation QA signal): every MinHash-LSH
    * candidate pair joined to its docs' EMBEDDINGS (vec_id ≙ doc_id) and
    * scored by exact cosine — pairs where the lexical estimate and the
    * embedding disagree (high est_jaccard, low cosine, or vice versa)
    * are the ones a pipeline audits before deleting. Scale shape: the
    * pair set is already banded/capped; embeddings re-attach by two
    * key equi-joins (broadcast at small scale, co-partitioned hash at
    * 100 TB) — never a cross join. */
  val crosscheck = OracleQuery(
    "dedup_crosscheck",
    (s, d) => {
      import graft.functions.DetMath
      val dim = Similarity.Dim
      val e = Tables.embeddings(s, d).select(col("vec_id"),
        col("embedding"), DetMath.normCol(col("embedding"), dim).as("nrm"))
      lshPairFrame(s, d)
        .join(e.toDF("a_id", "a_e", "a_n"), "a_id")
        .join(e.toDF("b_id", "b_e", "b_n"), "b_id")
        .withColumn("cosine", DetMath.cosinePre(
          DetMath.dotCol(col("a_e"), col("b_e"), dim), col("a_n"), col("b_n")))
        .select(col("a_id"), col("b_id"), col("est_jaccard"), col("cosine"),
          ((col("est_jaccard") >= 0.5) === (col("cosine") >= 0.2)).cast("int").as("agree"))
        .orderBy(col("a_id"), col("b_id"))
    },
    Some {
      import graft.functions.DetMath
      val dim = Similarity.Dim
      val matches = (0 until NumHashes)
        .map(i => s"CASE WHEN a.m$i = b.m$i THEN 1 ELSE 0 END").mkString(" + ")
      s"""$lshGuardedCte,
        |pairs AS (
        |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
        |         CAST($matches AS DOUBLE) / 8.0 AS est_jaccard
        |  FROM guarded a JOIN guarded b
        |    ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id
        |), emb AS (
        |  SELECT vec_id, embedding, ${DetMath.normSql("embedding", dim)} AS nrm
        |  FROM embeddings
        |)
        |SELECT a_id, b_id, est_jaccard, cosine,
        |       CAST((est_jaccard >= 0.5) = (cosine >= 0.2) AS INT) AS agree
        |FROM (
        |  SELECT p.a_id, p.b_id, p.est_jaccard,
        |         ${DetMath.cosinePreSql(DetMath.dotSql("ea.embedding", "eb.embedding", dim), "ea.nrm", "eb.nrm")} AS cosine
        |  FROM pairs p
        |  JOIN emb ea ON ea.vec_id = p.a_id
        |  JOIN emb eb ON eb.vec_id = p.b_id)
        |ORDER BY a_id, b_id""".stripMargin
    })

  /** Exact word-level Jaccard over a bounded candidate set (doc_id < 60):
    * distinct-token self-join → |A∩B| / (|A|+|B|−|A∩B|), exact double
    * division. The LSH query above is the scale path; this is the
    * verifier. */
  val jaccard = OracleQuery(
    "dedup_jaccard",
    (s, d) => {
      val toks = Tables.documents(s, d).filter(col("doc_id") < 60)
        .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("w"))
      val sizes = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
      val inter = toks.as("a").join(toks.as("b"),
          col("a.w") === col("b.w") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
        .agg(count(lit(1)).as("inter"))
      inter
        .join(sizes.toDF("a_id", "a_sz"), "a_id")
        .join(sizes.toDF("b_id", "b_sz"), "b_id")
        .withColumn("jaccard",
          col("inter").cast("double") / (col("a_sz") + col("b_sz") - col("inter")).cast("double"))
        .filter(col("jaccard") >= 0.6)
        .select(col("a_id"), col("b_id"), col("jaccard"))
        .orderBy(col("a_id"), col("b_id"))
    },
    Some("""WITH toks AS (
      |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w
      |  FROM documents WHERE doc_id < 60
      |), sizes AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM toks GROUP BY doc_id
      |), inter AS (
      |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, CAST(count(*) AS BIGINT) AS inter
      |  FROM toks a JOIN toks b ON a.w = b.w AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2
      |)
      |SELECT a_id, b_id, jaccard FROM (
      |  SELECT a_id, b_id,
      |         CAST(inter AS DOUBLE) / CAST(sa.sz + sb.sz - inter AS DOUBLE) AS jaccard
      |  FROM inter JOIN sizes sa ON sa.doc_id = a_id JOIN sizes sb ON sb.doc_id = b_id)
      |WHERE jaccard >= 0.6
      |ORDER BY a_id, b_id""".stripMargin))

  /** Passage-level duplication filter (the RefinedWeb/FineWeb-style
    * "duplicated passage ratio" quality signal): the corpus is cut into
    * fixed 16-word non-overlapping passages, passage occurrences are
    * counted CORPUS-WIDE, and each document reports the fraction of its
    * passages that appear more than once anywhere — boilerplate and
    * copied spans push the ratio up even when no whole-document pair is
    * a near-duplicate. `keep` applies the ≤ 0.5 gate.
    *
    * Scale design: passages reduce to 60-bit md5-prefix longs BEFORE
    * any shuffle (same bijection-with-the-oracle trick as
    * [[sourceOverlap]]) — the occurrence count is one combinable
    * groupBy on 8-byte keys, the count join back to passages an
    * equi-join on the same key, and the per-doc rollup one more
    * combinable aggregate. A hyper-common boilerplate passage is ONE
    * count row (no fan-out); nothing in the plan holds a document's
    * text after the fingerprint projection. */
  private[graft] def passageStats(docs: DataFrame, width: Int = 16): DataFrame = {
    import org.apache.spark.sql.GraftColumns.{columnOf, expressionOf}
    val chunks = docs
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= width)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(0, CAST(size(w) / $width AS INT) - 1), " +
          s"i -> concat_ws(' ', slice(w, i * $width + 1, $width)))")).as("chunk"))
      .select(col("doc_id"),
        columnOf(graft.functions.Md5Prefix64(expressionOf(col("chunk")))).as("fp"))
    val counts = chunks.groupBy(col("fp")).agg(count(lit(1)).as("cnt"))
    val perDoc = chunks.join(counts, "fp")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_passages"),
        sum(when(col("cnt") > 1, 1L).otherwise(0L)).as("n_dup"))
    val ratio = when(coalesce(col("n_passages"), lit(0L)) > 0,
      coalesce(col("n_dup"), lit(0L)).cast("double") / col("n_passages").cast("double"))
      .otherwise(lit(0.0d))
    docs.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_passages"), lit(0L)).as("n_passages"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup_passages"),
        ratio.as("dup_passage_ratio"),
        (ratio <= 0.5d).cast("int").as("keep"))
  }

  val passage = OracleQuery(
    "dedup_passage",
    (s, d) => passageStats(Tables.documents(s, d)).orderBy(col("doc_id")),
    Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |chunks AS (
      |  SELECT doc_id, substring(md5(chunk), 1, 15) AS fp FROM (
      |    SELECT doc_id, unnest(list_transform(generate_series(0, CAST(len(w)//16 AS INT) - 1),
      |      i -> array_to_string(w[i*16+1:i*16+16], ' '))) AS chunk
      |    FROM w WHERE len(w) >= 16)
      |),
      |counts AS (SELECT fp, count(*) AS cnt FROM chunks GROUP BY fp),
      |per_doc AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_passages,
      |         CAST(sum(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
      |  FROM chunks JOIN counts USING (fp) GROUP BY doc_id)
      |SELECT doc_id,
      |       COALESCE(n_passages, 0) AS n_passages,
      |       COALESCE(n_dup, 0) AS n_dup_passages,
      |       CASE WHEN COALESCE(n_passages, 0) > 0
      |            THEN CAST(COALESCE(n_dup, 0) AS DOUBLE) / CAST(n_passages AS DOUBLE)
      |            ELSE 0.0 END AS dup_passage_ratio,
      |       CAST(CASE WHEN (CASE WHEN COALESCE(n_passages, 0) > 0
      |            THEN CAST(COALESCE(n_dup, 0) AS DOUBLE) / CAST(n_passages AS DOUBLE)
      |            ELSE 0.0 END) <= 0.5 THEN 1 ELSE 0 END AS INT) AS keep
      |FROM documents LEFT JOIN per_doc USING (doc_id)
      |ORDER BY doc_id""".stripMargin))

  /** Duplicated-substring SPAN extraction (the windowed form of exact
    * substring dedup — Lee et al., "Deduplicating Training Data Makes
    * Language Models Better", 2022): every STRIDE-1 16-token window is
    * fingerprinted, occurrences are counted corpus-wide, and each
    * document reports its MAXIMAL duplicated spans — the union of its
    * duplicated windows, merged by the equal-length interval rule (a
    * window extends the open span iff it starts at or before the span
    * end, i.e. i ≤ prev_i + W). Spans are token-indexed
    * [start_tok, end_tok) ready for excision — the per-span output the
    * ExactSubstr pipeline cuts from training text, where
    * [[passageStats]] only gates whole documents.
    *
    * Scale design: production ExactSubstr builds a suffix array; this
    * stride-1 window form is its bounded-memory distributed analog —
    * ~n_tokens rows per document reduced to 8-byte [[
    * graft.functions.Md5Prefix64]] fingerprints MAP-SIDE before the one
    * combinable count shuffle (a boilerplate window is ONE count row),
    * a semi-join back on the same 8-byte key, and the span merge a
    * per-doc lag window over only the DUPLICATED window starts (a
    * vanishing fraction of the corpus at scale).
    *
    * FIDELITY vs Lee et al.'s 50-token threshold (the paper excises
    * duplicated substrings of ≥ 50 tokens; this tier windows at
    * W = 16): stride-1 W-window span mass is EXACT for "tokens inside
    * a duplicated ≥ W-token substring", so the W = 16 spans are a
    * strict SUPERSET of the paper's criterion — recall 1.0 by
    * construction (property-pinned in DedupPassageSpec), the extra
    * mass being real 16–49-token duplication the 50-token threshold
    * ignores. Measured on the fixture: 2 647 flagged tokens at W = 16
    * vs 2 237 under the true ≥ 50-token criterion — precision 0.845
    * (sf0.001; 0.672 at sf0.01). r17: the paper-exact tier is now a
    * registered query of its own — `dedup_substring_spans50`
    * ([[substringSpans50]], the same stats at `width = 50`), so a
    * pipeline picks its granularity by name: W = 16 stays the
    * sensitive default, W = 50 matches Lee et al. verbatim. */
  /** The span computation over a (doc_id, text) frame — see
    * [[substringSpans]] for semantics and the scale argument. */
  private[graft] def substringSpanStats(docs: DataFrame, width: Int = 16): DataFrame = {
    import org.apache.spark.sql.GraftColumns.{columnOf, expressionOf}
    val W = width
    val wins = docs
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= W)
      .select(col("doc_id"),
        explode(expr(s"sequence(0, size(w) - $W)")).as("i"), col("w"))
      .select(col("doc_id"), col("i"),
        columnOf(graft.functions.Md5Prefix64(expressionOf(
          expr(s"concat_ws(' ', slice(w, i + 1, $W))")))).as("fp"))
    // duplicated windows by ONE count-over-fp window (r21, guide §2.4):
    // the former groupBy(fp)+semi-join shape computed the corpus-wide
    // explode+md5 TWICE (once per consumer) and shuffled it twice; a
    // window count over the same fp partitioning is the identical
    // "fp occurs more than once" predicate in one pass and one shuffle
    val dup = wins
      .withColumn("cnt",
        count(lit(1)).over(Window.partitionBy(col("fp"))))
      .filter(col("cnt") > 1)
      .select(col("doc_id"), col("i"))
    mergeSpans(dup, W)
  }

  /** Maximal-span merge over flagged window starts (doc_id, i): a
    * window extends the open span iff it starts at or before the span
    * end (i ≤ prev_i + W) — one lag window per doc over only the
    * flagged starts. Shared by the corpus-duplicate spans and the
    * benchmark-contamination spans so the merge rule cannot drift. */
  private[graft] def mergeSpans(dup: DataFrame, W: Int): DataFrame = {
    val wd = Window.partitionBy(col("doc_id")).orderBy(col("i"))
    dup
      .withColumn("new_span",
        (col("i") > coalesce(lag(col("i"), 1).over(wd), lit(-(W + 1))) + W)
          .cast("int"))
      .withColumn("span_id", sum(col("new_span")).over(wd))
      .groupBy(col("doc_id"), col("span_id"))
      .agg(min(col("i")).as("mn"), max(col("i")).as("mx"),
        count(lit(1)).as("n_windows"))
      .select(col("doc_id"), col("span_id"),
        col("mn").cast("long").as("start_tok"),
        (col("mx") + W).cast("long").as("end_tok"), col("n_windows"))
  }

  private def substringSpansSql(W: Int): String =
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |wins AS (
      |  SELECT doc_id, i, substring(md5(array_to_string(w[i+1:i+$W], ' ')), 1, 15) AS fp
      |  FROM (SELECT doc_id, w, unnest(generate_series(0, len(w) - $W)) AS i
      |        FROM w WHERE len(w) >= $W)
      |),
      |hot AS (SELECT fp FROM wins GROUP BY fp HAVING count(*) > 1),
      |dup AS (SELECT doc_id, i FROM wins JOIN hot USING (fp)),
      |flg AS (
      |  SELECT doc_id, i,
      |         CASE WHEN i > COALESCE(lag(i) OVER (PARTITION BY doc_id ORDER BY i), ${-(W + 1)}) + $W
      |              THEN 1 ELSE 0 END AS new_span
      |  FROM dup
      |),
      |sp AS (
      |  SELECT doc_id, i,
      |         SUM(new_span) OVER (PARTITION BY doc_id ORDER BY i
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span_id
      |  FROM flg
      |)
      |SELECT doc_id, CAST(span_id AS BIGINT) AS span_id,
      |       CAST(min(i) AS BIGINT) AS start_tok,
      |       CAST(max(i) + $W AS BIGINT) AS end_tok,
      |       CAST(count(*) AS BIGINT) AS n_windows
      |FROM sp GROUP BY doc_id, span_id
      |ORDER BY doc_id, span_id""".stripMargin

  val substringSpans = OracleQuery(
    "dedup_substring_spans",
    (s, d) => substringSpanStats(Tables.documents(s, d), 16)
      .orderBy(col("doc_id"), col("span_id")),
    Some(substringSpansSql(16)))

  /** The paper-exact ≥ 50-token tier of [[substringSpans]] (Lee et
    * al.'s excision criterion verbatim — see the FIDELITY note above):
    * the identical stats, window, merge rule, and oracle at W = 50.
    * Same scale shape — W only widens the window each fingerprint
    * hashes, the row counts and shuffles are the W = 16 tier's. */
  val substringSpans50 = OracleQuery(
    "dedup_substring_spans50",
    (s, d) => substringSpanStats(Tables.documents(s, d), 50)
      .orderBy(col("doc_id"), col("span_id")),
    Some(substringSpansSql(50)))

  /** Benchmark-contamination SPANS — decontamination at token
    * granularity, where `contamination_check` only counts doc-level
    * overlap: every stride-1 8-token window whose fingerprint appears
    * anywhere in the BENCHMARK suite is flagged, and flagged windows
    * merge into maximal token-indexed [start_tok, end_tok) spans with
    * the same rule as [[substringSpanStats]] — the exact spans an
    * eval-hygiene pipeline excises (or audits) before training, at the
    * 8-gram width decontamination tooling actually uses.
    *
    * The stand-in benchmark suite (fixture has no real benchmark) is
    * the doc_id % 100 == 0 docs shared with the contamination checks
    * PLUS the opening windows (i ≤ 16) of the doc_id % 100 == 50
    * corpus docs — benchmark items that QUOTE corpus passages, the way
    * real contamination arises. The quoted component makes the gate
    * row non-vacuous (r8 verdict #1: synthetic fixture docs share no
    * 8-gram across docs, so the bench-doc component alone yields 0
    * spans and a broken span extraction would have stayed green):
    * every ≡50 doc with ≥ 8 tokens is guaranteed a span starting at
    * token 0, so the oracle hash-checks real span arithmetic at
    * sf0.001 and sf0.01 alike.
    *
    * Scale shape: STRICTLY LIGHTER than the corpus-duplicate spans —
    * no corpus-wide count shuffle at all. The benchmark fp set is
    * bounded by the benchmark suite's size, so it broadcasts as 8-byte
    * longs while under the threshold (the stand-in suite here is 1% of
    * the corpus, so it grows with it); corpus windows reduce to fps
    * map-side and die in the join unless they hit; the only shuffle is
    * the per-doc span-merge window over the HIT windows — a vanishing
    * fraction of the corpus. */
  val contaminationSpans = {
    val W = 8
    OracleQuery(
      "contamination_spans",
      (s, d) => {
        import org.apache.spark.sql.GraftColumns.{columnOf, expressionOf}
        def wins(df: DataFrame) = df
          .select(col("doc_id"), split(col("text"), " ").as("w"))
          .filter(size(col("w")) >= W)
          .select(col("doc_id"),
            explode(expr(s"sequence(0, size(w) - $W)")).as("i"), col("w"))
          .select(col("doc_id"), col("i"),
            columnOf(graft.functions.Md5Prefix64(expressionOf(
              expr(s"concat_ws(' ', slice(w, i + 1, $W))")))).as("fp"))
        val docs = Tables.documents(s, d)
        val allWins = wins(docs)
        val corpus = allWins.filter(col("doc_id") % 100 =!= 0)
        val bench = allWins
          .filter(col("doc_id") % 100 === 0 ||
            (col("doc_id") % 100 === 50 && col("i") <= 16))
          .select(col("fp")).distinct()
        val hits = corpus.join(bench, "fp")
          .select(col("doc_id"), col("i"))
        mergeSpans(hits, W).orderBy(col("doc_id"), col("span_id"))
      },
      Some(s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |wins AS (
        |  SELECT doc_id, i, substring(md5(array_to_string(w[i+1:i+$W], ' ')), 1, 15) AS fp
        |  FROM (SELECT doc_id, w, unnest(generate_series(0, len(w) - $W)) AS i
        |        FROM w WHERE len(w) >= $W)
        |),
        |bench AS (SELECT DISTINCT fp FROM wins
        |          WHERE doc_id % 100 = 0 OR (doc_id % 100 = 50 AND i <= 16)),
        |hits AS (
        |  SELECT doc_id, i FROM wins JOIN bench USING (fp)
        |  WHERE doc_id % 100 <> 0
        |),
        |flg AS (
        |  SELECT doc_id, i,
        |         CASE WHEN i > COALESCE(lag(i) OVER (PARTITION BY doc_id ORDER BY i), ${-(W + 1)}) + $W
        |              THEN 1 ELSE 0 END AS new_span
        |  FROM hits
        |),
        |sp AS (
        |  SELECT doc_id, i,
        |         SUM(new_span) OVER (PARTITION BY doc_id ORDER BY i
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span_id
        |  FROM flg
        |)
        |SELECT doc_id, CAST(span_id AS BIGINT) AS span_id,
        |       CAST(min(i) AS BIGINT) AS start_tok,
        |       CAST(max(i) + $W AS BIGINT) AS end_tok,
        |       CAST(count(*) AS BIGINT) AS n_windows
        |FROM sp GROUP BY doc_id, span_id
        |ORDER BY doc_id, span_id""".stripMargin))
  }

  /** The EXCISION step over [[substringSpanStats]] — what ExactSubstr
    * actually does to training text: duplicated spans are CUT from each
    * document, and the cleaned text re-assembles from the surviving
    * tokens. Span sets attach per doc as a collected array (bounded by
    * the doc's own span count), membership is a per-token `exists` over
    * that array inside one compiled projection — order-independent, so
    * the unordered `collect_list` is safe — and docs with no spans pass
    * through whole via the left join. Output carries the audit columns
    * (token counts, removed count, cleaned-text hash) rather than the
    * full text, so the row stays skinny at any document size. */
  val substringExcise = OracleQuery(
    "dedup_substring_excise",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val spanSets = substringSpanStats(docs)
        .groupBy(col("doc_id"))
        .agg(collect_list(struct(col("start_tok").as("s"), col("end_tok").as("e")))
          .as("spans"))
      docs.join(spanSets, Seq("doc_id"), "left")
        .withColumn("w", split(col("text"), " "))
        .withColumn("kept", expr(
          "filter(transform(w, (t, i) -> struct(t AS t, CAST(i AS BIGINT) AS i)), " +
            "p -> spans IS NULL OR NOT exists(spans, x -> p.i >= x.s AND p.i < x.e))"))
        .select(col("doc_id"),
          size(col("w")).cast("long").as("n_tokens"),
          (size(col("w")) - size(col("kept"))).cast("long").as("n_removed"),
          md5(concat_ws(" ", expr("transform(kept, p -> p.t)"))).as("clean_hash"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |wins AS (
      |  SELECT doc_id, i, substring(md5(array_to_string(w[i+1:i+16], ' ')), 1, 15) AS fp
      |  FROM (SELECT doc_id, w, unnest(generate_series(0, len(w) - 16)) AS i
      |        FROM w WHERE len(w) >= 16)
      |),
      |hot AS (SELECT fp FROM wins GROUP BY fp HAVING count(*) > 1),
      |dup AS (SELECT doc_id, i FROM wins JOIN hot USING (fp)),
      |flg AS (
      |  SELECT doc_id, i,
      |         CASE WHEN i > COALESCE(lag(i) OVER (PARTITION BY doc_id ORDER BY i), -17) + 16
      |              THEN 1 ELSE 0 END AS new_span
      |  FROM dup
      |),
      |sp AS (
      |  SELECT doc_id, i,
      |         SUM(new_span) OVER (PARTITION BY doc_id ORDER BY i
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span_id
      |  FROM flg
      |),
      |spans AS (
      |  SELECT doc_id, list({'s': s, 'e': e}) AS spans FROM (
      |    SELECT doc_id, CAST(min(i) AS BIGINT) AS s, CAST(max(i) + 16 AS BIGINT) AS e
      |    FROM sp GROUP BY doc_id, span_id)
      |  GROUP BY doc_id
      |),
      |cut AS (
      |  SELECT w.doc_id, w.w, spans.spans,
      |         CASE WHEN spans.spans IS NULL THEN list_transform(generate_series(1, len(w.w)), i -> i)
      |              ELSE list_filter(generate_series(1, len(w.w)),
      |                     i -> len(list_filter(spans.spans,
      |                            x -> i - 1 >= x.s AND i - 1 < x.e)) = 0)
      |         END AS kept
      |  FROM w LEFT JOIN spans USING (doc_id)
      |)
      |SELECT doc_id,
      |       CAST(len(w) AS BIGINT) AS n_tokens,
      |       CAST(len(w) - len(kept) AS BIGINT) AS n_removed,
      |       md5(COALESCE(array_to_string(list_transform(kept, i -> w[i]), ' '), ''))
      |         AS clean_hash
      |FROM cut
      |ORDER BY doc_id""".stripMargin))

  /** Historical passage-fingerprint store for [[incremental]]: the
    * distinct 16-word-passage fingerprints of the already-ingested
    * corpus (here the deterministic doc_id % 5 != 0 slice), written
    * once as 8-byte keys. In production this is the running store a
    * daily crawl delta screens against — it grows by appending the new
    * batch's surviving fingerprints, never by rescanning the corpus. */
  def fpStorePath(s: SparkSession, d: String): String =
    graft.ScratchDirs.materializedPath("fp_store", d) { p =>
      passageFps(Tables.documents(s, d).filter(col("doc_id") % 5 =!= 0))
        .select(col("fp")).distinct()
        .write.mode("overwrite").parquet(p)
    }

  /** Stride-16 non-overlapping passage fingerprints: (doc_id, i, fp)
    * with i the passage index — the shared cutting rule of
    * [[fpStorePath]] and [[incremental]]. */
  private def passageFps(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.GraftColumns.{columnOf, expressionOf}
    docs.select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 16)
      .select(col("doc_id"), posexplode(expr(
        "transform(sequence(0, CAST(size(w) / 16 AS INT) - 1), " +
          "i -> concat_ws(' ', slice(w, i * 16 + 1, 16)))")).as(Seq("i", "chunk")))
      .select(col("doc_id"), col("i").cast("long").as("i"),
        columnOf(graft.functions.Md5Prefix64(expressionOf(col("chunk")))).as("fp"))
  }

  private val passageFpsSql =
    """SELECT doc_id, CAST(i AS BIGINT) AS i,
      |       substring(md5(array_to_string(w[i*16+1:i*16+16], ' ')), 1, 15) AS fp
      |FROM (SELECT doc_id, w, unnest(generate_series(0, len(w)//16 - 1)) AS i
      |      FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
      |      WHERE len(w) >= 16)""".stripMargin

  /** Incremental (delta) dedup — screening TODAY'S batch against the
    * store of everything already ingested, without rescanning the
    * corpus: each batch passage is `in_store` (fingerprint exists in
    * the historical store), `dup_batch` (repeated within the batch —
    * only the first occurrence in (doc_id, position) order is charged
    * as new), or `new`; the per-document rollup keeps docs whose
    * duplicated fraction (vs store AND batch) is ≤ 1/2 — the
    * [[passage]] gate, applied incrementally.
    *
    * Scale shape: the ONLY join is batch-fingerprints × store on
    * 8-byte keys (the store side is the big one — bucketed by fp in
    * production so the probe is exchange-free); the within-batch
    * first-occurrence rule is one window over the batch's own
    * fingerprints; the rollup is one combinable aggregate. Nothing
    * touches historical text. */
  val incremental = OracleQuery(
    "dedup_incremental",
    (s, d) => {
      val store = s.read.parquet(fpStorePath(s, d)).withColumn("in_store", lit(1))
      val batch = passageFps(Tables.documents(s, d).filter(col("doc_id") % 5 === 0))
      val w = Window.partitionBy(col("fp"))
      val tagged = batch.join(store, Seq("fp"), "left")
        .withColumn("first_pos",
          min(struct(col("doc_id"), col("i"))).over(w))
        .withColumn("status",
          when(col("in_store") === 1, "in_store")
            .when(struct(col("doc_id"), col("i")) =!= col("first_pos"), "dup_batch")
            .otherwise("new"))
      val perDoc = tagged.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_passages"),
          sum(when(col("status") === "in_store", 1L).otherwise(0L)).as("n_in_store"),
          sum(when(col("status") === "dup_batch", 1L).otherwise(0L)).as("n_dup_batch"),
          sum(when(col("status") === "new", 1L).otherwise(0L)).as("n_new"))
      Tables.documents(s, d).filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"))
        .join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_passages"), lit(0L)).as("n_passages"),
          coalesce(col("n_in_store"), lit(0L)).as("n_in_store"),
          coalesce(col("n_dup_batch"), lit(0L)).as("n_dup_batch"),
          coalesce(col("n_new"), lit(0L)).as("n_new"),
          ((coalesce(col("n_in_store"), lit(0L)) + coalesce(col("n_dup_batch"), lit(0L))) * 2 <=
            coalesce(col("n_passages"), lit(0L))).cast("int").as("keep"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH p AS (
      |$passageFpsSql
      |), store AS (
      |  SELECT DISTINCT fp FROM p WHERE doc_id % 5 <> 0
      |), batch AS (
      |  SELECT doc_id, i, fp FROM p WHERE doc_id % 5 = 0
      |), tagged AS (
      |  SELECT b.doc_id,
      |         CASE WHEN s.fp IS NOT NULL THEN 'in_store'
      |              WHEN {'d': b.doc_id, 'i': b.i} <>
      |                   min({'d': b.doc_id, 'i': b.i}) OVER (PARTITION BY b.fp)
      |              THEN 'dup_batch'
      |              ELSE 'new' END AS status
      |  FROM batch b LEFT JOIN store s ON s.fp = b.fp
      |), per_doc AS (
      |  SELECT doc_id,
      |         CAST(count(*) AS BIGINT) AS n_passages,
      |         CAST(sum(CASE WHEN status = 'in_store' THEN 1 ELSE 0 END) AS BIGINT) AS n_in_store,
      |         CAST(sum(CASE WHEN status = 'dup_batch' THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_batch,
      |         CAST(sum(CASE WHEN status = 'new' THEN 1 ELSE 0 END) AS BIGINT) AS n_new
      |  FROM tagged GROUP BY doc_id
      |)
      |SELECT d.doc_id,
      |       COALESCE(n_passages, 0) AS n_passages,
      |       COALESCE(n_in_store, 0) AS n_in_store,
      |       COALESCE(n_dup_batch, 0) AS n_dup_batch,
      |       COALESCE(n_new, 0) AS n_new,
      |       CAST((COALESCE(n_in_store, 0) + COALESCE(n_dup_batch, 0)) * 2 <=
      |            COALESCE(n_passages, 0) AS INT) AS keep
      |FROM documents d LEFT JOIN per_doc USING (doc_id)
      |WHERE d.doc_id % 5 = 0
      |ORDER BY d.doc_id""".stripMargin))

  /** Asymmetric containment verification — the sub-document
    * duplication signal symmetric Jaccard misses: containment(a⊂b) =
    * |A∩B| / |A| over distinct token sets, so a short doc living
    * inside a long one scores ≈ 1 while its Jaccard stays low. Pairs
    * with max-side containment ≥ 0.95 are reported with both
    * directions, the Jaccard, and a `jaccard_low` flag marking exactly
    * the pairs a 0.6-Jaccard policy ([[jaccard]]) would have missed.
    *
    * The verifier stage shares [[jaccard]]'s shape (candidates come
    * from LSH banding at scale — this is the exact pass those
    * candidates route through); tokens reduce to 8-byte `Md5Prefix64`
    * keys before the intersection join, and each score is one IEEE
    * division of exact BIGINT set sizes. */
  val containment = OracleQuery(
    "dedup_containment",
    (s, d) => {
      import org.apache.spark.sql.GraftColumns.{columnOf, expressionOf}
      val toks = Tables.documents(s, d).filter(col("doc_id") < 80)
        .select(col("doc_id"),
          explode(array_distinct(split(col("text"), " "))).as("w"))
        .select(col("doc_id"),
          columnOf(graft.functions.Md5Prefix64(expressionOf(col("w")))).as("fp"))
      val sizes = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
      val inter = toks.as("x").join(toks.as("y"),
          col("x.fp") === col("y.fp") && col("x.doc_id") < col("y.doc_id"))
        .groupBy(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
        .agg(count(lit(1)).as("inter"))
      inter
        .join(sizes.toDF("a_id", "a_sz"), "a_id")
        .join(sizes.toDF("b_id", "b_sz"), "b_id")
        .withColumn("containment_a", col("inter").cast("double") / col("a_sz").cast("double"))
        .withColumn("containment_b", col("inter").cast("double") / col("b_sz").cast("double"))
        .withColumn("jaccard", col("inter").cast("double") /
          (col("a_sz") + col("b_sz") - col("inter")).cast("double"))
        .filter(greatest(col("containment_a"), col("containment_b")) >= 0.95)
        .withColumn("jaccard_low", (col("jaccard") < 0.6).cast("int"))
        .select(col("a_id"), col("b_id"), col("inter"), col("a_sz"), col("b_sz"),
          col("containment_a"), col("containment_b"), col("jaccard"), col("jaccard_low"))
        .orderBy(col("a_id"), col("b_id"))
    },
    Some("""WITH toks AS (
      |  SELECT DISTINCT doc_id, substring(md5(w), 1, 15) AS fp FROM (
      |    SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w
      |    FROM documents WHERE doc_id < 80)
      |), sizes AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM toks GROUP BY doc_id
      |), inter AS (
      |  SELECT x.doc_id AS a_id, y.doc_id AS b_id, CAST(count(*) AS BIGINT) AS inter
      |  FROM toks x JOIN toks y ON x.fp = y.fp AND x.doc_id < y.doc_id
      |  GROUP BY 1, 2
      |)
      |SELECT * FROM (
      |  SELECT a_id, b_id, inter, sa.sz AS a_sz, sb.sz AS b_sz,
      |         CAST(inter AS DOUBLE) / CAST(sa.sz AS DOUBLE) AS containment_a,
      |         CAST(inter AS DOUBLE) / CAST(sb.sz AS DOUBLE) AS containment_b,
      |         CAST(inter AS DOUBLE) / CAST(sa.sz + sb.sz - inter AS DOUBLE) AS jaccard,
      |         CAST(CAST(inter AS DOUBLE) / CAST(sa.sz + sb.sz - inter AS DOUBLE) < 0.6 AS INT)
      |           AS jaccard_low
      |  FROM inter JOIN sizes sa ON sa.doc_id = a_id JOIN sizes sb ON sb.doc_id = b_id)
      |WHERE greatest(containment_a, containment_b) >= 0.95
      |ORDER BY a_id, b_id""".stripMargin))

  /** b-bit minwise ACCURACY AUDIT (Li & König, CACM 2011) — the
    * storage-side counterpart of [[lshRecall]]: a deployment that keeps
    * only the LOWEST BIT of each minhash minimum stores 1/32 of the
    * 8-hex-char signature, and this report measures what that buys and
    * costs on the deployed candidate set. Per LSH candidate pair:
    * full-width agreement (the standard 8-perm estimate Ĵ = agree/8),
    * 1-bit agreement with the unbiased estimator Ĵ₁ = 2·(agree₁/8) − 1
    * (for large hash spaces a non-matching pair still agrees per bit
    * with probability ½ — the 2x−1 correction removes that), and the
    * EXACT 2-shingle Jaccard ground truth (the set family the
    * signature sketches), with both absolute errors — the honest
    * fixture-scale answer being that 8 one-bit samples are far too few
    * (σ ≈ 0.35), which is exactly why production b-bit deployments run
    * hundreds of permutations; the report is how that tradeoff is read
    * off before committing storage.
    *
    * Scale shape: candidate pairs come from the persisted LSH band
    * frame (bucket-bounded, never all-pairs); signatures re-attach by
    * two doc_id equi-joins; the exact leg reuses the cached corpus
    * shingle-fp frame with the intersection as one fp equi-join
    * restricted to candidate docs. Bit extraction is hex-char parity —
    * engine-portable string arithmetic, no conv(); every decision
    * integer, three closing IEEE chains on identical inputs. */
  val bbitMinhash = OracleQuery(
    "dedup_bbit_minhash",
    (s, d) => {
      // the candidate pair frame materializes once (r21): three
      // consumers below (the doc-id scope, the signature attach, the
      // exact leg) otherwise each re-plan the banded self-join
      val pairs = GraftLineage.cut(
        lshPairFrame(s, d).select(col("a_id"), col("b_id")), eager = true)
      // the candidate doc ids, one eager cut: its honest row count lets
      // autoBroadcastJoinThreshold decide the two scoping joins below — a
      // broadcast at fixture scale, a shuffle when the candidate set
      // outgrows the threshold
      val pairDocs = GraftLineage.cut(pairs.select(col("a_id").as("doc_id"))
        .union(pairs.select(col("b_id").as("doc_id")))
        .distinct(), eager = true)
      // the MinHash8 kernel runs once, over the CANDIDATE docs only: both
      // signature attaches below read this one cut
      val sig = GraftLineage.cut(minhashFrame(
        Tables.documents(s, d).join(pairDocs, "doc_id")), eager = true)
      def sigOf(side: String) = sig.toDF(sig.columns.toIndexedSeq
        .map(c => if (c == "doc_id") s"${side}_id" else s"${side}_$c"): _*)
      def parity(c: Column): Column =
        substring(c, 8, 1).isin("1", "3", "5", "7", "9", "b", "d", "f")
      val agree8 = (0 until NumHashes)
        .map(j => when(col(s"a_m$j") === col(s"b_m$j"), 1).otherwise(0))
        .reduceLeft(_ + _)
      val agree1 = (0 until NumHashes)
        .map(j => when(parity(col(s"a_m$j")) === parity(col(s"b_m$j")), 1)
          .otherwise(0))
        .reduceLeft(_ + _)
      val ssh = sampleShingleFrame(s, d, "g") // bound 'g' > 'f': full corpus, cached
      // scope the exact leg to the CANDIDATE docs before any join or
      // size aggregate (r21, guide §3.2's semi-join idea): the audit
      // only reads sizes and intersections for docs that appear in a
      // candidate pair, so the corpus-wide shingle frame never enters the
      // exact-leg shuffles. Values are unchanged: sz and inter are only
      // ever consumed keyed by pair doc ids. One cut serves the size
      // aggregate and both intersection legs.
      val cssh = GraftLineage.cut(ssh.join(pairDocs, "doc_id"), eager = true)
      val sz = cssh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      val inter = pairs
        .join(cssh.toDF("a_id", "fp"), "a_id")
        .join(cssh.toDF("b_id", "fp"), Seq("b_id", "fp"))
        .groupBy(col("a_id"), col("b_id")).agg(count(lit(1)).as("inter"))
      pairs
        .join(sigOf("a"), "a_id").join(sigOf("b"), "b_id")
        .withColumn("agree8", agree8.cast("long"))
        .withColumn("agree1", agree1.cast("long"))
        .join(inter, Seq("a_id", "b_id"), "left")
        .join(sz.toDF("a_id", "na"), "a_id")
        .join(sz.toDF("b_id", "nb"), "b_id")
        .withColumn("inter", coalesce(col("inter"), lit(0L)))
        .select(col("a_id"), col("b_id"), col("agree8"), col("agree1"),
          (col("agree8").cast("double") / lit(NumHashes.toDouble)).as("est_full"),
          ((col("agree1") * 2 - NumHashes).cast("double") / lit(NumHashes.toDouble))
            .as("est_1bit"),
          (col("inter").cast("double") /
            (col("na") + col("nb") - col("inter")).cast("double")).as("exact_j"))
        .withColumn("err_full", abs(col("est_full") - col("exact_j")))
        .withColumn("err_1bit", abs(col("est_1bit") - col("exact_j")))
        .orderBy(col("a_id"), col("b_id"))
    },
    Some {
      val odd = "('1','3','5','7','9','b','d','f')"
      val ag8 = (0 until NumHashes)
        .map(j => s"CAST(sa.m$j = sb.m$j AS INT)").mkString(" + ")
      val ag1 = (0 until NumHashes)
        .map(j => s"CAST((substring(sa.m$j, 8, 1) IN $odd) = " +
          s"(substring(sb.m$j, 8, 1) IN $odd) AS INT)").mkString(" + ")
      s"""$lshGuardedCte,
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        |  FROM guarded a JOIN guarded b
        |    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
        |   AND a.doc_id < b.doc_id
        |), ssh AS (
        |  SELECT DISTINCT doc_id, substring(md5(sh), 1, 15) AS fp FROM (
        |    SELECT doc_id, unnest(list_distinct($shingles2Sql)) AS sh FROM documents)
        |), sz AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM ssh GROUP BY doc_id
        |), iv AS (
        |  SELECT c.a_id, c.b_id, CAST(count(*) AS BIGINT) AS inter
        |  FROM cand c
        |  JOIN ssh fa ON fa.doc_id = c.a_id
        |  JOIN ssh fb ON fb.doc_id = c.b_id AND fb.fp = fa.fp
        |  GROUP BY 1, 2
        |), ag AS (
        |  SELECT c.a_id, c.b_id,
        |         CAST($ag8 AS BIGINT) AS agree8,
        |         CAST($ag1 AS BIGINT) AS agree1
        |  FROM cand c
        |  JOIN sig sa ON sa.doc_id = c.a_id
        |  JOIN sig sb ON sb.doc_id = c.b_id
        |)
        |SELECT a_id, b_id, agree8, agree1, est_full, est_1bit, exact_j,
        |       abs(est_full - exact_j) AS err_full,
        |       abs(est_1bit - exact_j) AS err_1bit
        |FROM (
        |  SELECT ag.a_id, ag.b_id, agree8, agree1,
        |         CAST(agree8 AS DOUBLE) / $NumHashes AS est_full,
        |         CAST(agree1 * 2 - $NumHashes AS DOUBLE) / $NumHashes AS est_1bit,
        |         CAST(COALESCE(iv.inter, 0) AS DOUBLE)
        |           / CAST(sa.n + sb.n - COALESCE(iv.inter, 0) AS DOUBLE) AS exact_j
        |  FROM ag
        |  LEFT JOIN iv ON iv.a_id = ag.a_id AND iv.b_id = ag.b_id
        |  JOIN sz sa ON sa.doc_id = ag.a_id
        |  JOIN sz sb ON sb.doc_id = ag.b_id)
        |ORDER BY a_id, b_id""".stripMargin
    })

  /** Per-document content NOVELTY in crawl order — the "what does each
    * new document actually add" curve a continual-crawl corpus reports
    * (and the per-doc refinement of [[sourceOverlap]]'s source-level
    * matrix): over a doc's DISTINCT 3-word shingles, how many appear in
    * NO earlier document (doc_id order = ingest order)? A re-crawl or
    * boilerplate page scores ≈ 0, genuinely fresh content ≈ 1 — the
    * per-doc signal a crawl scheduler reads to decide whether a source
    * is still yielding new text.
    *
    * Scale shape: shingles reduce to 60-bit [[graft.functions.Md5Prefix64]]
    * longs map-side (8-byte shuffle keys, bijective with the oracle's
    * 15-hex-char md5 prefix so collisions merge identically on both
    * engines); ONE distinct shuffle on (fp, doc_id), first-occurrence
    * attribution is a min-window on the SAME fp key (exchange reused —
    * no second shuffle for the window), and the per-doc rollup is one
    * combinable aggregate. A hyper-common shingle is one window
    * partition — never a pair fan-out; nothing past the fingerprint
    * projection holds text. The one IEEE division closes exact BIGINT
    * counts. */
  val docNovelty = OracleQuery(
    "doc_novelty",
    (s, d) => {
      import org.apache.spark.sql.GraftColumns.{columnOf, expressionOf}
      val sh3 = columnOf(graft.functions.ShinglesK(expressionOf(col("text")), 3))
      val docSh = Tables.documents(s, d)
        .select(col("doc_id"), explode(array_distinct(sh3)).as("sh"))
        .select(col("doc_id"),
          columnOf(graft.functions.Md5Prefix64(expressionOf(col("sh")))).as("fp"))
        .distinct()
      val w = Window.partitionBy(col("fp"))
      docSh
        .withColumn("novel",
          (col("doc_id") === min(col("doc_id")).over(w)).cast("long"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shingles"), sum(col("novel")).as("n_novel"))
        .select(col("doc_id"), col("n_shingles"), col("n_novel"),
          (col("n_novel").cast("double") / col("n_shingles").cast("double"))
            .as("novelty"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH ssh AS (
      |  SELECT DISTINCT doc_id, substring(md5(sh), 1, 15) AS fp FROM (
      |    SELECT doc_id, unnest(list_distinct(list_transform(
      |             generate_series(1, greatest(len(w) - 2, 1)),
      |             i -> concat_ws(' ', w[i], w[i+1], w[i+2])))) AS sh
      |    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents))
      |), flagged AS (
      |  SELECT doc_id,
      |         CAST(doc_id = min(doc_id) OVER (PARTITION BY fp) AS BIGINT) AS novel
      |  FROM ssh
      |)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
      |       CAST(sum(novel) AS BIGINT) AS n_novel,
      |       CAST(sum(novel) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS novelty
      |FROM flagged GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin))

  /** Snapshot DIFF between two corpus versions — the CDC primitive an
    * incremental pipeline runs when a crawl refreshes, so downstream
    * stages (dedup, decontamination, mixing) recompute on the CHURN,
    * never the corpus: per doc, `added` / `removed` / `changed`, with
    * unchanged docs excluded so the report is bounded by the delta, not
    * the snapshot. The refreshed version is derived deterministically
    * in-query (the `ltss_attr_profile` enrichment device): doc_id
    * % 13 = 0 removed, % 7 = 0 re-edited (" rev2" appended), % 11 = 0
    * re-published under the collision-free negative id −doc_id−1 — so
    * all three statuses are exercised at every gate.
    *
    * Scale shape: content equality is decided on md5 fingerprints
    * PROJECTED BEFORE the join, so only (doc_id, 32-byte hex) ever
    * shuffles — never text — and the whole diff is ONE full-outer
    * equi-join on doc_id (AQE handles the skewless id space); both
    * version frames are map-side projections of the snapshot scan. */
  val corpusDiff = OracleQuery(
    "corpus_diff",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val v1 = docs.select(col("doc_id"), md5(col("text")).as("h1"))
      val v2 = docs.filter(col("doc_id") % 13 =!= 0)
        .select(col("doc_id"),
          md5(when(col("doc_id") % 7 === 0, concat(col("text"), lit(" rev2")))
            .otherwise(col("text"))).as("h2"))
        .unionByName(docs.filter(col("doc_id") % 11 === 0)
          .select((-col("doc_id") - 1).as("doc_id"),
            md5(concat(lit("new "), col("text"))).as("h2")))
      v1.join(v2, Seq("doc_id"), "full_outer")
        .withColumn("status",
          when(col("h1").isNull, lit("added"))
            .when(col("h2").isNull, lit("removed"))
            .when(col("h1") =!= col("h2"), lit("changed")))
        .filter(col("status").isNotNull)
        .select(col("doc_id"), col("status"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH v1 AS (
      |  SELECT doc_id, md5(text) AS h1 FROM documents
      |), v2 AS (
      |  SELECT doc_id,
      |         md5(CASE WHEN doc_id % 7 = 0 THEN text || ' rev2'
      |                  ELSE text END) AS h2
      |  FROM documents WHERE doc_id % 13 <> 0
      |  UNION ALL
      |  SELECT -doc_id - 1 AS doc_id, md5('new ' || text) AS h2
      |  FROM documents WHERE doc_id % 11 = 0
      |)
      |SELECT doc_id,
      |       CASE WHEN h1 IS NULL THEN 'added'
      |            WHEN h2 IS NULL THEN 'removed'
      |            WHEN h1 <> h2 THEN 'changed' END AS status
      |FROM v1 FULL OUTER JOIN v2 USING (doc_id)
      |WHERE (h1 IS NULL OR h2 IS NULL OR h1 <> h2)
      |ORDER BY doc_id""".stripMargin))

  val all: Seq[OracleQuery] =
    Seq(exact, minhashSig, minhashLsh, jaccard, clusters, clusterStats,
      savings, confusion, corpusSummary, splitLeakageFree, splitLeakageAudit, keepBest, lshRecall,
      allPairs,
      lshScurve, graphStats, overflowVerify, crosscheck,
      simhashPairs, simhash64Pairs, sourceOverlap, passage, substringSpans,
      substringSpans50,
      substringExcise, contaminationSpans, incremental, containment,
      docNovelty, bbitMinhash, corpusDiff)
}
