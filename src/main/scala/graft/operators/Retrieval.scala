package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{CachedFrames, Routes, Tables}

/** Ranked retrieval and corpus-vocabulary training operators — the
  * layer a training-data pipeline puts ON TOP of the inverted index and
  * token statistics that [[TextOps]] maintains:
  *
  *  - [[textBm25]]: BM25-ranked keyword retrieval over the posting
  *    layout (Robertson et al.'s Okapi weighting with an exact-rational
  *    idf, so the score is engine-portable).
  *  - [[textRank]]: TextRank keyword extraction (Mihalcea & Tarau 2004)
  *    — PageRank over the token co-occurrence graph in integer-scaled
  *    exact arithmetic.
  *  - [[bpeMerges]]: the first BPE merge rounds (Sennrich et al. 2016)
  *    computed corpus-wide over the word-frequency table — the actual
  *    tokenizer-training step, not a stand-in.
  *
  * All three follow the DetMath parity rules: every decision is made in
  * BIGINT arithmetic; the only IEEE operations are final divisions (and
  * BM25's fixed-order 3-term sum) applied to identical exact inputs on
  * both engines.
  */
object Retrieval {

  // ---------------------------------------------------------------------
  // BM25 ranked retrieval
  // ---------------------------------------------------------------------

  /** BM25 posting layout: one row per (doc, term) with the term
    * frequency and the doc length, partitioned by the same token-hash
    * bucket as the boolean inverted index ([[TextOps.invIndexPath]]),
    * plus a 1-row corpus-stats side file (N docs, total tokens). A
    * query partition-prunes to its terms' buckets; document-frequency
    * counts come from the pruned postings themselves (a term's postings
    * all live in its bucket), so ranking never touches the corpus. */
  def bm25IndexPath(s: SparkSession, d: String): String =
    graft.ScratchDirs.materializedPath("bm25_index", d) { p =>
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      val dl = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
      toks.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
        .join(dl, "doc_id")
        .withColumn("bucket", pmod(xxhash64(col("tok")), lit(TextOps.IndexBuckets)))
        .write.mode("overwrite").partitionBy("bucket").parquet(p + "/postings")
      dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("tot_tokens"))
        .write.mode("overwrite").parquet(p + "/stats")
    }

  /** Okapi BM25 (k1 = 1.2, b = 0.75) with an exact-rational idf.
    *
    * The standard log-idf is libm-dependent, so ranking with it cannot
    * hash-match across engines. We use the rational
    * idf = (2(N − df) + 1) / (2df + 1) — the same (N − df + ½)/(df + ½)
    * odds ratio the Robertson idf takes the log of, kept as a ratio.
    * Folding k1 = 6/5 and b = 3/4 with avgdl = T/N over a common
    * denominator, the whole per-term score collapses to ONE division of
    * two BIGINT products:
    *
    *   score_t = (2(N−df)+1)·22·T·tf
    *           / ((2df+1)·(10·T·tf + 3·T + 9·dl·N))
    *
    * and the doc score is the fixed-order sum over the (few) query
    * terms — so a ranked top-10 with tie-break on doc_id is bit-equal
    * on both engines. (At 100 TB the products approach BIGINT range;
    * the same chain runs in DECIMAL(38,0) there — the fixture keeps
    * BIGINT for oracle parity.) Scale shape: the candidate set is the
    * pruned postings of the query terms only, df is a per-term count
    * over those postings, the 1-row stats frame broadcasts, and the
    * top-10 is a TakeOrdered — no corpus scan, no window. */
  /** The BM25-scored candidate frame (doc_id, score) behind
    * [[textBm25]] — split out so the hybrid RRF fusion can rank the
    * same leg without re-deriving the scoring chain. */
  private def bm25Scored(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val terms = TextOps.SearchTerms
    val bucketVals = terms.toDF("t")
      .select(pmod(xxhash64(col("t")), lit(TextOps.IndexBuckets)))
      .collect().map(_.getLong(0)).distinct.toSeq
    val p = bm25IndexPath(s, d)
    val post = s.read.parquet(p + "/postings")
      .filter(col("bucket").isin(bucketVals: _*) && col("tok").isin(terms: _*))
    val stats = s.read.parquet(p + "/stats")
    val dfreq = post.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    def term(t: String): Column = coalesce(
      max(when(col("tok") === t,
        ((lit(2L) * (col("n_docs") - col("df")) + lit(1L)) *
          lit(22L) * col("tot_tokens") * col("tf")).cast("double") /
        ((lit(2L) * col("df") + lit(1L)) *
          (lit(10L) * col("tot_tokens") * col("tf") +
            lit(3L) * col("tot_tokens") +
            lit(9L) * col("dl") * col("n_docs"))).cast("double"))),
      lit(0.0d))
    post.join(dfreq, "tok")
      // bound: the index's one-row stats file
      .crossJoin(broadcast(stats))
      .groupBy(col("doc_id"))
      .agg((term(terms(0)) + term(terms(1)) + term(terms(2))).as("score"))
  }

  val textBm25 = OracleQuery(
    "text_bm25",
    (s, d) =>
      bm25Scored(s, d)
        .orderBy(col("score").desc, col("doc_id"))
        .limit(10),
    Some(s"""$bm25ScoredSql
       |SELECT doc_id, score FROM scored
       |ORDER BY score DESC, doc_id
       |LIMIT 10""".stripMargin))

  /** DuckDB CTE chain ending in `scored(doc_id, score)` — the oracle
    * twin of [[bm25Scored]], shared by the BM25 and hybrid queries. */
  private def bm25ScoredSql: String = {
    val terms = TextOps.SearchTerms
    val termsIn = terms.map(t => s"'$t'").mkString(", ")
    def term(t: String): String =
      s"""coalesce(max(CASE WHEN tok = '$t'
         |  THEN CAST((2*(s.n_docs - df.df) + 1) * 22 * s.tot_tokens * p.tf AS DOUBLE)
         |     / CAST((2*df.df + 1) * (10 * s.tot_tokens * p.tf + 3 * s.tot_tokens
         |                             + 9 * dl.dl * s.n_docs) AS DOUBLE)
         |  END), CAST(0 AS DOUBLE))""".stripMargin
    s"""WITH t AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
       |), dl AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM t GROUP BY doc_id
       |), stats AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |         CAST(sum(dl) AS BIGINT) AS tot_tokens FROM dl
       |), p AS (
       |  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf FROM t
       |  WHERE tok IN ($termsIn) GROUP BY doc_id, tok
       |), df AS (
       |  SELECT tok, CAST(count(*) AS BIGINT) AS df FROM p GROUP BY tok
       |), scored AS (
       |  SELECT p.doc_id,
       |         ${term(terms(0))} +
       |         ${term(terms(1))} +
       |         ${term(terms(2))} AS score
       |  FROM p
       |  JOIN df USING (tok)
       |  JOIN dl ON dl.doc_id = p.doc_id
       |  CROSS JOIN stats s
       |  GROUP BY p.doc_id
       |)""".stripMargin
  }

  // ---------------------------------------------------------------------
  // Hybrid (lexical + vector) retrieval via reciprocal-rank fusion
  // ---------------------------------------------------------------------

  /** RRF constant (Cormack et al. 2009's k = 60) and per-leg candidate
    * depth. */
  val RrfK = 60L
  val HybridDepth = 50

  /** Hybrid retrieval: the BM25 lexical leg and the exact-cosine vector
    * leg (query = vec_id 0, the same query vector `sim_cosine_topk`
    * uses) fused by reciprocal-rank fusion —
    * rrf(d) = Σ_leg 1/(k + rank_leg(d)) — the standard way a modern
    * retrieval stack combines keyword and embedding evidence without
    * calibrating their incomparable scores. Ranks are BIGINTs (absent
    * leg → 0), so the only floats are two IEEE divisions of exact
    * integers summed in fixed written order — bit-portable.
    *
    * Scale shape: each leg reduces to its top-[[HybridDepth]] by a
    * TakeOrdered, the rank is assigned driver-side over the ≤50
    * collected ids (bounded constant, not corpus-sized — the same class
    * as a collected codebook), and the fusion is a full outer join of
    * two 50-row local frames. The lexical leg
    * reads pruned posting buckets, the vector leg is the brute-force
    * exact baseline (its indexed variants are the `sim_ivf*` family). */
  val textRrfHybrid = OracleQuery(
    "text_rrf_hybrid",
    (s, d) => {
      import s.implicits._
      val dim = Similarity.Dim
      // each leg is a TakeOrdered top-HybridDepth; the rank column is
      // then assigned DRIVER-SIDE over the ≤50 collected ids (the k-row
      // planning-artifact class) — a partitionless WindowExec here would
      // be harmless but noisy, and Spark 4 folds constant partition keys
      // away (EliminateWindowPartitions), so no window at all is the
      // only warning-free single-partition rank
      def ranked(leg: DataFrame, ord: Seq[Column], rank: String): DataFrame =
        leg.orderBy(ord: _*).limit(HybridDepth)
          .select(col("doc_id")).collect()
          .map(_.getLong(0)).zipWithIndex.toSeq
          .map { case (id, i) => (id, i + 1L) }
          .toDF("doc_id", rank)
      val lex = ranked(bm25Scored(s, d),
        Seq(col("score").desc, col("doc_id")), "r_lex")
        .select(col("doc_id"), col("r_lex"))
      val emb = Tables.embeddings(s, d)
        .withColumn("nrm", graft.functions.DetMath.normCol(col("embedding"), dim))
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("qe"), col("nrm").as("qn"))
      val cos = emb.filter(col("vec_id") =!= 0)
        // bound: one query row (vec_id 0)
        .crossJoin(broadcast(q))
        .withColumn("cosine", graft.functions.DetMath.cosinePre(
          graft.functions.DetMath.dotCol(col("embedding"), col("qe"), dim),
          col("nrm"), col("qn")))
        .select(col("vec_id").as("doc_id"), col("cosine"))
      val vec = ranked(cos, Seq(col("cosine").desc, col("doc_id")), "r_vec")
        .select(col("doc_id"), col("r_vec"))
      lex.join(vec, Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          coalesce(col("r_lex"), lit(0L)).as("r_lex"),
          coalesce(col("r_vec"), lit(0L)).as("r_vec"))
        .withColumn("rrf",
          coalesce(when(col("r_lex") > 0,
            lit(1.0d) / (lit(RrfK) + col("r_lex")).cast("double")), lit(0.0d)) +
          coalesce(when(col("r_vec") > 0,
            lit(1.0d) / (lit(RrfK) + col("r_vec")).cast("double")), lit(0.0d)))
        .orderBy(col("rrf").desc, col("doc_id"))
        .limit(10)
    },
    Some {
      val dim = Similarity.Dim
      import graft.functions.DetMath
      s"""$bm25ScoredSql,
         |lex AS (
         |  SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS r_lex
         |  FROM (SELECT * FROM scored ORDER BY score DESC, doc_id LIMIT $HybridDepth)
         |), e AS (
         |  SELECT vec_id, embedding, ${DetMath.normSql("embedding", dim)} AS nrm
         |  FROM embeddings
         |), q AS (SELECT embedding AS qe, nrm AS qn FROM e WHERE vec_id = 0),
         |cos AS (
         |  SELECT e.vec_id AS doc_id,
         |    ${DetMath.cosinePreSql(DetMath.dotSql("e.embedding", "q.qe", dim), "e.nrm", "q.qn")} AS cosine
         |  FROM e, q WHERE e.vec_id <> 0
         |), vec AS (
         |  SELECT doc_id, CAST(row_number() OVER (ORDER BY cosine DESC, doc_id) AS BIGINT) AS r_vec
         |  FROM (SELECT * FROM cos ORDER BY cosine DESC, doc_id LIMIT $HybridDepth)
         |)
         |SELECT doc_id, r_lex, r_vec,
         |       coalesce(CASE WHEN r_lex > 0
         |                THEN CAST(1 AS DOUBLE) / CAST($RrfK + r_lex AS DOUBLE) END,
         |                CAST(0 AS DOUBLE))
         |     + coalesce(CASE WHEN r_vec > 0
         |                THEN CAST(1 AS DOUBLE) / CAST($RrfK + r_vec AS DOUBLE) END,
         |                CAST(0 AS DOUBLE)) AS rrf
         |FROM (
         |  SELECT coalesce(l.doc_id, v.doc_id) AS doc_id,
         |         coalesce(l.r_lex, 0) AS r_lex, coalesce(v.r_vec, 0) AS r_vec
         |  FROM lex l FULL OUTER JOIN vec v ON l.doc_id = v.doc_id)
         |ORDER BY rrf DESC, doc_id
         |LIMIT 10""".stripMargin
    })

  // ---------------------------------------------------------------------
  // TextRank keyword extraction
  // ---------------------------------------------------------------------

  /** Rank scale: ranks are BIGINTs in units of 10⁻¹² of total mass. */
  val RankScale = 1000000000000L

  /** Damped weighted PageRank over the token co-occurrence graph
    * (TextRank): nodes = tokens, undirected edges = adjacent-token
    * co-occurrence counts, 3 power iterations at d = 0.85, top-20
    * tokens by rank.
    *
    * Engine-portable by integer arithmetic: ranks are BIGINTs scaled by
    * [[RankScale]]; each edge contributes (r(u)·w(u,v)) div W(u) and the
    * update is base + (85·Σcontrib) div 100 with base = (15·S) div
    * (100·N) — sums of integers are order-independent, so no float ever
    * enters the fixpoint and the ranked output hash-matches. (The
    * truncated integer division loses < 1 ulp of mass per edge per
    * iteration — the ranking is exact BY DEFINITION of this integer
    * recurrence, which both engines replay identically.)
    *
    * Scale shape: the edge list aggregates once (one shuffle on the
    * pair) and persists; each iteration is one equi-join of the
    * vocab-sized rank frame with the edge list (both partitioned by
    * src) plus one combinable sum on dst — 3 iterations, no driver-side
    * graph. Vocabulary is bounded (millions at 100 TB, not corpus-
    * sized), so the rank frame stays small. */
  val textRank = OracleQuery(
    "text_rank",
    (s, d) => {
      val S = RankScale
      val adj = Tables.documents(s, d)
        .select(split(col("text"), " ").as("w"))
        .filter(size(col("w")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, size(w) - 1), " +
            "i -> struct(element_at(w, i) AS a, element_at(w, i + 1) AS b))")).as("p"))
        .select(col("p.a").as("a"), col("p.b").as("b"))
        .filter(col("a") =!= col("b"))
      // the out-weight W(src) is static per source, so it attaches to
      // the edge list ONCE at build time (a vocab-bounded join inside
      // the persisted frame) — each power iteration then needs a single
      // rank-frame join instead of rank + wout
      val edges = CachedFrames.getOrBuild(
        s"textrank_edges|${CachedFrames.sessionKey(s)}|$d") {
        val e = adj.select(col("a").as("src"), col("b").as("dst"))
          .union(adj.select(col("b").as("src"), col("a").as("dst")))
          .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))
        e.join(e.groupBy(col("src")).agg(sum(col("w")).as("wout")), "src")
      }
      // route: the rank fixpoint runs over the vocab-bounded EDGE frame,
      // so its edge count bounds one task. In-task, [[localTextRank]]
      // runs the IDENTICAL integer recurrence (order-independent sums).
      val nE = edges.count()
      if (Routes.local(Routes.TextRank, nE)) {
        import s.implicits._
        val ranked = edges.select(col("src"), col("dst"), col("w"), col("wout"))
          .as[(String, String, Long, Long)]
          .coalesce(1)
          .mapPartitions(it => localTextRank(it, S))
          .toDF("tok", "rank_scaled")
        ranked.orderBy(col("rank_scaled").desc, col("tok")).limit(20)
      } else {
        val nodes = edges.select(col("src").as("tok")).distinct()
        // vocabulary count: a k-row driver aggregate (planning artifact,
        // same class as the IVF probe argmax / search-term buckets)
        val nn = nodes.count()
        val base = (15L * S) / (100L * nn)
        val r0 = nodes.withColumn("r", lit(S / nn))
        val r3 = (1 to 3).foldLeft(r0) { (prev, _) =>
          val contrib = edges
            .join(prev.withColumnRenamed("tok", "src"), "src")
            .groupBy(col("dst").as("tok"))
            .agg(sum(expr("(r * w) div wout")).as("contrib"))
          nodes.join(contrib, Seq("tok"), "left")
            .select(col("tok"),
              (lit(base) + expr("(85 * coalesce(contrib, CAST(0 AS BIGINT))) div 100")).as("r"))
        }
        r3.select(col("tok"), col("r").as("rank_scaled"))
          .orderBy(col("rank_scaled").desc, col("tok"))
          .limit(20)
      }
    },
    Some {
      val S = RankScale
      def it(prev: String): String =
        s"""  SELECT n.tok,
           |         (15 * $S) // (100 * (SELECT nn FROM nnodes))
           |         + (85 * coalesce(c.contrib, 0)) // 100 AS r
           |  FROM nodes n LEFT JOIN (
           |    SELECT e.dst AS tok, CAST(sum((p.r * e.w) // wo.wout) AS BIGINT) AS contrib
           |    FROM edges e
           |    JOIN $prev p ON p.tok = e.src
           |    JOIN wout wo ON wo.tok = e.src
           |    GROUP BY e.dst
           |  ) c ON c.tok = n.tok""".stripMargin
      s"""WITH t AS (
         |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
         |), adj AS (
         |  SELECT w[i] AS a, w[i+1] AS b
         |  FROM (SELECT w, unnest(generate_series(1, len(w) - 1)) AS i FROM t)
         |  WHERE w[i] <> w[i+1]
         |), edges AS (
         |  SELECT src, dst, CAST(count(*) AS BIGINT) AS w FROM (
         |    SELECT a AS src, b AS dst FROM adj
         |    UNION ALL SELECT b AS src, a AS dst FROM adj
         |  ) GROUP BY src, dst
         |), nodes AS (
         |  SELECT DISTINCT src AS tok FROM edges
         |), nnodes AS (
         |  SELECT CAST(count(*) AS BIGINT) AS nn FROM nodes
         |), wout AS (
         |  SELECT src AS tok, CAST(sum(w) AS BIGINT) AS wout FROM edges GROUP BY src
         |), r0 AS (
         |  SELECT tok, $S // (SELECT nn FROM nnodes) AS r FROM nodes
         |), r1 AS (
         |${it("r0")}
         |), r2 AS (
         |${it("r1")}
         |), r3 AS (
         |${it("r2")}
         |)
         |SELECT tok, CAST(r AS BIGINT) AS rank_scaled FROM r3
         |ORDER BY r DESC, tok LIMIT 20""".stripMargin
    })

  /** In-task replay of the text_rank power iterations over a collected
    * edge list — the SAME integer recurrence as the distributed route:
    * nodes = distinct edge sources, r0 = S div n, and per iteration
    * contrib(dst) = Σ (r(src)·w) div wout over the edges (a sum of
    * longs — order-independent), r' = base + (85·contrib) div 100 with
    * base = (15·S) div (100·n). Java long `/` and Spark's `div` both
    * truncate toward zero, so every intermediate is bit-identical to
    * the join+agg fixpoint. Contributions to a dst that never appears
    * as a src are dropped, exactly as the distributed route's left join
    * from `nodes` drops them (moot for the symmetric co-occurrence
    * graph, where every dst is a src, but kept for strict equality).
    * Memory: one boxed tuple array plus four primitive arrays over the
    * edge count — bounded by the route cap. */
  private[graft] def localTextRank(
      it: Iterator[(String, String, Long, Long)],
      S: Long): Iterator[(String, Long)] = {
    val edges = it.toArray
    val idx = new java.util.HashMap[String, Integer]()
    val toks = scala.collection.mutable.ArrayBuffer.empty[String]
    edges.foreach { case (src, _, _, _) =>
      if (!idx.containsKey(src)) { idx.put(src, toks.length); toks += src }
    }
    val n = toks.length
    if (n == 0) return Iterator.empty
    val m = edges.length
    val es = new Array[Int](m)
    val ed = new Array[Int](m) // -1 = dst is not a node (no src row)
    val ew = new Array[Long](m)
    val ewout = new Array[Long](m)
    var k = 0
    while (k < m) {
      val (src, dst, w, wout) = edges(k)
      es(k) = idx.get(src).intValue
      val d = idx.get(dst)
      ed(k) = if (d == null) -1 else d.intValue
      ew(k) = w
      ewout(k) = wout
      k += 1
    }
    val base = (15L * S) / (100L * n)
    var r = Array.fill(n)(S / n)
    var iter = 0
    while (iter < 3) {
      val contrib = new Array[Long](n)
      var i = 0
      while (i < m) {
        val d = ed(i)
        if (d >= 0) contrib(d) += (r(es(i)) * ew(i)) / ewout(i)
        i += 1
      }
      val next = new Array[Long](n)
      var j = 0
      while (j < n) { next(j) = base + (85L * contrib(j)) / 100L; j += 1 }
      r = next
      iter += 1
    }
    toks.iterator.zipWithIndex.map { case (t, i) => (t, r(i)) }
  }

  // ---------------------------------------------------------------------
  // BPE merge training
  // ---------------------------------------------------------------------

  /** Number of BPE merge rounds the query materializes. */
  val BpeRounds = 3

  /** The first [[BpeRounds]] byte-pair-encoding merges, trained
    * corpus-wide (Sennrich et al. 2016): start from the character
    * symbols of every distinct word weighted by word frequency, count
    * adjacent symbol pairs, merge the most frequent pair everywhere
    * (leftmost-non-overlapping, the classic greedy fold), repeat. The
    * output is the merge table itself — (round, left, right, merged,
    * weighted count) — i.e. the artifact a tokenizer trainer ships.
    *
    * Determinism: pair selection orders by (count DESC, left, right) —
    * all-integer/bytewise — and the merge application is a pure fold
    * both engines express identically (Spark `aggregate` HOF / DuckDB
    * `list_reduce` over singleton lists).
    *
    * Scale shape: everything after the first aggregation runs on the
    * DISTINCT-WORD frequency table — vocabulary-bounded (millions of
    * rows at 100 TB, not corpus-sized), the standard trick every BPE
    * trainer uses. Each round is one combinable pair-count aggregation
    * plus a map-side fold; the argmax is a 1-row driver artifact. */
  /** Distinct-word frequency table (word, freq) — the vocabulary-bounded
    * frame every BPE stage runs on. */
  private def bpeWords(s: SparkSession, d: String) = CachedFrames.getOrBuild(
    s"bpe_words|${CachedFrames.sessionKey(s)}|$d") {
    Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
  }

  /** SQL-expression string applying ONE merge (a, b) → ab as the classic
    * leftmost-non-overlapping greedy fold over a symbol array — shared
    * by the trainer's per-round application and the tokenizer's replay
    * so the two cannot drift. */
  private def mergeFold(a: String, b: String): String = {
    def q(x: String) = x.replace("'", "''")
    s"aggregate(syms, CAST(array() AS ARRAY<STRING>), (acc, x) -> " +
      s"CASE WHEN size(acc) > 0 AND element_at(acc, -1) = '${q(a)}' AND x = '${q(b)}' " +
      s"THEN concat(slice(acc, 1, size(acc) - 1), array('${q(a + b)}')) " +
      s"ELSE concat(acc, array(x)) END)"
  }

  private val mergeCache = new java.util.concurrent.ConcurrentHashMap[
    String, Seq[(Int, String, String, String, Long)]]()

  /** The trained merge table — [[BpeRounds]] driver-side 1-row argmaxes
    * over the vocabulary frame, cached per (session, dataset) like the
    * other trained artifacts so the trainer query and the tokenizer
    * query share one training run. */
  private def trainedMerges(
      s: SparkSession, d: String): Seq[(Int, String, String, String, Long)] =
    mergeCache.computeIfAbsent(s"${CachedFrames.sessionKey(s)}|$d", _ => {
      var syms = bpeWords(s, d)
        .select(split(col("word"), "").as("syms"), col("freq"))
      (1 to BpeRounds).map { round =>
        val best = syms.filter(size(col("syms")) >= 2)
          .select(explode(expr(
            "transform(sequence(1, size(syms) - 1), " +
              "i -> struct(element_at(syms, i) AS a, element_at(syms, i + 1) AS b))")).as("p"),
            col("freq"))
          .groupBy(col("p.a").as("a"), col("p.b").as("b"))
          .agg(sum(col("freq")).as("cnt"))
          .orderBy(col("cnt").desc, col("a"), col("b"))
          .limit(1).collect()(0)
        val (a, b, cnt) = (best.getString(0), best.getString(1), best.getLong(2))
        syms = syms.withColumn("syms", expr(mergeFold(a, b)))
        (round, a, b, a + b, cnt)
      }
    })

  /** Per-word BPE token count under the trained merge table: the
    * vocabulary re-tokenized by replaying the merges in training order.
    * Vocabulary-bounded (never corpus-sized) and cached — the shape a
    * production tokenizer-apply stage uses: tokenize the DISTINCT words
    * once, then join counts back to documents. */
  private[graft] def bpeWordTokens(s: SparkSession, d: String) =
    CachedFrames.getOrBuild(s"bpe_wordtoks|${CachedFrames.sessionKey(s)}|$d") {
      val merges = trainedMerges(s, d)
      var syms = bpeWords(s, d)
        .select(col("word"), split(col("word"), "").as("syms"))
      merges.foreach { case (_, a, b, _, _) =>
        syms = syms.withColumn("syms", expr(mergeFold(a, b)))
      }
      syms.select(col("word"), size(col("syms")).cast("long").as("n_tok"))
    }

  val bpeMerges = OracleQuery(
    "bpe_merges",
    (s, d) => {
      import s.implicits._
      trainedMerges(s, d)
        .toDF("merge_idx", "left_sym", "right_sym", "merged", "cnt")
        .orderBy(col("merge_idx"))
    },
    Some(s"""$bpeSqlChain
       |SELECT * FROM (
       |  SELECT 1 AS merge_idx, a AS left_sym, b AS right_sym, a || b AS merged, cnt FROM best1
       |  UNION ALL SELECT 2, a, b, a || b, cnt FROM best2
       |  UNION ALL SELECT 3, a, b, a || b, cnt FROM best3
       |) ORDER BY merge_idx""".stripMargin))

  /** DuckDB replay of the full BPE training chain, ending with the
    * per-round `best$i` merge rows and the merged vocabulary `s3`
    * (word, syms, freq) — shared by [[bpeMerges]] and
    * [[docTokenizeBpe]] so the trainer and the tokenizer verify against
    * ONE training replay. */
  private def bpeSqlChain: String = {
    def rnd(prev: String, i: Int): String =
      s"""pairs$i AS (
         |  SELECT a, b, CAST(sum(freq) AS BIGINT) AS cnt FROM (
         |    SELECT syms[i] AS a, syms[i+1] AS b, freq
         |    FROM (SELECT syms, freq, unnest(generate_series(1, len(syms) - 1)) AS i
         |          FROM $prev)
         |  ) GROUP BY a, b
         |), best$i AS (
         |  SELECT a, b, cnt FROM pairs$i ORDER BY cnt DESC, a, b LIMIT 1
         |), s$i AS (
         |  SELECT word, list_reduce(list_transform(syms, c -> [c]),
         |           (acc, x) -> CASE WHEN len(acc) > 0 AND acc[-1] = best.a AND x[1] = best.b
         |                       THEN list_append(acc[1:len(acc)-1], best.a || best.b)
         |                       ELSE list_concat(acc, x) END) AS syms, freq
         |  FROM $prev CROSS JOIN best$i best
         |)""".stripMargin
    s"""WITH words AS (
       |  SELECT word, CAST(count(*) AS BIGINT) AS freq FROM (
       |    SELECT unnest(string_split(text, ' ')) AS word FROM documents
       |  ) WHERE word <> '' GROUP BY word
       |), s0 AS (
       |  SELECT word, string_split(word, '') AS syms, freq FROM words
       |), ${rnd("s0", 1)}, ${rnd("s1", 2)}, ${rnd("s2", 3)}""".stripMargin
  }

  /** Tokenizer APPLY — the op a token-budget pipeline actually needs
    * once a tokenizer exists: per-document token counts under the
    * TRAINED merge table, not the whitespace proxy. The corpus is never
    * re-tokenized row by row: the DISTINCT vocabulary re-tokenizes once
    * under the replayed merges ([[bpeWordTokens]] — vocabulary-bounded,
    * cached like every trained artifact), and documents get their
    * counts back through one (doc_id, word) aggregation joined to that
    * table — the standard apply shape at 100 TB, where the vocab join
    * is AQE-broadcast and everything else is map-side combinable.
    * Output (n_words vs n_bpe_tokens) is all-integer; the compression
    * each merge buys is the difference, hash-checked per doc against a
    * DuckDB replay of training AND application. */
  val docTokenizeBpe = OracleQuery(
    "doc_tokenize_bpe",
    (s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
        .filter(col("word") =!= "")
        .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("cnt"))
        .join(bpeWordTokens(s, d), "word")
        .groupBy(col("doc_id"))
        .agg(sum(col("cnt")).as("n_words"),
          sum(col("cnt") * col("n_tok")).as("n_bpe_tokens"))
        .orderBy(col("doc_id"))
    },
    Some(s"""$bpeSqlChain,
       |wtok AS (
       |  SELECT word, CAST(len(syms) AS BIGINT) AS n_tok FROM s3
       |),
       |dw AS (
       |  SELECT doc_id, word, CAST(count(*) AS BIGINT) AS cnt FROM (
       |    SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
       |  ) WHERE word <> '' GROUP BY doc_id, word
       |)
       |SELECT dw.doc_id, CAST(sum(dw.cnt) AS BIGINT) AS n_words,
       |       CAST(sum(dw.cnt * wtok.n_tok) AS BIGINT) AS n_bpe_tokens
       |FROM dw JOIN wtok USING (word)
       |GROUP BY dw.doc_id ORDER BY dw.doc_id""".stripMargin))

  /** Tokenizer FERTILITY per language — BPE tokens emitted per
    * whitespace word, the first number a multilingual tokenizer report
    * states (a language the merges underserve pays its training budget
    * in fragments). Reuses the trained-and-cached [[bpeWordTokens]]
    * table, so this is ONE more rollup over frames that already exist:
    * the (lang, word) counts aggregate combinably, join the
    * vocabulary-bounded token table, and collapse to |langs| rows;
    * fertility is two exact BIGINTs through one IEEE division. The
    * oracle replays training AND application through the same
    * [[bpeSqlChain]] as the other BPE rows. */
  val tokenizerFertility = OracleQuery(
    "tokenizer_fertility",
    (s, d) => {
      Tables.documents(s, d)
        .select(col("lang"), explode(split(col("text"), " ")).as("word"))
        .filter(col("word") =!= "")
        .groupBy(col("lang"), col("word")).agg(count(lit(1)).as("cnt"))
        .join(bpeWordTokens(s, d), "word")
        .groupBy(col("lang"))
        .agg(sum(col("cnt")).as("n_words"),
          sum(col("cnt") * col("n_tok")).as("n_bpe_tokens"))
        .withColumn("fertility",
          col("n_bpe_tokens").cast("double") / col("n_words").cast("double"))
        .orderBy(col("lang"))
    },
    Some(s"""$bpeSqlChain,
       |wtok AS (
       |  SELECT word, CAST(len(syms) AS BIGINT) AS n_tok FROM s3
       |),
       |lw AS (
       |  SELECT lang, word, CAST(count(*) AS BIGINT) AS cnt FROM (
       |    SELECT lang, unnest(string_split(text, ' ')) AS word FROM documents
       |  ) WHERE word <> '' GROUP BY lang, word
       |)
       |SELECT lang, CAST(sum(lw.cnt) AS BIGINT) AS n_words,
       |       CAST(sum(lw.cnt * wtok.n_tok) AS BIGINT) AS n_bpe_tokens,
       |       CAST(sum(lw.cnt * wtok.n_tok) AS DOUBLE)
       |         / CAST(sum(lw.cnt) AS DOUBLE) AS fertility
       |FROM lw JOIN wtok USING (word)
       |GROUP BY lang ORDER BY lang""".stripMargin))

  /** KNOWN-ITEM RETRIEVAL EVALUATION (MRR) — the quality gate for the
    * lexical leg that [[textBm25]]/[[textRrfHybrid]] leave unmeasured
    * (the ANN leg has `sim_knn_recall`/`sim_recall_report`): every
    * 25th document becomes a known-item probe — its 2 RAREST 3-gram
    * shingles (corpus df ascending, tie → shingle) stand in for the
    * phrase fragments a user remembers (unigrams cannot probe this
    * corpus: its vocabulary is ~31 tokens, so every token is near-
    * universal; the shingle space is discriminative, median rarest-
    * shingle df = 1) — the corpus is ranked by a rational-idf match
    * score and the probe reports its source document's rank and
    * reciprocal rank. Mean of `rr` IS the suite's MRR; a retrieval
    * regression (postings bug, scoring inversion) moves ranks and
    * fails the hash gate, and near-duplicate copies visibly steal
    * rank-1 — the realistic failure mode a dedup-then-index pipeline
    * exists to prevent. Scoring is integer-exact:
    * score = Σ_s ⌊n_docs·1000 / df_s⌋ over the probe's shingles
    * present in the candidate (the [[textBm25]] rational-idf device
    * without tf/length smoothing); `rr` is the one IEEE division.
    *
    * Scale shape: probes select by key residue (map-side); candidate
    * pull is a posting join on the probes' RARE shingles, so each
    * probe's candidate set is df-bounded (rare → short lists); the
    * per-probe rank window runs over those bounded sets. One distinct
    * (doc, shingle) pair frame (native [[graft.functions.ShinglesK]]
    * kernel, corpus exploded once) feeds everything. */
  val knownItemMrr = OracleQuery(
    "text_known_item_mrr",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.GraftColumns.{columnOf, expressionOf}
      val sh3 = columnOf(graft.functions.ShinglesK(expressionOf(col("text")), 3))
      val pairs = Tables.documents(s, d)
        .select(col("doc_id"), explode(array_distinct(sh3)).as("sh"))
      val df = pairs.groupBy(col("sh")).agg(count(lit(1)).as("df"))
      val nDocs = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
      val wRare = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("sh"))
      val qt = pairs.filter(col("doc_id") % 25 === 0)
        .join(df, "sh")
        .withColumn("rn", row_number().over(wRare))
        .filter(col("rn") <= 2)
        .select(col("doc_id").as("probe_id"), col("sh"), col("df"))
      val cand = qt
        .join(pairs.select(col("doc_id").as("cand_id"), col("sh")), "sh")
        // bound: a one-row aggregate
        .crossJoin(broadcast(nDocs))
        .groupBy(col("probe_id"), col("cand_id"))
        .agg(sum(expr("(n_docs * 1000) div df")).as("score"),
          count(lit(1)).as("n_terms_hit"))
      val wRank = Window.partitionBy(col("probe_id"))
        .orderBy(col("score").desc, col("cand_id"))
      cand.withColumn("rank", row_number().over(wRank))
        .filter(col("cand_id") === col("probe_id"))
        .select(col("probe_id"), col("n_terms_hit"), col("rank"),
          (lit(1.0) / col("rank").cast("double")).as("rr"))
        .orderBy(col("probe_id"))
    },
    Some("""WITH pairs AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(
      |           generate_series(1, greatest(len(w) - 2, 1)),
      |           i -> concat_ws(' ', w[i], w[i+1], w[i+2])))) AS sh
      |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
      |), df AS (
      |  SELECT sh, CAST(count(*) AS BIGINT) AS df FROM pairs GROUP BY sh
      |), nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents
      |), qt AS (
      |  SELECT doc_id AS probe_id, sh, df FROM (
      |    SELECT p.doc_id, p.sh, df.df,
      |           row_number() OVER (PARTITION BY p.doc_id
      |                              ORDER BY df.df, p.sh) AS rn
      |    FROM pairs p JOIN df USING (sh)
      |    WHERE p.doc_id % 25 = 0)
      |  WHERE rn <= 2
      |), cand AS (
      |  SELECT q.probe_id, p.doc_id AS cand_id,
      |         CAST(sum((nd.n_docs * 1000) // q.df) AS BIGINT) AS score,
      |         CAST(count(*) AS BIGINT) AS n_terms_hit
      |  FROM qt q JOIN pairs p USING (sh) CROSS JOIN nd
      |  GROUP BY 1, 2
      |)
      |SELECT probe_id, n_terms_hit, rank, CAST(1 AS DOUBLE) / rank AS rr FROM (
      |  SELECT probe_id, cand_id, n_terms_hit,
      |         row_number() OVER (PARTITION BY probe_id
      |                            ORDER BY score DESC, cand_id) AS rank
      |  FROM cand)
      |WHERE cand_id = probe_id
      |ORDER BY probe_id""".stripMargin))

  val all: Seq[OracleQuery] =
    Seq(textBm25, textRrfHybrid, textRank, bpeMerges, docTokenizeBpe,
      tokenizerFertility, knownItemMrr)
}
