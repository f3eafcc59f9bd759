package graft.operators

import org.apache.spark.sql.GraftLineage
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Dataset-curation operators a training-data pipeline needs at scale:
  * deterministic sampling, split assignment, and per-group top-k. All
  * decisions hash on stable keys (first hex chars of md5 — identical
  * text on every engine and every run, no RNG state), so a 100 TB job
  * can be re-run, resumed, or audited with identical membership; all
  * three are map-side except the final presentation sort / one window.
  */
object Sampling {

  /** Deterministic 25% sample: first hex char of md5(doc_id) in 0-3.
    * Membership is a pure function of the key — no seed plumbing, no
    * sampleBy state, stable under re-runs and cluster re-sizing. */
  val sampleHash = OracleQuery(
    "sample_hash",
    (s, d) =>
      Tables.documents(s, d)
        .filter(substring(md5(col("doc_id").cast("string")), 1, 1).isin("0", "1", "2", "3"))
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id")),
    Some("""SELECT doc_id, lang, n_chars
      |FROM documents
      |WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0', '1', '2', '3')
      |ORDER BY doc_id""".stripMargin))

  /** Deterministic train/val/test split (12/2/2 sixteenths by the first
    * hex char of md5(doc_id)), reported as per-language counts — the
    * audit query of a split manifest. */
  val datasetSplit = OracleQuery(
    "dataset_split",
    (s, d) => {
      val h = substring(md5(col("doc_id").cast("string")), 1, 1)
      Tables.documents(s, d)
        .withColumn("split",
          when(h.isin("c", "d"), "val").when(h.isin("e", "f"), "test").otherwise("train"))
        .groupBy(col("lang"), col("split"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("lang"), col("split"))
    },
    Some("""SELECT lang, split, CAST(count(*) AS BIGINT) AS n FROM (
      |  SELECT lang,
      |         CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('c', 'd') THEN 'val'
      |              WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('e', 'f') THEN 'test'
      |              ELSE 'train' END AS split
      |  FROM documents)
      |GROUP BY lang, split
      |ORDER BY lang, split""".stripMargin))

  /** Top-2 longest documents per language: one shuffle on the group key,
    * rank inside the partition — the grouped twin of the global top-k
    * (`topk_orders`' TakeOrdered). */
  val topkPerGroup = OracleQuery(
    "topk_per_group",
    (s, d) => {
      val w = Window.partitionBy(col("lang")).orderBy(col("n_chars").desc, col("doc_id"))
      Tables.documents(s, d)
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 2)
        .select(col("lang"), col("rk"), col("doc_id"), col("n_chars"))
        .orderBy(col("lang"), col("rk"))
    },
    Some("""SELECT lang, rk, doc_id, n_chars FROM (
      |  SELECT lang, doc_id, n_chars,
      |         row_number() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id) AS rk
      |  FROM documents)
      |WHERE rk <= 2
      |ORDER BY lang, rk""".stripMargin))

  /** Sequence packing (pretraining-style document concatenation): within
    * each (language, shard) stream, docs concatenate in doc_id order and
    * the stream is cut into fixed 256-token training windows; each doc
    * reports its stream offset and the window its first token lands in.
    * Scale shape: the running sum partitions by (lang, shard) where
    * shard = doc_id div 100k — packing is a per-shard sequential
    * decision, so parallelism scales with corpus size (a corpus of 10¹⁰
    * docs packs over ~10⁵ independent streams per language) instead of
    * being capped at |languages| reducers, and no stream ever serializes
    * the whole corpus through one partition. Shard-local packing is how
    * production pipelines keep this parallel; each shard's windows are a
    * self-contained training file. */
  /** Packing parameters shared with the composed [[Pipeline.curate]] —
    * one definition so a retune cannot desynchronize the two. */
  val PackBudget = 256L
  val ShardDocs = 100000L

  /** The packed stream (lang, shard, doc_id, n_tokens, start_offset,
    * seq_id) without the presentation sort — shared by
    * [[sequencePacking]] and [[packEfficiency]] so the packing decision
    * cannot drift between the assignment and its efficiency report. */
  private def packedFrame(s: org.apache.spark.sql.SparkSession, d: String) = {
    val w = Window.partitionBy(col("lang"), col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow - 1)
    Tables.documents(s, d)
      .withColumn("shard", expr(s"doc_id div $ShardDocs"))
      .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
      .withColumn("start_offset", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(col("lang"), col("shard"), col("doc_id"), col("n_tokens"),
        col("start_offset"),
        (col("start_offset") / PackBudget).cast("long").as("seq_id"))
  }

  val sequencePacking = {
    val budget = PackBudget
    val shardDocs = ShardDocs
    OracleQuery(
      "sequence_packing",
      (s, d) => packedFrame(s, d)
        .orderBy(col("lang"), col("shard"), col("doc_id")),
      Some(s"""SELECT lang, shard, doc_id, n_tokens, start_offset,
        |       CAST(floor(start_offset / $budget) AS BIGINT) AS seq_id
        |FROM (
        |  SELECT lang, shard, doc_id, n_tokens,
        |         CAST(COALESCE(SUM(n_tokens) OVER (
        |           PARTITION BY lang, shard ORDER BY doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_offset
        |  FROM (
        |    SELECT lang, doc_id // $shardDocs AS shard, doc_id,
        |           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |    FROM documents))
        |ORDER BY lang, shard, doc_id""".stripMargin))
  }

  /** Packing-efficiency report — the metric a packing strategy is
    * judged by: per (lang, shard) stream, how full the fixed
    * [[PackBudget]]-token training windows actually are
    * (`util_pct` = filled / capacity of the ceil(total/budget) windows
    * the stream occupies) and how many documents the window grid CUTS
    * across a boundary (`n_docs_cut` — each cut doc costs attention
    * span at train time). Everything is integer arithmetic — counts,
    * integer division, a ×100 scaled percentage — so the report
    * hash-matches bit-for-bit with no float policy needed.
    *
    * Scale shape: one aggregation over the packed stream keyed by the
    * same (lang, shard) the packing window already partitions by — the
    * exchange is REUSED from the window stage (no second shuffle;
    * shard-local sums are map-side after the sort), and the report is
    * |streams| rows, broadcast-size at any corpus. */
  val packEfficiency = OracleQuery(
    "pack_efficiency",
    (s, d) => {
      val b = PackBudget
      packedFrame(s, d)
        .withColumn("cut",
          expr(s"CAST((start_offset div $b) <> ((start_offset + n_tokens - 1) div $b) AS INT)"))
        .groupBy(col("lang"), col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"),
          sum(col("cut").cast("long")).as("n_docs_cut"))
        .withColumn("n_seqs", expr(s"(total_tokens + ${b - 1}) div $b"))
        .withColumn("util_pct", expr(s"(total_tokens * 100) div (n_seqs * $b)"))
        .select(col("lang"), col("shard"), col("n_docs"), col("total_tokens"),
          col("n_seqs"), col("util_pct"), col("n_docs_cut"))
        .orderBy(col("lang"), col("shard"))
    },
    Some {
      val b = PackBudget
      s"""WITH packed AS (
        |  SELECT lang, shard, doc_id, n_tokens,
        |         CAST(COALESCE(SUM(n_tokens) OVER (
        |           PARTITION BY lang, shard ORDER BY doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_offset
        |  FROM (
        |    SELECT lang, doc_id // $ShardDocs AS shard, doc_id,
        |           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |    FROM documents)
        |), agg AS (
        |  SELECT lang, shard,
        |         CAST(count(*) AS BIGINT) AS n_docs,
        |         CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        |         CAST(sum(CAST(start_offset // $b <> (start_offset + n_tokens - 1) // $b AS INT)) AS BIGINT)
        |           AS n_docs_cut
        |  FROM packed GROUP BY lang, shard
        |)
        |SELECT lang, shard, n_docs, total_tokens,
        |       (total_tokens + ${b - 1}) // $b AS n_seqs,
        |       (total_tokens * 100) // (((total_tokens + ${b - 1}) // $b) * $b) AS util_pct,
        |       n_docs_cut
        |FROM agg ORDER BY lang, shard""".stripMargin
    })

  /** Temperature-reweighted stratified sampling (the multilingual
    * training-mixture op): per-language acceptance rate ∝ n_lang^(-1/2)
    * (temperature τ=0.5), normalized so the smallest language keeps
    * everything — upsampling-free downsampling toward a flatter mixture.
    * Membership stays a pure hash function: doc accepted iff its first 6
    * md5 hex chars fall below the language's INTEGER threshold
    * floor(√(min_n/n_lang)·16⁶), compared as zero-padded hex strings —
    * no float survives into the row decision, so both engines agree
    * bit-for-bit. Scale shape: the per-language rate table is a
    * broadcast (|languages| rows), the membership filter is map-side,
    * and the audit aggregate map-side combines — one tiny shuffle for
    * the rate table, one for the final counts. */
  /** Per-language (n_lang, min_n, thr) rate table from per-language
    * counts — the τ=0.5 temperature thresholds, shared with the composed
    * pipeline so the mixture stage cannot drift from the standalone
    * sampler. */
  private[operators] def stratRates(counts: org.apache.spark.sql.DataFrame) =
    // global min over the |languages|-row frame in the same pass that
    // carries the rows (see [[FrameOps.withGlobalStats]] for why not a
    // window and not a crossJoin)
    FrameOps.withGlobalStats(counts, "min_n" -> min(col("n_lang")))
      .withColumn("thr",
        floor(sqrt(col("min_n").cast("double") / col("n_lang").cast("double"))
          * 16777216.0).cast("long"))

  /** Membership predicate against the rate table's columns. */
  private[operators] def stratAccept: org.apache.spark.sql.Column =
    col("n_lang") === col("min_n") ||
      substring(md5(col("doc_id").cast("string")), 1, 6) <
        format_string("%06x", col("thr"))

  /** DuckDB twin of [[stratRates]] over a `counts(lang, n_lang)` CTE. */
  private[operators] val stratRatesSql =
    """SELECT lang, n_lang, min(n_lang) OVER () AS min_n,
      |         CAST(floor(sqrt(CAST(min(n_lang) OVER () AS DOUBLE)
      |           / CAST(n_lang AS DOUBLE)) * 16777216.0) AS BIGINT) AS thr
      |  FROM counts""".stripMargin

  /** DuckDB twin of [[stratAccept]] for a doc aliased `d` joined to a
    * rate row aliased `r`. */
  private[operators] val stratAcceptSql =
    """(r.n_lang = r.min_n
      |   OR substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 6) < printf('%06x', r.thr))""".stripMargin

  val sampleStratified = OracleQuery(
    "sample_stratified",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_lang"))
      val rates = stratRates(counts)
      // bound: one row per language (closed vocabulary)
      docs.join(broadcast(rates), "lang")
        .filter(stratAccept)
        .groupBy(col("lang"), col("n_lang"), col("thr"))
        .agg(count(lit(1)).as("n_sampled"))
        .orderBy(col("lang"))
    },
    Some(s"""WITH counts AS (
      |  SELECT lang, CAST(count(*) AS BIGINT) AS n_lang FROM documents GROUP BY lang
      |), rates AS (
      |  $stratRatesSql
      |)
      |SELECT d.lang, r.n_lang, r.thr, CAST(count(*) AS BIGINT) AS n_sampled
      |FROM documents d JOIN rates r ON d.lang = r.lang
      |WHERE $stratAcceptSql
      |GROUP BY 1, 2, 3
      |ORDER BY d.lang""".stripMargin))

  /** Token-budget sampling: take documents per language, in a
    * deterministic order, until each language's running token total
    * fills its budget — how a training mixture is actually drawn once
    * per-language token QUOTAS (not doc counts) are fixed. One window
    * per language partition (the same (lang)-keyed shuffle class as
    * packing); the inclusive running sum makes "the doc that crosses
    * the line" the last one in, which both engines agree on exactly
    * since the sums are BIGINTs. */
  val TokenBudget = 1000L

  val sampleBudget = OracleQuery(
    "sample_token_budget",
    (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang")).orderBy(col("doc_id"))
      graft.Tables.documents(s, d)
        .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
        .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
        .filter(col("cum_tokens") <= TokenBudget)
        .select(col("lang"), col("doc_id"), col("n_tokens"), col("cum_tokens"))
        .orderBy(col("lang"), col("doc_id"))
    },
    Some(s"""SELECT lang, doc_id, n_tokens, cum_tokens FROM (
      |  SELECT lang, doc_id, n_tokens,
      |         CAST(sum(n_tokens) OVER (
      |           PARTITION BY lang ORDER BY doc_id) AS BIGINT) AS cum_tokens
      |  FROM (
      |    SELECT lang, doc_id,
      |           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |    FROM documents))
      |WHERE cum_tokens <= $TokenBudget
      |ORDER BY lang, doc_id""".stripMargin))

  /** The target domain for importance scoring and how many docs the
    * selection keeps — fixture stand-ins for "the high-quality corpus
    * you want more of" and the selection budget. */
  val ImportanceTarget = "src0"
  val ImportanceTopN = 100

  /** DSIR-style importance scoring over hashed n-gram features (Xie et
    * al. 2023, "Data Selection for Language Models via Importance
    * Resampling"): every 2-word shingle hashes into one of 256 buckets
    * (first 2 hex chars of md5 — the same engine-stable feature hash the
    * sampling family uses), a doc's score is the inner product of its
    * bucket-count profile with the TARGET corpus's bucket histogram,
    * normalized by the doc's shingle count; the top-[[ImportanceTopN]]
    * docs by (importance, doc_id) are the selected mixture. The integer
    * form keeps oracle parity exact: counts are BIGINTs end-to-end with
    * ONE final double division on identical inputs (DSIR's log-ratio
    * weights reduce to this monotone inner-product form when the raw
    * distribution is near-uniform over buckets — and log is the one op
    * the parity rules ban).
    *
    * Scale shape: one map-side-combinable (doc_id, bucket) count
    * shuffle — the bucket space is CONSTANT (256), so the target
    * histogram is a broadcast-size frame at ANY corpus size, and no
    * stage ever shuffles text. */
  val sampleImportance = OracleQuery(
    "sample_importance",
    (s, d) => {
      // the shared shingle pair frame serves BOTH sides (the target
      // histogram is a rollup of the per-doc bucket counts, not a
      // second scan) — and the explode itself is shared with the other
      // shingle-profile consumers via TextOps.shinglePairs
      // the per-doc bucket profile materializes once (r21, guide
      // §2.4/§5): the target histogram and the scoring pass otherwise
      // each re-plan the md5+groupBy over the cached shingle pair
      // frame; the profile is ≤ |docs|·256 rows
      val docBuckets = GraftLineage.cut(TextOps.shinglePairs(s, d)
        .select(col("doc_id"), col("source"),
          substring(md5(col("sh")), 1, 2).as("b"), col("k"))
        .groupBy(col("doc_id"), col("source"), col("b"))
        .agg(sum(col("k")).as("c")), eager = true)
      val target = docBuckets.filter(col("source") === ImportanceTarget)
        .groupBy(col("b")).agg(sum(col("c")).as("t"))
      docBuckets
        // bound: 256 buckets (two hex digits of md5)
        .join(broadcast(target), Seq("b"), "left")
        .groupBy(col("doc_id"), col("source"))
        .agg(sum(col("c") * coalesce(col("t"), lit(0L))).as("affinity"),
          sum(col("c")).as("n_shingles"))
        .withColumn("importance",
          col("affinity").cast("double") / col("n_shingles").cast("double"))
        .orderBy(col("importance").desc, col("doc_id"))
        .limit(ImportanceTopN)
        .select(col("doc_id"), col("source"), col("affinity"),
          col("n_shingles"), col("importance"))
    },
    Some(s"""WITH occ AS (
      |  SELECT doc_id, source, substring(md5(sh), 1, 2) AS b FROM (
      |    SELECT doc_id, source, unnest(list_transform(
      |             generate_series(1, greatest(len(w) - 1, 1)),
      |             i -> concat_ws(' ', w[i], w[i+1]))) AS sh
      |    FROM (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents))
      |), db AS (
      |  SELECT doc_id, source, b, CAST(count(*) AS BIGINT) AS c
      |  FROM occ GROUP BY 1, 2, 3
      |), target AS (
      |  SELECT b, CAST(sum(c) AS BIGINT) AS t FROM db
      |  WHERE source = '$ImportanceTarget' GROUP BY b
      |)
      |SELECT doc_id, source, affinity, n_shingles,
      |       CAST(affinity AS DOUBLE) / CAST(n_shingles AS DOUBLE) AS importance
      |FROM (
      |  SELECT db.doc_id, db.source,
      |         CAST(sum(db.c * COALESCE(t.t, 0)) AS BIGINT) AS affinity,
      |         CAST(sum(db.c) AS BIGINT) AS n_shingles
      |  FROM db LEFT JOIN target t ON t.b = db.b
      |  GROUP BY 1, 2)
      |ORDER BY importance DESC, doc_id
      |LIMIT $ImportanceTopN""".stripMargin))

  /** Global token budget and repeat cap for the mixture allocator —
    * fixture-sized stand-ins for the training-run token budget and the
    * "no source repeats more than N epochs" curation rule. */
  val MixBudget = 20000L
  val MixMaxEpochs = 4L

  /** UniMax-style temperature mixture ALLOCATION (Chung et al. 2023):
    * given per-source token counts, a global token budget, and a repeat
    * cap, emit each source's mixing weight and token quota under
    * temperature τ=0.5. Where [[sampleStratified]] decides per-DOC
    * membership, this is the PLANNING table a mixture run is driven
    * from: quota_s ∝ √n_s (up-weights small sources without letting the
    * largest swamp the mix), then capped at [[MixMaxEpochs]] epochs of
    * the source so a tiny source is repeated at most N times.
    *
    * Arithmetic is integer-exact for oracle parity: the τ=0.5 weight is
    * floor(√n_s) as a BIGINT — IEEE `sqrt` is correctly rounded and n_s
    * is far below 2⁵³, so floor(sqrt(n)) is bit-portable — and quotas
    * are one integer multiply-divide against the integer weight total.
    * No floating sum ever forms (a Σ√n̂ of doubles would hang parity on
    * engine-internal window-sum order; the isqrt weights change the
    * allocation by < 1 part in √n while making it exact).
    *
    * Scale shape: per-source token counts are one map-side-combinable
    * aggregate off the corpus scan; everything after operates on a
    * |sources|-row frame (broadcast-size at any corpus scale) — the
    * weight total is a window over that tiny frame, never a second
    * corpus pass. */
  val sampleTemperature = OracleQuery(
    "sample_temperature",
    (s, d) => {
      val counts = Tables.documents(s, d)
        .select(col("source"), size(split(col("text"), " ")).cast("long").as("nt"))
        .groupBy(col("source")).agg(sum(col("nt")).as("n_tokens"))
      // the weight total rides the aggregate that collects the
      // |sources|-row frame ([[FrameOps.withGlobalStats]])
      FrameOps.withGlobalStats(
        counts.withColumn("w",
          floor(sqrt(col("n_tokens").cast("double"))).cast("long")),
        "wtot" -> sum(col("w")))
        .withColumn("quota", expr(s"(w * ${MixBudget}L) div wtot"))
        .withColumn("capped_quota",
          least(col("quota"), col("n_tokens") * MixMaxEpochs))
        .withColumn("epochs_pct",
          expr("(capped_quota * 100L) div n_tokens"))
        .select(col("source"), col("n_tokens"), col("w"), col("quota"),
          col("capped_quota"), col("epochs_pct"))
        .orderBy(col("source"))
    },
    Some(s"""WITH counts AS (
      |  SELECT source, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY source
      |), wts AS (
      |  SELECT source, n_tokens,
      |         CAST(floor(sqrt(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS w
      |  FROM counts
      |), tot AS (SELECT CAST(sum(w) AS BIGINT) AS wtot FROM wts)
      |SELECT source, n_tokens, w,
      |       (w * $MixBudget) // wtot AS quota,
      |       least((w * $MixBudget) // wtot, n_tokens * $MixMaxEpochs) AS capped_quota,
      |       (least((w * $MixBudget) // wtot, n_tokens * $MixMaxEpochs) * 100)
      |         // n_tokens AS epochs_pct
      |FROM wts, tot ORDER BY source""".stripMargin))

  /** DUPLICATION-AWARE SOFT SAMPLING — instead of [[graft.operators.Dedup]]'s
    * hard keep-one-per-cluster, keep each member of a duplicate family
    * with probability 1/dup_count, flattening the duplication
    * distribution while letting popular content retain proportional-to-
    * one representation (the soft-dedup curation policy: hard dedup
    * deletes the popularity signal, no dedup lets it dominate the
    * mixture). The family key is the HEAD FINGERPRINT — md5 of the
    * first 80 characters — the lead-dup key that groups syndicated/
    * retitled copies sharing an opening (the same template-prefix
    * phenomenon [[graft.operators.TextOps.boilerplate]] measures);
    * byte-exact md5(text) degenerates to all-kept on a corpus with no
    * identical copies, which this report would make visible as a single
    * dup_count=1 row. The coin is the deterministic engine rule — keep
    * iff md5-prefix-60("soft:" + doc_id) mod dup_count = 0 — a pure
    * function of the key, so membership is stable under re-runs and
    * both engines replay the same decisions; the report aggregates per
    * dup_count (docs seen, docs kept, the 1/dup_count target) so every
    * coin flip is hash-checked through the counts.
    *
    * Scale shape: one map-combinable groupBy on the head fingerprint
    * for sizes, one fingerprint-keyed join back (AQE-splittable when a
    * viral doc skews the key), one bounded aggregate over |distinct
    * dup sizes| rows. */
  val sampleSoftDedup = OracleQuery(
    "sample_soft_dedup",
    (s, d) => {
      import org.apache.spark.sql.GraftColumns.{columnOf, expressionOf}
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), md5(substring(col("text"), 1, 80)).as("fp"))
      val sizes = docs.groupBy(col("fp")).agg(count(lit(1)).as("dup_count"))
      docs.join(sizes, "fp")
        .withColumn("h", columnOf(graft.functions.Md5Prefix64(expressionOf(
          concat(lit("soft:"), col("doc_id").cast("string"))))))
        .withColumn("kept", (pmod(col("h"), col("dup_count")) === 0).cast("long"))
        .groupBy(col("dup_count"))
        .agg(count(lit(1)).as("n_docs"), sum(col("kept")).as("n_kept"))
        .withColumn("target_ratio",
          lit(1.0) / col("dup_count").cast("double"))
        .orderBy(col("dup_count"))
    },
    Some("""WITH docs AS (
      |  SELECT doc_id, md5(substring(text, 1, 80)) AS fp FROM documents
      |), sizes AS (
      |  SELECT fp, CAST(count(*) AS BIGINT) AS dup_count FROM docs GROUP BY 1
      |), coins AS (
      |  SELECT s.dup_count,
      |         CASE WHEN CAST(concat('0x',
      |                substring(md5('soft:' || CAST(d.doc_id AS VARCHAR)), 1, 15))
      |              AS BIGINT) % s.dup_count = 0 THEN 1 ELSE 0 END AS kept
      |  FROM docs d JOIN sizes s USING (fp)
      |)
      |SELECT dup_count, CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(sum(kept) AS BIGINT) AS n_kept,
      |       CAST(1 AS DOUBLE) / CAST(dup_count AS DOUBLE) AS target_ratio
      |FROM coins GROUP BY dup_count ORDER BY dup_count""".stripMargin))

  val all: Seq[OracleQuery] =
    Seq(sampleHash, datasetSplit, topkPerGroup, sequencePacking, packEfficiency,
      sampleStratified, sampleBudget, sampleImportance, sampleTemperature,
      sampleSoftDedup)
}
