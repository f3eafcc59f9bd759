package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Text-analysis operators for the LLM-data-pipeline surface (north-star
  * extension, BASELINE.json): quality scoring, language-ID heuristic,
  * token counting (whitespace + BPE-ish regex), document fingerprinting.
  * All pure `Column` expressions over the `documents` table — codegen'd,
  * shuffle-free (per-row), so they scale linearly at 100 TB.
  */
object TextOps {

  /** Whitespace tokens of the `text` column. */
  def tokens(text: Column): Column = split(text, " ")

  /** BPE-ish pre-tokenizer regex: letter runs | digit runs | single
    * non-alphanumeric. Same class semantics in Java regex and RE2. */
  val BpeTokenRegex = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"

  /** The stopword set shared by every operator that measures stopword
    * density ([[textStats]], [[qualityFilter]]) — one definition so a
    * list change cannot silently diverge the published signals. */
  val StopWords: Seq[String] = Seq("the", "a")

  /** Quality-gate thresholds shared by [[qualityFilter]] and the
    * composed [[Pipeline.curate]] — one definition so a retune cannot
    * desynchronize the standalone verdict from the pipeline's filter. */
  val MinTokens = 20L
  val MaxDupRatio = 0.05
  val MinStopwordRatio = 0.01

  /** [n_tokens, n_2grams, n_uniq_2grams] of the `text` column via the
    * native [[graft.functions.Kernels.gram2Stats]] kernel — shared by
    * [[repetition]], [[qualityFilter]] and the composed pipeline so the
    * duplicate-2-gram signal and every consumer measure the same thing.
    * The composed `transform(sequence(...))` + `array_distinct` form is
    * an interpreted HOF costing ~ms per row — a 100 TB quality-gate
    * bottleneck (and invisible to `count()`-based benching, which prunes
    * unfiltered projections). */
  private[operators] def gramStats: Column = {
    graft.functions.Kernels.gram2Stats(col("text"))
  }

  /** Stopword occurrences of `text` via the native
    * [[graft.functions.Kernels.tokenSetCount]] kernel (replaces the interpreted
    * `size(filter(w, _.isin(...)))` HOF). */
  private[operators] def stopwordCount: Column = {
    graft.functions.Kernels.tokenSetCount(col("text") +: StopWords.map(lit): _*)
  }

  // --------------------------------------------------------------- queries

  /** Per-doc quality metrics: token count, distinct tokens, avg token
    * length (exact double division), stopword ratio. */
  val textStats = OracleQuery(
    "text_stats",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val t = tokens(col("text"))
      docs.select(
          col("doc_id"),
          col("n_chars"),
          length(col("text")).cast("long").as("len_chars"),
          size(t).cast("long").as("n_tokens"),
          size(array_distinct(t)).cast("long").as("n_uniq_tokens"),
          ((length(col("text")) - size(t) + 1).cast("double") / size(t).cast("double"))
            .as("avg_token_len"),
          (stopwordCount.cast("double") / size(t).cast("double"))
            .as("stopword_ratio"))
        .orderBy(col("doc_id"))
    },
    Some("""SELECT doc_id, n_chars,
      |  CAST(length(text) AS BIGINT) AS len_chars,
      |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      |  CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_uniq_tokens,
      |  CAST(length(text) - len(string_split(text, ' ')) + 1 AS DOUBLE) / CAST(len(string_split(text, ' ')) AS DOUBLE) AS avg_token_len,
      |  CAST(len(list_filter(string_split(text, ' '), w -> w IN ('the', 'a'))) AS DOUBLE) / CAST(len(string_split(text, ' ')) AS DOUBLE) AS stopword_ratio
      |FROM documents ORDER BY doc_id""".stripMargin))

  /** Language-ID heuristic: stopword-marker hit counts per language with a
    * deterministic argmax (ties broken by fixed language order). */
  val langId = {
    val markers: Seq[(String, Seq[String])] = Seq(
      "en" -> Seq("the", "a", "and", "of"),
      "es" -> Seq("el", "la", "los", "y"),
      "de" -> Seq("der", "die", "das", "und"),
      "fr" -> Seq("le", "les", "et", "une"))
    OracleQuery(
      "lang_id",
      (s, d) => {
        val scored = markers.foldLeft(Tables.documents(s, d)) { case (df, (lang, ws)) =>
          df.withColumn(s"c_$lang",
            graft.functions.Kernels.tokenSetCount(col("text") +: ws.map(lit): _*))
        }
        val best = markers.map(_._1).foldRight(lit("und")) { case (lang, acc) =>
          when(col(s"c_$lang") > 0 &&
            markers.map(_._1).filter(_ < lang).map(l2 => col(s"c_$lang") > col(s"c_$l2"))
              .foldLeft(lit(true))(_ && _) &&
            markers.map(_._1).filter(_ > lang).map(l2 => col(s"c_$lang") >= col(s"c_$l2"))
              .foldLeft(lit(true))(_ && _),
            lit(lang)).otherwise(acc)
        }
        scored.select(col("doc_id"), col("lang"), best.as("predicted_lang"))
          .withColumn("is_match", (col("lang") === col("predicted_lang")).cast("int"))
          .orderBy(col("doc_id"))
      }, {
        val cnts = markers.map { case (lang, ws) =>
          val in = ws.map(w => s"'$w'").mkString(", ")
          s"CAST(len(list_filter(string_split(text, ' '), w -> w IN ($in))) AS BIGINT) AS c_$lang"
        }.mkString(",\n  ")
        val langs = markers.map(_._1)
        val best = langs.foldRight("'und'") { case (lang, acc) =>
          val beatsEarlier = langs.filter(_ < lang).map(l2 => s"c_$lang > c_$l2")
          val tiesLater = langs.filter(_ > lang).map(l2 => s"c_$lang >= c_$l2")
          val conds = (s"c_$lang > 0" +: (beatsEarlier ++ tiesLater)).mkString(" AND ")
          s"CASE WHEN $conds THEN '$lang' ELSE $acc END"
        }
        Some(s"""WITH scored AS (SELECT doc_id, lang,
          |  $cnts
          |FROM documents)
          |SELECT doc_id, lang, predicted_lang,
          |       CAST(lang = predicted_lang AS INT) AS is_match
          |FROM (SELECT doc_id, lang, $best AS predicted_lang FROM scored)
          |ORDER BY doc_id""".stripMargin)
      })
  }

  /** Token counting: whitespace count vs BPE-ish regex count. */
  val tokenCount = OracleQuery(
    "token_count",
    (s, d) =>
      Tables.documents(s, d).select(
          col("doc_id"),
          size(tokens(col("text"))).cast("long").as("ws_tokens"),
          size(regexp_extract_all(col("text"), lit(BpeTokenRegex), lit(0))).cast("long")
            .as("bpe_tokens"))
        .orderBy(col("doc_id")),
    Some(s"""SELECT doc_id,
      |  CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
      |  CAST(len(regexp_extract_all(text, '$BpeTokenRegex')) AS BIGINT) AS bpe_tokens
      |FROM documents ORDER BY doc_id""".stripMargin))

  /** Document fingerprints: exact md5 + min-shingle fingerprint
    * (winnowing-style: min over md5 of 5-word shingles). The shingle min
    * is the [[graft.functions.Kernels.minShingleFp]] native kernel — one md5 per
    * shingle in a compiled loop, vs the composed `transform`-of-md5 +
    * `array_min` form that evaluates interpreted with an intermediate
    * array per doc. */
  val fingerprint = OracleQuery(
    "doc_fingerprint",
    (s, d) => {
      Tables.documents(s, d)
        .select(
          col("doc_id"),
          md5(col("text")).as("exact_fp"),
          graft.functions.Kernels.minShingleFp(col("text"), lit(5))
            .as("min_shingle_fp"))
        .orderBy(col("doc_id"))
    },
    Some("""SELECT doc_id, md5(text) AS exact_fp,
      |  list_min(list_transform(
      |    list_transform(generate_series(1, greatest(len(string_split(text,' ')) - 4, 1)),
      |      i -> concat_ws(' ', string_split(text,' ')[i], string_split(text,' ')[i+1],
      |                     string_split(text,' ')[i+2], string_split(text,' ')[i+3],
      |                     string_split(text,' ')[i+4])),
      |    sh -> md5(sh))) AS min_shingle_fp
      |FROM documents ORDER BY doc_id""".stripMargin))

  /** 16-bit SimHash from the high bit of each md5 hex digit, majority-
    * voted over (duplicated) tokens; rendered as a 16-char bitstring.
    * The [[graft.functions.Kernels.simhash16]] native kernel hashes each token
    * ONCE and derives all 16 bits in a compiled pass — the composed form
    * evaluated md5 16× per token inside an interpreted `aggregate` HOF. */
  val simhash = OracleQuery(
    "simhash",
    (s, d) => {
      // null text → all-zero hash, matching the oracle's CASE ... ELSE '0'
      // (the kernel itself propagates null, like every Spark expression)
      Tables.documents(s, d)
        .select(col("doc_id"),
          coalesce(graft.functions.Kernels.simhash16(col("text")),
            lit("0" * 16)).as("simhash16"))
        .orderBy(col("doc_id"))
    },
    Some {
      val bitExprs = (1 to 16).map { j =>
        s"""CASE WHEN list_sum(list_transform(string_split(text, ' '),
           |  t -> CASE WHEN substring(md5(t), $j, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END)) > 0
           |THEN '1' ELSE '0' END""".stripMargin
      }.mkString(" || ")
      s"""SELECT doc_id, $bitExprs AS simhash16
        |FROM documents ORDER BY doc_id""".stripMargin
    })

  /** Boilerplate cleaning (training-data curation): strip HTML-ish tags,
    * URLs, and collapse whitespace runs. Regex kept to constructs with
    * identical semantics in Java regex (Spark) and RE2 (DuckDB) —
    * character classes, `*`/`+`, no backrefs/lookarounds. Per-row,
    * shuffle-free. */
  val textClean = OracleQuery(
    "text_clean",
    (s, d) => {
      val cleaned =
        trim(regexp_replace(
          regexp_replace(
            regexp_replace(col("text"), "<[^>]*>", " "),
            "https?://[^ ]+", " "),
          "  +", " "))
      Tables.documents(s, d)
        .select(col("doc_id"),
          cleaned.as("clean_text"),
          length(cleaned).cast("long").as("clean_len"),
          md5(cleaned).as("clean_hash"))
        .orderBy(col("doc_id"))
    },
    Some("""SELECT doc_id, clean_text,
      |       CAST(length(clean_text) AS BIGINT) AS clean_len,
      |       md5(clean_text) AS clean_hash
      |FROM (
      |  SELECT doc_id,
      |         trim(regexp_replace(regexp_replace(regexp_replace(text,
      |           '<[^>]*>', ' ', 'g'), 'https?://[^ ]+', ' ', 'g'), '  +', ' ', 'g')) AS clean_text
      |  FROM documents)
      |ORDER BY doc_id""".stripMargin))

  /** Corpus vocabulary: top-50 tokens by frequency (vocab building /
    * stopword discovery). One explode + one count shuffle + TakeOrdered;
    * at 100 TB the partial aggregation combines map-side, so the shuffle
    * carries distinct tokens, not token occurrences. */
  val vocabTopk = OracleQuery(
    "vocab_topk",
    (s, d) =>
      Tables.documents(s, d)
        .select(explode(tokens(col("text"))).as("token"))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("token"))
        .limit(50),
    Some("""SELECT token, CAST(count(*) AS BIGINT) AS freq
      |FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
      |GROUP BY token
      |ORDER BY freq DESC, token
      |LIMIT 50""".stripMargin))

  /** URL extraction stats over deterministically-enriched text (the
    * synthetic corpus has no URLs, so each doc gets doc_id-derived ones
    * appended — the extraction path is what's under test). Same regex
    * class semantics in Java regex and RE2. */
  val urlStats = OracleQuery(
    "url_stats",
    (s, d) => {
      val enriched = concat(col("text"),
        lit(" http://site"), col("doc_id") % 20, lit(".example.com/p/"), col("doc_id"),
        when(col("doc_id") % 3 === 0, concat(lit(" https://cdn"), col("doc_id") % 5, lit(".example.net/x")))
          .otherwise(lit("")))
      Tables.documents(s, d)
        .withColumn("urls", regexp_extract_all(enriched, lit("https?://[^ ]+"), lit(0)))
        .select(col("doc_id"),
          size(col("urls")).cast("long").as("n_urls"),
          element_at(col("urls"), 1).as("first_url"))
        .orderBy(col("doc_id"))
    },
    Some("""SELECT doc_id,
      |       CAST(len(urls) AS BIGINT) AS n_urls,
      |       urls[1] AS first_url
      |FROM (
      |  SELECT doc_id,
      |         regexp_extract_all(
      |           text || ' http://site' || CAST(doc_id % 20 AS VARCHAR) || '.example.com/p/' || CAST(doc_id AS VARCHAR)
      |                || CASE WHEN doc_id % 3 = 0
      |                        THEN ' https://cdn' || CAST(doc_id % 5 AS VARCHAR) || '.example.net/x'
      |                        ELSE '' END,
      |           'https?://[^ ]+', 0) AS urls
      |  FROM documents)
      |ORDER BY doc_id""".stripMargin))

  /** URL-canonicalization dedup — the web-crawl dedup signal that runs
    * BEFORE any content hashing (the same page fetched as
    * `HTTP://Site.COM/p/1?utm_source=x`, `http://site.com/p/1#frag`,
    * and `http://site.com/p/1/` is one document): scheme+host
    * lowercase, tracking query stripped, fragment dropped, trailing
    * slash trimmed — each step a single-match regex with identical
    * semantics in Java regex and RE2 (`(?i)` inline flag, no multiline
    * anchors). Deterministic doc_id-derived variants supply the messy
    * URLs (the synthetic corpus has none); four raw variants per
    * canonical group prove each rule fires. One combinable groupBy on
    * the canonical key — the canonical form IS the dedup key at crawl
    * scale, so this is one hash shuffle like `dedup_exact`. */
  val urlCanonical = OracleQuery(
    "dedup_url",
    (s, d) => {
      val raw = concat(lit("HTTP://Site"), col("doc_id") % 20,
        lit(".Example.COM/p/"), col("doc_id") % 50,
        when(col("doc_id") % 4 === 1, lit("?utm_source=x"))
          .when(col("doc_id") % 4 === 2, lit("#frag"))
          .when(col("doc_id") % 4 === 3, lit("/"))
          .otherwise(lit("")))
      val noFrag = regexp_replace(raw, "#.*$", "")
      val noTrack = regexp_replace(noFrag, "\\?utm_[a-z_]+=[^&#]*$", "")
      val hostPat = "(?i)^https?://[^/]*"
      val lowered = concat(lower(regexp_extract(noTrack, hostPat, 0)),
        regexp_replace(noTrack, hostPat, ""))
      val canon = regexp_replace(lowered, "/$", "")
      Tables.documents(s, d)
        .withColumn("raw_url", raw)
        .withColumn("canonical_url", canon)
        .groupBy(col("canonical_url"))
        .agg(count(lit(1)).as("n_occurrences"),
          countDistinct(col("raw_url")).as("n_raw_forms"),
          min(col("doc_id")).as("first_doc"))
        .orderBy(col("canonical_url"))
    },
    Some("""SELECT canonical_url,
      |       CAST(count(*) AS BIGINT) AS n_occurrences,
      |       CAST(count(DISTINCT raw_url) AS BIGINT) AS n_raw_forms,
      |       min(doc_id) AS first_doc
      |FROM (
      |  SELECT doc_id, raw_url,
      |         regexp_replace(
      |           lower(regexp_extract(no_track, '(?i)^https?://[^/]*'))
      |             || regexp_replace(no_track, '(?i)^https?://[^/]*', ''),
      |           '/$', '') AS canonical_url
      |  FROM (
      |    SELECT doc_id, raw_url,
      |           regexp_replace(regexp_replace(raw_url, '#.*$', ''),
      |                          '\?utm_[a-z_]+=[^&#]*$', '') AS no_track
      |    FROM (
      |      SELECT doc_id,
      |             'HTTP://Site' || CAST(doc_id % 20 AS VARCHAR)
      |               || '.Example.COM/p/' || CAST(doc_id % 50 AS VARCHAR)
      |               || CASE WHEN doc_id % 4 = 1 THEN '?utm_source=x'
      |                       WHEN doc_id % 4 = 2 THEN '#frag'
      |                       WHEN doc_id % 4 = 3 THEN '/'
      |                       ELSE '' END AS raw_url
      |      FROM documents)))
      |GROUP BY canonical_url
      |ORDER BY canonical_url""".stripMargin))

  /** PII redaction (curation hygiene): emails and long digit runs masked
    * with fixed placeholders; emits the redacted text hash plus match
    * counts so the redaction is auditable. Deterministic enrichment
    * supplies the PII (none in the synthetic corpus). */
  val textRedact = OracleQuery(
    "text_redact",
    (s, d) => {
      val enriched = concat(col("text"),
        lit(" user"), col("doc_id"), lit("@mail.example.org call 555123"), col("doc_id") % 1000)
      val redacted = regexp_replace(
        regexp_replace(enriched, "[a-zA-Z0-9._]+@[a-zA-Z0-9.]+", "[EMAIL]"),
        "[0-9]{6,}", "[NUM]")
      Tables.documents(s, d)
        .select(col("doc_id"),
          md5(redacted).as("redacted_hash"),
          (size(split(enriched, "[a-zA-Z0-9._]+@[a-zA-Z0-9.]+")) - 1).cast("long").as("n_emails"))
        .orderBy(col("doc_id"))
    },
    Some("""SELECT doc_id, md5(redacted) AS redacted_hash, n_emails FROM (
      |  SELECT doc_id,
      |         regexp_replace(regexp_replace(enriched,
      |           '[a-zA-Z0-9._]+@[a-zA-Z0-9.]+', '[EMAIL]', 'g'), '[0-9]{6,}', '[NUM]', 'g') AS redacted,
      |         CAST(len(string_split_regex(enriched, '[a-zA-Z0-9._]+@[a-zA-Z0-9.]+')) - 1 AS BIGINT) AS n_emails
      |  FROM (
      |    SELECT doc_id,
      |           text || ' user' || CAST(doc_id AS VARCHAR) || '@mail.example.org call 555123'
      |                || CAST(doc_id % 1000 AS VARCHAR) AS enriched
      |    FROM documents))
      |ORDER BY doc_id""".stripMargin))

  /** Benchmark-contamination check (decontamination — the step every
    * training corpus runs against its eval sets): a doc is contaminated
    * when it shares any distinct 3-word shingle with the benchmark set
    * (here the deterministic pseudo-benchmark doc_id % 100 == 0; in
    * production a separate table). Scale shape: distinct shingles
    * explode once per side, the benchmark side broadcasts while it is
    * under the threshold, and the overlap count is one map-side-combined aggregation — no
    * quadratic pass, no full-corpus shuffle of the text. */
  /** Distinct per-doc 3-gram shingles via the native `shinglesK` kernel
    * (byte-span grams, no interpreted HOF), split into the benchmark
    * docs (doc_id % 100 == 0 — the stand-in for the eval suite) and the
    * corpus remainder. */
  private def contaminationShingles(
      s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val sh3 = graft.functions.Kernels.shinglesK(col("text"), lit(3))
    val shingles = Tables.documents(s, d)
      .select(col("doc_id"), explode(array_distinct(sh3)).as("sh"))
    (shingles.filter(col("doc_id") % 100 =!= 0),
      shingles.filter(col("doc_id") % 100 === 0).select(col("sh")).distinct())
  }

  /** Per-doc overlap counts → the (doc_id, n_overlap, contaminated)
    * audit frame over every non-benchmark doc. */
  private def contaminationReport(
      s: SparkSession, d: String, hits: DataFrame): DataFrame =
    Tables.documents(s, d).filter(col("doc_id") % 100 =!= 0)
      .select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        (coalesce(col("n_overlap"), lit(0L)) > 0).cast("int").as("contaminated"))
      .orderBy(col("doc_id"))

  private val contaminationSql = """WITH sh AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(
      |           generate_series(1, greatest(len(w) - 2, 1)),
      |           i -> concat_ws(' ', w[i], w[i+1], w[i+2])))) AS sh
      |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
      |), bench AS (
      |  SELECT DISTINCT sh FROM sh WHERE doc_id % 100 = 0
      |), hits AS (
      |  SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_overlap
      |  FROM sh s JOIN bench b ON s.sh = b.sh
      |  WHERE s.doc_id % 100 <> 0
      |  GROUP BY 1
      |)
      |SELECT d.doc_id,
      |       COALESCE(h.n_overlap, 0) AS n_overlap,
      |       CAST(COALESCE(h.n_overlap, 0) > 0 AS INT) AS contaminated
      |FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
      |WHERE d.doc_id % 100 <> 0
      |ORDER BY d.doc_id""".stripMargin

  val contamination = OracleQuery(
    "contamination_check",
    (s, d) => {
      val (corpus, bench) = contaminationShingles(s, d)
      val hits = corpus.join(bench, "sh")
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_overlap"))
      contaminationReport(s, d, hits)
    },
    Some(contaminationSql))

  /** Decontamination at the shape the 100 TB corpus needs: when the
    * benchmark suite's distinct shingles are too many to broadcast as
    * STRINGS, a Bloom filter over their xxhash64 values (~1.2 bytes per
    * shingle at 3% FPP) still broadcasts, and a map-side
    * `might_contain` knocks out the ~everything that cannot match
    * BEFORE any shuffle — Spark's own runtime-filter machinery
    * (`BloomFilterAggregate` + `BloomFilterMightContain`, the pair
    * `InjectRuntimeFilter` plants under joins), here placed explicitly.
    * Survivors (true hits + the FP fraction) then verify through the
    * exact string equi-join, so Bloom false positives NEVER reach the
    * output and the oracle is the same exact SQL as
    * [[contamination]]'s. The filter binary is ONE distributed
    * aggregate collected to the driver — a per-benchmark-suite artifact
    * like the IVF codebook, sized here for 1M shingles (~1 MB). */
  val contaminationBloom = OracleQuery(
    "contamination_bloom",
    (s, d) => {
      import org.apache.spark.sql.GraftColumns.{columnOf, expressionOf}
      val (corpus, bench) = contaminationShingles(s, d)
      val bfAgg = columnOf(
        new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
          expressionOf(xxhash64(col("sh"))), 1L << 20).toAggregateExpression())
      val bf = bench.agg(bfAgg.as("bf")).head.getAs[Array[Byte]]("bf")
      val mightContain = columnOf(
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
          expressionOf(lit(bf)), expressionOf(xxhash64(col("sh")))))
      // no broadcast hint on the verify join: the premise is a bench
      // side too big to ship as strings — the join shuffles only the
      // bloom survivors (AQE still picks broadcast when small is small)
      val hits = corpus.filter(mightContain).join(bench, "sh")
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_overlap"))
      contaminationReport(s, d, hits)
    },
    Some(contaminationSql))

  /** Within-doc repetition ratio (the Gopher/C4-style boilerplate
    * signal): fraction of 2-gram occurrences that are repeats of an
    * earlier 2-gram in the same doc. Pure per-row expressions —
    * map-side, shuffle-free, linear at any corpus size. */
  val repetition = OracleQuery(
    "repetition_ratio",
    (s, d) => {
      val g = gramStats
      Tables.documents(s, d)
        .withColumn("n_2grams", element_at(g, 2))
        .withColumn("n_uniq_2grams", element_at(g, 3))
        .select(col("doc_id"), col("n_2grams"), col("n_uniq_2grams"),
          when(col("n_2grams") > 0,
            (col("n_2grams") - col("n_uniq_2grams")).cast("double") /
              col("n_2grams").cast("double"))
            .otherwise(lit(0.0d)).as("dup_ratio"))
        .orderBy(col("doc_id"))
    },
    Some("""SELECT doc_id, n_2grams, n_uniq_2grams,
      |       CASE WHEN n_2grams > 0
      |            THEN CAST(n_2grams - n_uniq_2grams AS DOUBLE) / CAST(n_2grams AS DOUBLE)
      |            ELSE 0.0 END AS dup_ratio
      |FROM (
      |  SELECT doc_id,
      |         CAST(len(grams) AS BIGINT) AS n_2grams,
      |         CAST(len(list_distinct(grams)) AS BIGINT) AS n_uniq_2grams
      |  FROM (
      |    SELECT doc_id,
      |           CASE WHEN len(w) >= 2
      |                THEN list_transform(generate_series(1, len(w) - 1),
      |                       i -> concat_ws(' ', w[i], w[i+1]))
      |                ELSE [] END AS grams
      |    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)))
      |ORDER BY doc_id""".stripMargin))

  /** Composite quality filter (the C4/Gopher-style rule cascade that
    * decides keep/drop per doc, with the FIRST failing rule as the
    * auditable reason): too short → too repetitive → too few stopwords →
    * ok. All signals are per-row expressions already used by
    * [[textStats]]/[[repetition]] — map-side, shuffle-free; the output
    * is the curation manifest a 100 TB pipeline writes next to the
    * corpus. */
  /** Lexical commonness (the CCNet-style corpus-LM quality signal,
    * arithmetic kept EXACT): each document scores the mean corpus
    * frequency of its token occurrences —
    * Σ_occ cnt(tok) / (total_tokens · n_doc_tokens) — low means rare/
    * unusual vocabulary (noise or genuinely novel text), high means
    * boilerplate-common. A true LM would take logs; logs are libm-
    * dependent and break bit-parity, while this score is integer sums
    * with ONE final IEEE division (both factors exact BIGINTs), so the
    * oracle hash-matches.
    *
    * Shape at 100 TB: the vocabulary count is one map-side-combinable
    * groupBy; docs join the counts as (doc_id, tok, k) DISTINCT pairs
    * (within-doc repeats collapse to a multiplier, shrinking the join
    * input), and Σ k·cnt re-aggregates per doc. Stopword keys skew the
    * token join — AQE skew-join splits those partitions at runtime (the
    * static alternative is the head/tail split shown in
    * `ltss_domain_stats_salted`). */
  val docCommonness = OracleQuery(
    "doc_commonness",
    (s, d) => {
      val t = Tables.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      val pairs = t.groupBy(col("doc_id"), col("tok"))
        .agg(count(lit(1)).as("k"))
      // corpus counts derive from the PAIR frame (Σk per token), so the
      // raw text is scanned and exploded exactly once
      val cnt = pairs.groupBy(col("tok")).agg(sum(col("k")).as("cnt"))
      val tot = cnt.agg(sum(col("cnt")).as("tot"))
      pairs.join(cnt, "tok")
        .groupBy(col("doc_id"))
        .agg(sum(col("k") * col("cnt")).as("cnt_sum"), sum(col("k")).as("n_tokens"))
        // bound: a one-row aggregate
        .crossJoin(broadcast(tot))
        .select(col("doc_id"), col("n_tokens"),
          (col("cnt_sum").cast("double") /
            (col("tot") * col("n_tokens")).cast("double")).as("commonness"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH t AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
      |), pairs AS (
      |  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS k FROM t GROUP BY 1, 2
      |), c AS (
      |  SELECT tok, CAST(sum(k) AS BIGINT) AS cnt FROM pairs GROUP BY tok
      |), tot AS (
      |  SELECT CAST(sum(cnt) AS BIGINT) AS tot FROM c
      |), byd AS (
      |  SELECT p.doc_id,
      |         CAST(sum(p.k * c.cnt) AS BIGINT) AS cnt_sum,
      |         CAST(sum(p.k) AS BIGINT) AS n_tokens
      |  FROM pairs p JOIN c USING (tok) GROUP BY p.doc_id
      |)
      |SELECT doc_id, n_tokens,
      |       CAST(cnt_sum AS DOUBLE) / CAST(tot * n_tokens AS DOUBLE) AS commonness
      |FROM byd, tot
      |ORDER BY doc_id""".stripMargin))

  /** Shared per-dataset (doc_id, source, sh, k) 2-SHINGLE pair frame —
    * the distinct-bigram profile several curation signals consume
    * ([[docCoherence]]'s conditional-support sums,
    * [[Sampling.sampleImportance]]'s hashed bucket features). One
    * native-kernel explode + one combinable count builds it; persisted
    * so the corpus is shingle-exploded once per dataset, not once per
    * query. Text-free and per-doc-distinct (~40 bytes/row), the same
    * class of between-stage checkpoint as the band/k-means frames —
    * bench warm-up owns the build. */
  private[graft] def shinglePairs(
      s: org.apache.spark.sql.SparkSession, d: String) =
    graft.CachedFrames.getOrBuild(
      s"shingle2|${graft.CachedFrames.sessionKey(s)}|$d") {
      val sh2 = graft.functions.Kernels.shinglesK(col("text"), lit(2))
      Tables.fanOut(Tables.documents(s, d))
        .select(col("doc_id"), col("source"), explode(sh2).as("sh"))
        .groupBy(col("doc_id"), col("source"), col("sh"))
        .agg(count(lit(1)).as("k"))
    }

  /** Bigram coherence (the CONDITIONAL companion to [[docCommonness]]'s
    * unigram signal, arithmetic kept EXACT): per document,
    * Σ_occ cnt₂(w₁w₂) / Σ_occ cnt₁(w₁) — corpus bigram support over
    * corpus prefix support. A document whose word PAIRS are common
    * relative to their first words reads as fluent connected prose; word
    * salad and keyword-stuffed spam score low even when each word is
    * individually common (which unigram commonness cannot see). This is
    * the quality axis a corpus-LM perplexity filter measures; a true LM
    * would take logs, but logs are libm-dependent and break bit-parity,
    * while this ratio-of-sums is integer sums to ONE final IEEE division
    * — the oracle hash-matches.
    *
    * Shape at 100 TB: one explode of 2-shingles (native [[graft.functions.Kernels.shinglesK]]
    * kernel, no lambda), collapsed to (doc, shingle, k) DISTINCT pairs
    * map-side; the bigram vocabulary aggregates from the pair frame
    * (the corpus is scanned ONCE), prefix counts aggregate from the
    * bigram vocabulary (a vocab-sized frame, never raw rows), and the
    * doc join carries (cnt₂, cnt₁) together so there is exactly one
    * vocab-to-doc shuffle. Stopword-headed bigrams skew that join the
    * same way commonness' token join skews — AQE skew-join splits hot
    * partitions at runtime. */
  val docCoherence = OracleQuery(
    "doc_coherence",
    (s, d) => {
      val pairs = shinglePairs(s, d).select(col("doc_id"), col("sh"), col("k"))
      val cnt2 = pairs.groupBy(col("sh")).agg(sum(col("k")).as("cnt2"))
        .withColumn("w1", substring_index(col("sh"), " ", 1))
      val cnt1 = cnt2.groupBy(col("w1")).agg(sum(col("cnt2")).as("cnt1"))
      val vocab = cnt2.join(cnt1, "w1")
        .select(col("sh"), col("cnt2"), col("cnt1"))
      pairs.join(vocab, "sh")
        .groupBy(col("doc_id"))
        .agg(
          sum(col("k") * col("cnt2")).as("num"),
          sum(col("k") * col("cnt1")).as("den"),
          sum(col("k")).as("n_bigrams"))
        .select(col("doc_id"), col("n_bigrams"),
          (col("num").cast("double") / col("den").cast("double")).as("coherence"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH t AS (
      |  SELECT doc_id, unnest(${Dedup.shingles2Sql}) AS sh FROM documents
      |), pairs AS (
      |  SELECT doc_id, sh, CAST(count(*) AS BIGINT) AS k FROM t GROUP BY 1, 2
      |), c2 AS (
      |  SELECT sh, split_part(sh, ' ', 1) AS w1, CAST(sum(k) AS BIGINT) AS cnt2
      |  FROM pairs GROUP BY sh
      |), c1 AS (
      |  SELECT w1, CAST(sum(cnt2) AS BIGINT) AS cnt1 FROM c2 GROUP BY w1
      |), v AS (
      |  SELECT c2.sh, c2.cnt2, c1.cnt1 FROM c2 JOIN c1 USING (w1)
      |), byd AS (
      |  SELECT p.doc_id,
      |         CAST(sum(p.k * v.cnt2) AS BIGINT) AS num,
      |         CAST(sum(p.k * v.cnt1) AS BIGINT) AS den,
      |         CAST(sum(p.k) AS BIGINT) AS n_bigrams
      |  FROM pairs p JOIN v USING (sh) GROUP BY 1
      |)
      |SELECT doc_id, n_bigrams,
      |       CAST(num AS DOUBLE) / CAST(den AS DOUBLE) AS coherence
      |FROM byd ORDER BY doc_id""".stripMargin))

  /** Keyword search over an INVERTED-INDEX layout — the retrieval shape
    * for "find the docs containing all of these terms" at corpus scale:
    * distinct (token, doc_id) postings materialize once, partitioned by
    * a hash bucket of the token, and a query partition-prunes to its
    * terms' buckets (the 100 TB posting store never full-scans), then
    * intersects postings with one combinable count-distinct per doc.
    * The term→bucket mapping is computed by a k-row driver job — the
    * same planning artifact class as the IVF probe argmax. Oracle = the
    * direct containment scan, so index and scan must agree exactly. */
  val SearchTerms = Seq("spark", "query", "window")
  val IndexBuckets = 16

  def invIndexPath(s: SparkSession, d: String): String =
    graft.ScratchDirs.materializedPath("inv_index", d) { p =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          explode(array_distinct(split(col("text"), " "))).as("tok"))
        .withColumn("bucket", pmod(xxhash64(col("tok")), lit(IndexBuckets)))
        .write.mode("overwrite").partitionBy("bucket").parquet(p)
    }

  val textSearch = OracleQuery(
    "text_search",
    (s, d) => {
      import s.implicits._
      val bucketVals = SearchTerms.toDF("t")
        .select(pmod(xxhash64(col("t")), lit(IndexBuckets)))
        .collect().map(_.getLong(0)).distinct.toSeq
      s.read.parquet(invIndexPath(s, d))
        .filter(col("bucket").isin(bucketVals: _*) &&
          col("tok").isin(SearchTerms: _*))
        .groupBy(col("doc_id"))
        .agg(countDistinct(col("tok")).as("nt"))
        .filter(col("nt") === SearchTerms.length)
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    },
    Some(s"""SELECT doc_id FROM (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents)
      |WHERE ${SearchTerms.map(t => s"list_contains(w, '$t')").mkString(" AND ")}
      |ORDER BY doc_id""".stripMargin))

  /** The phrase the positional probe searches — three words with real
    * adjacent occurrences in the fixture corpus (3 docs at sf0.01), so
    * the gate checks genuine position arithmetic, not an empty result. */
  val PhraseTerms = Seq("value", "table", "part")

  /** POSITIONAL posting layout: one row per (doc_id, token, position),
    * partitioned by the same token-hash bucket as the boolean inverted
    * index — the layout phrase and proximity queries need where
    * [[invIndexPath]] only answers membership. Built once per dataset
    * (by ingest, at scale), read partition-pruned by every probe. */
  def posIndexPath(s: SparkSession, d: String): String =
    graft.ScratchDirs.materializedPath("pos_index", d) { p =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
        .withColumn("bucket", pmod(xxhash64(col("tok")), lit(IndexBuckets)))
        .write.mode("overwrite").partitionBy("bucket").parquet(p)
    }

  /** Exact PHRASE search over the positional index — the query class a
    * boolean inverted index cannot answer: every doc where the three
    * [[PhraseTerms]] occur CONSECUTIVELY, with the occurrence count and
    * the first match position. Each term's posting leg shifts its
    * positions by the term's phrase offset, so adjacency becomes
    * EQUALITY on (doc_id, start) and the whole match is a chain of
    * equi-joins — the standard positional-intersection device; no
    * window, no inequality join, no text re-scan. The probe
    * partition-prunes to the phrase terms' ≤3 buckets (a k-row driver
    * planning job, same class as the IVF probe argmax), so the posting
    * store is never full-scanned; per-term posting legs are df-sized,
    * and the occurrence rollup is one combinable aggregate. Positions
    * are 0-based integers on both engines (the oracle's 1-based list
    * index shifts by one). */
  val phraseSearch = OracleQuery(
    "text_phrase_search",
    (s, d) => {
      import s.implicits._
      val bucketVals = PhraseTerms.toDF("t")
        .select(pmod(xxhash64(col("t")), lit(IndexBuckets)))
        .collect().map(_.getLong(0)).distinct.toSeq
      val idx = s.read.parquet(posIndexPath(s, d))
        .filter(col("bucket").isin(bucketVals: _*))
      val legs = PhraseTerms.zipWithIndex.map { case (t, i) =>
        idx.filter(col("tok") === t)
          .select(col("doc_id"), (col("pos") - i).as("st"))
      }
      legs.reduce(_.join(_, Seq("doc_id", "st")))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_occurrences"),
          min(col("st")).cast("long").as("first_pos"))
        .orderBy(col("doc_id"))
    },
    Some {
      val t = PhraseTerms
      s"""WITH pos AS (
        |  SELECT doc_id, unnest(list_filter(generate_series(1, greatest(len(w) - 2, 0)),
        |           i -> w[i] = '${t(0)}' AND w[i+1] = '${t(1)}' AND w[i+2] = '${t(2)}')) AS p
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
        |)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_occurrences,
        |       CAST(min(p) - 1 AS BIGINT) AS first_pos
        |FROM pos GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin
    })

  /** Overlapping-window document chunking — the retrieval/embedding
    * prep step (RAG-style): fixed `width`-token windows every `stride`
    * tokens, so consecutive chunks share `width − stride` tokens of
    * context, plus a final short tail window when tokens remain past
    * the last full start. Pure per-row explode — map-side, linear; at
    * 100 TB the fan-out is rows × ⌈n/stride⌉ with no shuffle at all
    * (the downstream embedder consumes the chunk stream partition-
    * local). Start positions are exact integer arithmetic mirrored by
    * `generate_series`, so the chunk set is engine-identical. */
  val ChunkWidth = 32
  val ChunkStride = 24

  val docChunks = OracleQuery(
    "doc_chunks",
    (s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .withColumn("n", size(col("w")))
        // last start: the largest multiple of stride with a token left
        .withColumn("starts", expr(
          s"sequence(0, (greatest(n - 1, 0) div $ChunkStride) * $ChunkStride, $ChunkStride)"))
        .select(col("doc_id"), col("w"), col("n"),
          posexplode(col("starts")).as(Seq("chunk_idx", "st")))
        .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
          expr(s"concat_ws(' ', slice(w, st + 1, $ChunkWidth))").as("chunk_text"),
          least(lit(ChunkWidth), col("n") - col("st")).cast("long").as("n_tokens"))
        .orderBy(col("doc_id"), col("chunk_idx"))
    },
    Some(s"""SELECT doc_id, chunk_idx, chunk_text, n_tokens FROM (
      |  SELECT doc_id,
      |         CAST(g // $ChunkStride AS BIGINT) AS chunk_idx,
      |         array_to_string(w[g + 1:g + $ChunkWidth], ' ') AS chunk_text,
      |         CAST(least($ChunkWidth, n - g) AS BIGINT) AS n_tokens
      |  FROM (
      |    SELECT doc_id, w, len(w) AS n,
      |           unnest(generate_series(0,
      |             (greatest(len(w) - 1, 0) // $ChunkStride) * $ChunkStride,
      |             $ChunkStride)) AS g
      |    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)))
      |ORDER BY doc_id, chunk_idx""".stripMargin))

  /** The C4/Gopher rule cascade as ONE struct Column over `text` —
    * (n_tokens, dup_ratio, stopword_ratio, verdict) — shared by
    * [[qualityFilter]] and `curation_confusion` so the rule set cannot
    * drift between the filter and the reports that cite it. Catalyst's
    * `SimplifyExtractValueOps` collapses the struct, so consumers pay
    * only for the fields they select. */
  private[operators] def qualitySignals: Column = {
    val g = gramStats
    val nTok = element_at(g, 1)
    val n2 = element_at(g, 2)
    val nUniq = element_at(g, 3)
    val dupRatio = when(n2 > 0,
      (n2 - nUniq).cast("double") / n2.cast("double")).otherwise(lit(0.0d))
    val swRatio = stopwordCount.cast("double") / nTok.cast("double")
    val verdict = when(nTok < MinTokens, "too_short")
      .when(dupRatio > MaxDupRatio, "too_repetitive")
      .when(swRatio < MinStopwordRatio, "low_stopword")
      .otherwise("ok")
    struct(nTok.as("n_tokens"), dupRatio.as("dup_ratio"),
      swRatio.as("stopword_ratio"), verdict.as("verdict"))
  }

  /** DuckDB twin of [[qualitySignals]]: (doc_id, n_tokens, dup_ratio,
    * stopword_ratio, verdict) over the docs in `src`. */
  private[operators] def qualityVerdictSql(src: String): String =
    s"""SELECT doc_id, n_tokens, dup_ratio, stopword_ratio,
       |       CASE WHEN n_tokens < $MinTokens THEN 'too_short'
       |            WHEN dup_ratio > $MaxDupRatio THEN 'too_repetitive'
       |            WHEN stopword_ratio < $MinStopwordRatio THEN 'low_stopword'
       |            ELSE 'ok' END AS verdict
       |FROM (
       |  SELECT doc_id,
       |         CAST(len(w) AS BIGINT) AS n_tokens,
       |         CASE WHEN len(grams) > 0
       |              THEN CAST(len(grams) - len(list_distinct(grams)) AS DOUBLE)
       |                   / CAST(len(grams) AS DOUBLE)
       |              ELSE 0.0 END AS dup_ratio,
       |         CAST(len(list_filter(w, x -> x IN ('the', 'a'))) AS DOUBLE)
       |           / CAST(len(w) AS DOUBLE) AS stopword_ratio
       |  FROM (
       |    SELECT doc_id, w,
       |           CASE WHEN len(w) >= 2
       |                THEN list_transform(generate_series(1, len(w) - 1),
       |                       i -> concat_ws(' ', w[i], w[i+1]))
       |                ELSE [] END AS grams
       |    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM $src)))""".stripMargin

  val qualityFilter = OracleQuery(
    "quality_filter",
    (s, d) => {
      val q = qualitySignals
      Tables.documents(s, d)
        .select(col("doc_id"),
          q.getField("n_tokens").as("n_tokens"),
          q.getField("dup_ratio").as("dup_ratio"),
          q.getField("stopword_ratio").as("stopword_ratio"),
          q.getField("verdict").as("verdict"),
          (q.getField("verdict") === "ok").cast("int").as("keep"))
        .orderBy(col("doc_id"))
    },
    Some(s"""SELECT doc_id, n_tokens, dup_ratio, stopword_ratio, verdict,
      |       CAST(verdict = 'ok' AS INT) AS keep
      |FROM (${qualityVerdictSql("documents")})
      |ORDER BY doc_id""".stripMargin))

  /** Per-document distinctive keywords — TF-IDF's decision with NONE of
    * its floats: for each doc, the top-3 tokens ranked by (corpus
    * frequency ASC, within-doc tf DESC, token) — the rarest tokens the
    * doc actually repeats. The integer rank order is a monotone proxy
    * for tf·idf at fixed tf (idf is anti-monotone in corpus count and
    * log changes no ordering), so the report is the keyword panel a
    * corpus browser shows, with bit-exact cross-engine parity (logs are
    * the one op the parity rules ban). Shapes: one map-side-combinable
    * (doc, token) tf aggregate, one distinct-token corpus count (the
    * `vocab_topk` shuffle class), an equi-join on token (stopword skew
    * left to AQE — rare tokens win the ranking anyway), one per-doc
    * window bounded by the doc's distinct-token count. */
  val docKeywords = OracleQuery(
    "doc_keywords",
    (s, d) => {
      val tf = Tables.documents(s, d)
        .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
        .groupBy(col("doc_id"), col("token"))
        .agg(count(lit(1)).as("tf"))
      val corpus = tf.groupBy(col("token"))
        .agg(sum(col("tf")).as("corpus_freq"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("corpus_freq"), col("tf").desc, col("token"))
      tf.join(corpus, "token")
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("doc_id"), col("rank"), col("token"), col("tf"),
          col("corpus_freq"))
        .orderBy(col("doc_id"), col("rank"))
    },
    Some("""WITH tf AS (
      |  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
      |  GROUP BY doc_id, token
      |), corpus AS (
      |  SELECT token, CAST(sum(tf) AS BIGINT) AS corpus_freq FROM tf GROUP BY token
      |)
      |SELECT doc_id, rank, token, tf, corpus_freq FROM (
      |  SELECT tf.doc_id, tf.token, tf.tf, corpus.corpus_freq,
      |         row_number() OVER (PARTITION BY tf.doc_id
      |           ORDER BY corpus.corpus_freq, tf.tf DESC, tf.token) AS rank
      |  FROM tf JOIN corpus USING (token))
      |WHERE rank <= 3
      |ORDER BY doc_id, rank""".stripMargin))

  /** Lexical DIVERSITY per document: type-token ratio and the
    * Gini–Simpson index 1 − Σc²/n² — the repeated-token quality axis
    * with EXACT arithmetic where Shannon entropy would drag in libm
    * logs and break bit-parity. A word-salad spammer repeating ten
    * tokens scores near its TTR floor; Simpson additionally weights by
    * how unevenly the repeats concentrate. Counts stay BIGINTs through
    * one (doc, token) combinable aggregate and a per-doc rollup;
    * ttr = distinct/total and simpson = 1 − ss/n² are each one IEEE
    * chain over exact integers, identical on both engines. */
  val docDiversity = OracleQuery(
    "doc_diversity",
    (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
        .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n_tokens"),
          count(lit(1)).as("n_distinct"),
          sum(col("c") * col("c")).as("ss"))
        .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
          (col("n_distinct").cast("double") / col("n_tokens").cast("double"))
            .as("ttr"),
          (lit(1.0) - col("ss").cast("double") /
            (col("n_tokens") * col("n_tokens")).cast("double")).as("simpson"))
        .orderBy(col("doc_id")),
    Some("""SELECT doc_id, n_tokens, n_distinct,
      |       CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS ttr,
      |       1.0 - CAST(ss AS DOUBLE) / CAST(n_tokens * n_tokens AS DOUBLE) AS simpson
      |FROM (
      |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
      |         CAST(count(*) AS BIGINT) AS n_distinct,
      |         CAST(sum(c * c) AS BIGINT) AS ss
      |  FROM (
      |    SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c
      |    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
      |    GROUP BY doc_id, tok)
      |  GROUP BY doc_id)
      |ORDER BY doc_id""".stripMargin))

  /** Zipf-conformance audit of the corpus vocabulary — the dataset-card
    * sanity panel: natural language keeps rank·frequency roughly
    * constant (Zipf's law), so a flat ratio_to_top column says the
    * corpus looks organic while a cliff betrays template spam or a
    * truncated vocabulary. Everything is integer (rank, freq, their
    * product) except the one closing division against the top token's
    * frequency; ranks tie-break by token so the audit is total-order
    * deterministic. The vocabulary count is the `vocab_topk` shuffle;
    * the ranking then runs on a 30-row frame. */
  val corpusZipf = OracleQuery(
    "corpus_zipf",
    (s, d) => {
      import s.implicits._
      // the one corpus-sized stage: TakeOrdered top-30 of the vocab agg
      val top = Tables.documents(s, d)
        .select(explode(tokens(col("text"))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("token"))
        .limit(30)
        .collect()
      // rank/ratio assignment runs DRIVER-SIDE on the 30 collected rows
      // (the k-row planning-artifact class) — a partitionless WindowExec
      // here would be harmless but noisy, and Spark 4's optimizer folds
      // any constant partition key away (EliminateWindowPartitions), so
      // the only warning-free single-partition window is no window
      // empty-corpus degenerate: .max on an empty collect() would throw
      // where the oracle returns an empty frame
      val maxFreq = if (top.isEmpty) 1L else top.map(_.getLong(1)).max
      top.zipWithIndex.toSeq.map { case (r, i) =>
        val rank = i + 1L
        val rf = rank * r.getLong(1)
        (rank, r.getString(0), r.getLong(1), rf, rf.toDouble / maxFreq.toDouble)
      }.toDF("rank", "token", "freq", "rank_freq", "ratio_to_top")
        .orderBy(col("rank"))
    },
    Some("""SELECT CAST(rank AS BIGINT) AS rank, token, freq,
      |       CAST(rank * freq AS BIGINT) AS rank_freq,
      |       CAST(rank * freq AS DOUBLE) / CAST(max(freq) OVER () AS DOUBLE)
      |         AS ratio_to_top
      |FROM (
      |  SELECT token, freq, row_number() OVER (ORDER BY freq DESC, token) AS rank
      |  FROM (
      |    SELECT token, CAST(count(*) AS BIGINT) AS freq
      |    FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
      |    GROUP BY token
      |    ORDER BY freq DESC, token
      |    LIMIT 30))
      |ORDER BY rank""".stripMargin))

  /** Pairwise TOTAL-VARIATION DISTANCE between per-source unigram
    * distributions — the drift/diversity matrix a mixture designer reads
    * next to `source_overlap`'s shingle Jaccard: overlap asks "do these
    * sources share text", TVD asks "do they speak the same
    * distribution" (two disjoint crawls of the same register score near
    * 0 here and 0 there). TVD = ½ Σ_w |p_w − q_w| stays EXACT until one
    * closing division: over the shared vocabulary the summand is
    * |c_a·N_b − c_b·N_a| (BIGINT products), and each side's
    * distribution mass on its PRIVATE vocabulary folds in closed form —
    * (N_a − Σ_shared c_a)·N_b and symmetrically — so no outer join and
    * no zero-fill rows ever materialize. One (source, token) combinable
    * count, a token equi-join bounded per token by |sources|², and a
    * |sources|²-row output. */
  val sourceDivergence = OracleQuery(
    "source_divergence",
    (s, d) => {
      val counts = Tables.documents(s, d)
        .select(col("source"), explode(tokens(col("text"))).as("tok"))
        .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("c"))
      val totals = counts.groupBy(col("source")).agg(sum(col("c")).as("n"))
      counts.toDF("source_a", "tok", "ca")
        .join(counts.toDF("source_b", "tok", "cb"), "tok")
        .filter(col("source_a") < col("source_b"))
        .join(totals.toDF("source_a", "na"), "source_a")
        .join(totals.toDF("source_b", "nb"), "source_b")
        .groupBy(col("source_a"), col("source_b"), col("na"), col("nb"))
        .agg(count(lit(1)).as("shared_tokens"),
          sum(abs(col("ca") * col("nb") - col("cb") * col("na"))).as("num_shared"),
          sum(col("ca")).as("ca_shared"),
          sum(col("cb")).as("cb_shared"))
        .select(col("source_a"), col("source_b"), col("shared_tokens"),
          ((col("num_shared") +
            (col("na") - col("ca_shared")) * col("nb") +
            (col("nb") - col("cb_shared")) * col("na")).cast("double") /
            (lit(2L) * col("na") * col("nb")).cast("double")).as("tvd"))
        .orderBy(col("source_a"), col("source_b"))
    },
    Some("""WITH counts AS (
      |  SELECT source, tok, CAST(count(*) AS BIGINT) AS c
      |  FROM (SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents)
      |  GROUP BY source, tok
      |), totals AS (
      |  SELECT source, CAST(sum(c) AS BIGINT) AS n FROM counts GROUP BY source
      |)
      |SELECT source_a, source_b, shared_tokens,
      |       CAST(num_shared + (na - ca_shared) * nb + (nb - cb_shared) * na
      |            AS DOUBLE) / CAST(2 * na * nb AS DOUBLE) AS tvd
      |FROM (
      |  SELECT a.source AS source_a, b.source AS source_b,
      |         ta.n AS na, tb.n AS nb,
      |         CAST(count(*) AS BIGINT) AS shared_tokens,
      |         CAST(sum(abs(a.c * tb.n - b.c * ta.n)) AS BIGINT) AS num_shared,
      |         CAST(sum(a.c) AS BIGINT) AS ca_shared,
      |         CAST(sum(b.c) AS BIGINT) AS cb_shared
      |  FROM counts a
      |  JOIN counts b ON b.tok = a.tok AND a.source < b.source
      |  JOIN totals ta ON ta.source = a.source
      |  JOIN totals tb ON tb.source = b.source
      |  GROUP BY 1, 2, 3, 4)
      |ORDER BY source_a, source_b""".stripMargin))

  /** FUZZY vocabulary join — every token pair at Levenshtein distance 1,
    * found by SymSpell DELETION-NEIGHBORHOOD blocking instead of the
    * |V|² edit-distance matrix: each token emits itself plus its
    * single-deletion variants, and any distance-1 pair (substitution,
    * insertion, or deletion) provably shares a variant — substitutions
    * meet at the both-sides deletion, ins/del pairs meet at the shorter
    * word itself — so the join generates candidates linearly in
    * Σ len(tok) and the exact `levenshtein` (identical integer semantics
    * in Spark and DuckDB) verifies candidates only. This is the
    * spell-correction/OCR-noise dedup signal a crawl vocabulary needs
    * (`canonical` = the higher-frequency side, the correction a
    * normalizer would apply). The vocabulary is augmented with
    * deterministic TYPO TWINS (md5-gated `tok || 'x'` forms at freq 1,
    * skipped if the form already exists) — the fixture vocabulary is
    * 30 clean tokens with no organic distance-1 pairs, so the twins
    * keep the gate hash-checking real pairs; both engines replay the
    * augmentation as part of the contract. Vocabulary-bounded end to
    * end: the corpus pays one token count, everything after runs on
    * |V|-scale frames. */
  val vocabTypoPairs = OracleQuery(
    "vocab_typo_pairs",
    (s, d) => {
      val base = Tables.documents(s, d)
        .select(explode(tokens(col("text"))).as("tok"))
        .filter(length(col("tok")) >= 3)
        .groupBy(col("tok")).agg(count(lit(1)).as("freq"))
      val twins = base
        .filter(length(col("tok")) >= 4 &&
          substring(md5(col("tok")), 1, 1) < "4")
        .select(concat(col("tok"), lit("x")).as("tok"), lit(1L).as("freq"))
        .join(base.select(col("tok")), Seq("tok"), "left_anti")
      val vocab = base.unionAll(twins)
      val variants = vocab.select(col("tok"), col("freq"),
        explode(array_union(array(col("tok")), expr(
          "transform(sequence(1, length(tok)), " +
            "i -> concat(substring(tok, 1, i-1), substring(tok, i+1)))")))
          .as("v"))
      variants.toDF("tok_a", "freq_a", "v")
        .join(variants.toDF("tok_b", "freq_b", "v"), "v")
        .filter(col("tok_a") < col("tok_b"))
        .select(col("tok_a"), col("freq_a"), col("tok_b"), col("freq_b"))
        .distinct()
        .filter(levenshtein(col("tok_a"), col("tok_b")) === 1)
        .withColumn("canonical",
          when(col("freq_a") > col("freq_b") ||
            (col("freq_a") === col("freq_b") && col("tok_a") < col("tok_b")),
            col("tok_a")).otherwise(col("tok_b")))
        .orderBy(col("tok_a"), col("tok_b"))
    },
    Some("""WITH base AS (
      |  SELECT tok, CAST(count(*) AS BIGINT) AS freq FROM (
      |    SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
      |  WHERE len(tok) >= 3 GROUP BY tok
      |), vocab AS (
      |  SELECT tok, freq FROM base
      |  UNION ALL
      |  SELECT tok || 'x', CAST(1 AS BIGINT) FROM base
      |  WHERE len(tok) >= 4 AND substring(md5(tok), 1, 1) < '4'
      |    AND tok || 'x' NOT IN (SELECT tok FROM base)
      |), vars AS (
      |  SELECT tok, freq, unnest(list_distinct(list_concat([tok],
      |           list_transform(generate_series(1, len(tok)),
      |             i -> substring(tok, 1, i-1) || substring(tok, i+1))))) AS v
      |  FROM vocab
      |), cand AS (
      |  SELECT DISTINCT a.tok AS tok_a, a.freq AS freq_a,
      |                  b.tok AS tok_b, b.freq AS freq_b
      |  FROM vars a JOIN vars b ON a.v = b.v AND a.tok < b.tok
      |)
      |SELECT tok_a, freq_a, tok_b, freq_b,
      |       CASE WHEN freq_a > freq_b OR (freq_a = freq_b AND tok_a < tok_b)
      |            THEN tok_a ELSE tok_b END AS canonical
      |FROM cand WHERE levenshtein(tok_a, tok_b) = 1
      |ORDER BY tok_a, tok_b""".stripMargin))

  /** Source-conditional boilerplate (template) removal — the RefinedWeb /
    * CCNet device: crawl snapshots from one source share a navigation
    * header that exact/passage dedup cannot touch (it is a PREFIX of
    * otherwise-distinct docs, not a repeated passage). Detect it
    * per-source as the maximal run of TEMPLATED token positions — a
    * position is templated when one token accounts for >= 80% of that
    * source's docs at that position — then strip the detected prefix from
    * every doc of the source.
    *
    * The fixture docs carry no shared prefixes, so (like
    * `contamination_spans`) the query injects a deterministic per-source
    * header IN-QUERY — `portal <source> [extra] :` (the `extra` token on
    * even-digit sources makes the detected length vary by source) — and
    * the oracle replays the same injection, so the gate exercises real
    * detection + excision arithmetic, never a vacuous 0-row pass.
    *
    * Scale: position scan is capped at the first [[MaxScan]]=12 tokens, so
    * the (source, pos, token) count is ONE combinable (map-side partial)
    * shuffle whose group space is |sources|x12x|head vocab|; the per-source
    * prefix-length frame that comes back is |sources| rows, which the
    * broadcast threshold takes — and the excision itself is a single map-side projection over the
    * corpus. No all-pairs stage anywhere; at 100 TB the only corpus-sized
    * exchange is the capped head-token count. */
  val boilerplate = {
    val MaxScan = 12
    OracleQuery(
      "text_boilerplate",
      (s, d) => {
        val even = Seq("0", "2", "4", "6", "8")
        val toks = Tables.documents(s, d).withColumn("w",
          split(
            concat(lit("portal "), col("source"),
              when(substring(col("source"), -1, 1).isin(even: _*), lit(" extra"))
                .otherwise(lit("")),
              lit(" : "), col("text")),
            " "))
        val pos = toks
          .select(col("source"), posexplode(slice(col("w"), 1, MaxScan)).as(Seq("p", "tok")))
          .withColumn("i", col("p") + 1)
        val posstat = pos.groupBy("source", "i", "tok").agg(count(lit(1)).as("cnt"))
          .groupBy("source", "i").agg(max("cnt").as("maxcnt"), sum("cnt").as("total"))
        // templated <=> maxcnt/total >= 0.8, kept integer (x5 vs x4) so
        // both engines decide the threshold exactly
        val plen = posstat.groupBy("source").agg(
          coalesce(min(when(col("maxcnt") * 5 < col("total") * 4, col("i"))) - 1, lit(MaxScan))
            .cast("long").as("boiler_len"))
        toks.join(plen, "source")
          .select(col("doc_id"), col("source"), col("boiler_len"),
            (size(col("w")) - col("boiler_len")).cast("long").as("clean_tokens"),
            element_at(col("w"), (col("boiler_len") + 1).cast("int")).as("clean_head"),
            md5(concat_ws(" ",
              slice(col("w"), (col("boiler_len") + 1).cast("int"), size(col("w")))))
              .as("clean_md5"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH toks AS (
        |  SELECT doc_id, source,
        |    string_split('portal ' || source ||
        |      CASE WHEN right(source, 1) IN ('0','2','4','6','8')
        |           THEN ' extra' ELSE '' END || ' : ' || text, ' ') AS w
        |  FROM documents
        |), pos AS (
        |  SELECT source, i, w[i] AS tok FROM (
        |    SELECT source, w,
        |           unnest(generate_series(1, least(len(w), $MaxScan))) AS i
        |    FROM toks)
        |), posstat AS (
        |  SELECT source, i, max(cnt) AS maxcnt, sum(cnt) AS total FROM (
        |    SELECT source, i, tok, count(*) AS cnt FROM pos GROUP BY 1, 2, 3)
        |  GROUP BY 1, 2
        |), plen AS (
        |  SELECT source,
        |    CAST(coalesce(min(CASE WHEN maxcnt * 5 < total * 4 THEN i END) - 1,
        |                  $MaxScan) AS BIGINT) AS boiler_len
        |  FROM posstat GROUP BY source
        |)
        |SELECT t.doc_id, t.source, p.boiler_len,
        |  CAST(len(t.w) - p.boiler_len AS BIGINT) AS clean_tokens,
        |  t.w[CAST(p.boiler_len AS INT) + 1] AS clean_head,
        |  md5(array_to_string(t.w[CAST(p.boiler_len AS INT) + 1:], ' ')) AS clean_md5
        |FROM toks t JOIN plen p USING (source)
        |ORDER BY t.doc_id""".stripMargin))
  }

  /** PER-DOCUMENT SURPRISAL under the corpus unigram model — the
    * log-domain companion to [[docCommonness]] (whose linear mean is
    * dominated by stopword mass): each token scores
    * bits = ⌊log₂(N / c(tok))⌋, the whole-bit information content of
    * drawing that token from the corpus distribution, and a document
    * reports its token count, total and mean bits, and the bits of its
    * rarest token. This is the shape of a unigram-LM perplexity filter
    * (high mean-bits = unusual vocabulary, candidate jargon/noise; low
    * = templated/stopword-heavy) kept INTEGER-EXACT with no libm:
    * ⌊log₂ x⌋ = length(bin(x)) − 1 on the BIGINT floor quotient, a rule
    * both engines evaluate identically, so the only IEEE op is the one
    * closing mean division.
    *
    * Scale shape: the raw text is exploded ONCE into the (doc, token,
    * k) pair frame ([[docCommonness]]'s device); corpus counts derive
    * from Σk per token (map-combinable), the per-token join is keyed on
    * the token (AQE-splittable if a stopword key skews), and N rides a
    * broadcast 1-row frame. */
  val docSurprisal = OracleQuery(
    "doc_surprisal",
    (s, d) => {
      val t = Tables.documents(s, d)
        .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      val pairs = t.groupBy(col("doc_id"), col("tok"))
        .agg(count(lit(1)).as("k"))
      val cnt = pairs.groupBy(col("tok")).agg(sum(col("k")).as("c"))
      val tot = cnt.agg(sum(col("c")).as("n_total"))
      pairs.join(cnt, "tok")
        // bound: a one-row aggregate
        .crossJoin(broadcast(tot))
        .withColumn("bits", (length(bin(expr("n_total div c"))) - 1).cast("long"))
        .groupBy(col("doc_id"))
        .agg(sum(col("k")).as("n_tokens"),
          sum(col("k") * col("bits")).as("total_bits"),
          max(col("bits")).as("max_bits"))
        .withColumn("mean_bits",
          col("total_bits").cast("double") / col("n_tokens").cast("double"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH t AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
      |), pairs AS (
      |  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS k FROM t GROUP BY 1, 2
      |), c AS (
      |  SELECT tok, CAST(sum(k) AS BIGINT) AS c FROM pairs GROUP BY tok
      |), tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_total FROM c
      |), scored AS (
      |  SELECT p.doc_id, p.k,
      |         CAST(length(bin(n_total // c.c)) - 1 AS BIGINT) AS bits
      |  FROM pairs p JOIN c ON c.tok = p.tok, tot
      |)
      |SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_tokens,
      |       CAST(sum(k * bits) AS BIGINT) AS total_bits,
      |       max(bits) AS max_bits,
      |       CAST(sum(k * bits) AS DOUBLE) / CAST(sum(k) AS DOUBLE) AS mean_bits
      |FROM scored GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin))

  val all: Seq[OracleQuery] =
    Seq(textStats, langId, tokenCount, fingerprint, simhash, textClean,
      vocabTopk, urlStats, urlCanonical, textRedact, contamination, contaminationBloom,
      repetition, qualityFilter, docCommonness, docCoherence, textSearch,
      phraseSearch, docChunks,
      docKeywords, docDiversity, corpusZipf, sourceDivergence, vocabTypoPairs,
      boilerplate, docSurprisal)
}
