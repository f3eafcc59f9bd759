package graft

import org.apache.spark.sql.{AnalysisException, Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions._
import graft.functions.{Haversine, Kernels}
import graft.plans.GraftExtensions

/** Native text-hash kernels vs the composed built-in expressions they
  * replace: the kernels must be bit-identical on every token-structure
  * edge case (the composed forms are the executable spec the DuckDB
  * oracles were written against). */
class KernelSpec extends SparkSpec {
  import spark.implicits._

  // adversarial token structures: empties from leading/trailing/double
  // spaces, single token, exactly-k tokens, unicode, long docs
  private val fixtures = Seq(
    "",
    " ",
    "  ",
    "one",
    "one two",
    "one two three four five",
    "one two three four five six seven",
    " leading space",
    "trailing space ",
    "double  space inside",
    "unicode tøkens æøå 漢字 emoji🙂 mixed",
    "a b a b a b a b a b a b a b",
    Seq.tabulate(300)(i => s"w${i % 17}").mkString(" "))

  /** The composed (pre-kernel) simhash expression — 16 interpreted
    * aggregate passes, one md5 per (token, bit). */
  private def composedSimhash(text: Column): Column = {
    val w = split(text, " ")
    val bits = (1 to 16).map { j =>
      val weight = (tok: Column) =>
        when(substring(md5(tok), j, 1).isin("8", "9", "a", "b", "c", "d", "e", "f"), 1)
          .otherwise(-1)
      val s0 = aggregate(w, lit(0), (acc, tok) => acc + weight(tok))
      when(s0 > 0, lit("1")).otherwise(lit("0"))
    }
    concat(bits: _*)
  }

  /** The composed (pre-kernel) min-shingle fingerprint for k=5.
    * `try_element_at`, not `element_at`: under Spark 4's ANSI default an
    * out-of-range index THROWS, so the original composed query would
    * have failed on any <5-token doc — the DuckDB oracle's list indexing
    * yields NULL there (concat_ws skips it), which is what the kernel
    * and this spec implement. */
  private def composedMinShingle(text: Column): Column = {
    val w = split(text, " ")
    val shingles = transform(
      sequence(lit(1), greatest(size(w) - 4, lit(1))),
      i => concat_ws(" ", try_element_at(w, i), try_element_at(w, i + 1),
        try_element_at(w, i + 2), try_element_at(w, i + 3), try_element_at(w, i + 4)))
    array_min(transform(shingles, sh => md5(sh)))
  }

  test("simhash16 kernel is bit-identical to the composed aggregate form") {
    val df = fixtures.toDF("text").select(
      col("text"),
      Kernels.simhash16(col("text")).as("kernel"),
      composedSimhash(col("text")).as("composed"))
    val bad = df.filter(col("kernel") =!= col("composed")).collect()
    assert(bad.isEmpty, s"mismatches: ${bad.mkString("; ")}")
    // the kernel propagates null; the QUERY's coalesce restores the
    // composed/oracle behavior (CASE ... ELSE '0' → all-zero hash)
    val n = Seq[Option[String]](None).toDF("text").select(
      coalesce(Kernels.simhash16(col("text")), lit("0" * 16)).as("kernel"),
      composedSimhash(col("text")).as("composed")).head()
    assert(n.getString(0) == "0000000000000000" && n.getString(0) == n.getString(1))
  }

  test("min_shingle_fp kernel is bit-identical to the composed transform form") {
    val df = fixtures.toDF("text").select(
      col("text"),
      Kernels.minShingleFp(col("text"), lit(5)).as("kernel"),
      composedMinShingle(col("text")).as("composed"))
    val bad = df.filter(col("kernel") =!= col("composed")).collect()
    assert(bad.isEmpty, s"mismatches: ${bad.mkString("; ")}")
  }

  test("simhash and doc_fingerprint queries run the kernels — no interpreted HOF in the plan") {
    for (q <- Seq(graft.operators.TextOps.simhash, graft.operators.TextOps.fingerprint)) {
      val plan = q.run(spark, "/root/testdata/sf0.001").queryExecution.executedPlan.toString
      assert(!plan.contains("aggregate(") && !plan.contains("transform("),
        s"${q.name}: higher-order function leaked into the plan:\n$plan")
      assert(plan.contains("simhash16") || plan.contains("min_shingle_fp"),
        s"${q.name}: kernel missing from the plan:\n$plan")
    }
  }

  test("quality-signal queries run the stats kernels — no interpreted HOF in their plans") {
    val plans = Seq(
      graft.operators.TextOps.repetition.name ->
        graft.operators.TextOps.repetition.run(spark, "/root/testdata/sf0.001"),
      graft.operators.TextOps.qualityFilter.name ->
        graft.operators.TextOps.qualityFilter.run(spark, "/root/testdata/sf0.001"),
      graft.operators.TextOps.langId.name ->
        graft.operators.TextOps.langId.run(spark, "/root/testdata/sf0.001"),
      // the pipelines' quality scan lives in the shared stage frame's
      // BUILD plan (consumers read the persisted InMemoryRelation);
      // its passage gate legitimately carries the ONE chunking
      // transform lambda dedup_passage has always used, so only the
      // kernel-presence half applies to it
      "pipeline_stage_build" ->
        graft.operators.Pipeline.stageFrameBuild(spark, "/root/testdata/sf0.001"))
    for ((name, df) <- plans) {
      val plan = df.queryExecution.executedPlan.toString
      assert(name == "pipeline_stage_build" || !plan.contains("lambdafunction"),
        s"$name: interpreted lambda leaked into the plan:\n$plan")
      assert(plan.contains("gram2_stats") || plan.contains("token_set_count"),
        s"$name: stats kernel missing from the plan:\n$plan")
    }
  }

  /** The fixture texts plus JSON shapes, a null text, float vectors of
    * 0 to 4 elements (shorter than `dim` makes `dot_f64` null), points
    * and instants: one input row per fixture. */
  private def kernelInputs(s: SparkSession): DataFrame = {
    import s.implicits._
    val texts = fixtures.map(Option(_)) ++ Seq(Some("""{"latitude": 1.5, "k": {"latitude": 2}, "longitude": [3]}"""),
      Some("{not json"), Some("[1, 2]"), None)
    texts.zipWithIndex.map { case (t, i) =>
      (i, t, Seq.tabulate(i % 5)(j => (j - i) / 3.0f), Seq.tabulate(4)(j => j * 0.5f - i),
        55.0 + i / 7.0, 4.0 + i / 3.0, new java.sql.Timestamp(1700000000000L + i * 977777777L))
    }.toDF("id", "text", "emb", "emb2", "lat", "lon", "ts")
  }

  /** One call of every registered function over [[kernelInputs]]: its name,
    * its SQL text and its Column-API form. */
  private lazy val calls: Seq[(String, String, Column)] = Seq(
    ("minhash8", "minhash8(text)", Kernels.minhash8(col("text"))),
    ("simhash16", "simhash16(text)", Kernels.simhash16(col("text"))),
    ("simhash64", "simhash64(text)", Kernels.simhash64(col("text"))),
    ("md5_prefix64", "md5_prefix64(text)", Kernels.md5Prefix64(col("text"))),
    ("gram2_stats", "gram2_stats(text)", Kernels.gram2Stats(col("text"))),
    ("token_set_count", "token_set_count(text, 'a', 'one', 'æøå')",
      Kernels.tokenSetCount(col("text"), lit("a"), lit("one"), lit("æøå"))),
    ("shingles_k", "shingles_k(text, 3)", Kernels.shinglesK(col("text"), lit(3))),
    ("min_shingle_fp", "min_shingle_fp(text, 5)", Kernels.minShingleFp(col("text"), lit(5))),
    ("pop_latlon", "pop_latlon(text)", Kernels.popLatLon(col("text"))),
    ("is_valid_json", "is_valid_json(text)", Kernels.isValidJson(col("text"))),
    ("quantize_i8", "quantize_i8(emb)", Kernels.quantizeI8(col("emb"))),
    ("dot_f64", "dot_f64(emb, emb2, 3)", Kernels.dotF64(col("emb"), col("emb2"), lit(3))),
    ("haversine_km", "haversine_km(lat, lon, 59.9D, 10.7D)",
      Haversine.haversineKm(col("lat"), col("lon"), lit(59.9), lit(10.7))),
    ("time_bucket", "time_bucket(3600000000L, ts)",
      timestamp_micros(unix_micros(col("ts")) - pmod(unix_micros(col("ts")), lit(3600000000L)))))

  test("kernels are reachable from spark.sql via GraftExtensions") {
    assert(calls.map(_._1).toSet == GraftExtensions.functions.map(_._1.funcName).toSet)
    // a new session of the shared one gets its functions from the
    // injected extension only; the second has them dropped, then installed
    val viaExtension = spark.newSession()
    val viaInstall = spark.newSession()
    for ((name, _, _) <- calls)
      viaInstall.sessionState.functionRegistry.dropFunction(FunctionIdentifier(name))
    intercept[AnalysisException](viaInstall.sql("SELECT minhash8('a b')"))
    GraftExtensions.install(viaInstall)
    // install leaves the extension's entries as they are: the same function
    // and ExpressionInfo instances (a replaced one logs a WARN per function)
    def entries(s: SparkSession) = calls.map { case (name, _, _) =>
      val reg = s.sessionState.functionRegistry
      (reg.lookupFunctionBuilder(FunctionIdentifier(name)).get, reg.lookupFunction(FunctionIdentifier(name)).get)
    }
    val before = entries(viaExtension)
    GraftExtensions.install(viaExtension)
    val kept = entries(viaExtension).zip(before).forall { case ((b1, i1), (b0, i0)) => (b1 eq b0) && (i1 eq i0) }
    assert(kept, "install replaced a function the extension registered")
    for (s <- Seq(viaExtension, viaInstall)) kernelInputs(s).createOrReplaceTempView("kernel_in")
    val input = kernelInputs(spark)
    def rows(df: DataFrame) = df.orderBy("id").collect().toSeq
    for ((name, sql, column) <- calls) {
      val want = rows(input.select(col("id"), column.as("r")))
      // interpreted evaluation reaches the same static target by reflection
      val interpreted = withConf("spark.sql.codegen.wholeStage", "false") {
        withConf("spark.sql.codegen.factoryMode", "NO_CODEGEN") {
          rows(input.select(col("id"), column.as("r")))
        }
      }
      assert(interpreted == want, s"$name: interpreted and generated code differ")
      for ((how, s) <- Seq("extension" -> viaExtension, "install" -> viaInstall))
        assert(rows(s.sql(s"SELECT id, $sql AS r FROM kernel_in")) == want,
          s"$name: spark.sql through the $how differs from the Column API")
    }
  }

  test("SQL calls that do not fit a kernel's row fail at analysis, naming its arguments") {
    for ((query, signature) <- Seq(
        "SELECT minhash8()" -> "minhash8(text STRING)",
        "SELECT shingles_k(t, n) FROM VALUES ('a b c', 2) AS v(t, n)" ->
          "shingles_k(text STRING, k INT literal > 0)",
        "SELECT token_set_count('a b', NULL)" -> "token_set_count(text STRING, word STRING literal, ...)")) {
      val e = intercept[AnalysisException](spark.sql(query).collect())
      assert(e.getMessage.contains(s"expected $signature"), s"$query: ${e.getMessage}")
    }
  }

  test("md5_prefix64 in SQL matches the kernel and the DuckDB hex form") {
    graft.plans.GraftExtensions.install(spark)
    val got = spark.sql("SELECT md5_prefix64('click.7') AS h").collect()(0).getLong(0)
    val direct = graft.functions.TextHash.md5Prefix64(
      org.apache.spark.unsafe.types.UTF8String.fromString("click.7"))
    assert(got == direct)
    // the DuckDB twin: first 15 md5 hex chars as a long (60-bit, ≥ 0)
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest("click.7".getBytes("UTF-8"))
    val hex = md.map(b => f"$b%02x").mkString.take(15)
    assert(got == java.lang.Long.parseLong(hex, 16) && got >= 0L)
  }
}
