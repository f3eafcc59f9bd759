package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, MicrosToTimestamp, Pmod, Subtract, UnixMicros}
import graft.functions.{DotF64, Gram2Stats, Haversine, IsValidJson, MinHash8, MinShingleFp, PopLatLon, QuantizeI8, ShinglesK, SimHash16, SimHash64, TokenSetCount}

/** Catalyst extension point: registers graft's SQL functions so the full
  * surface is reachable from `spark.sql(...)`, not only the Column API.
  *
  *  - `time_bucket(width_us, ts)` — the TimescaleDB function the
  *    reference's hypertable serves (README.md:112-113), lowered to pure
  *    epoch arithmetic (`ts - ts % width`), i.e. it stays inside
  *    whole-stage codegen and costs one subtraction, not a UDF call.
  *  - `haversine_km(lat1, lon1, lat2, lon2)` — geo distance over the
  *    extracted location points.
  *
  * and two optimizer rules: [[HaversineBoxRule]] (sargable bounding box
  * for radius predicates) and [[SmallSortRule]] (a final sort of a
  * render-scale result runs in one task, with no range Exchange).
  *
  * Usable two ways: `SparkSession.builder.withExtensions(new
  * GraftExtensions)` at session build, or [[GraftExtensions.install]] on
  * a live session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => HaversineBoxRule)
    ext.injectOptimizerRule(_ => SmallSortRule)
    ext.injectFunction(GraftExtensions.timeBucketFn)
    ext.injectFunction(GraftExtensions.haversineFn)
    ext.injectFunction(GraftExtensions.popLatLonFn)
    ext.injectFunction(GraftExtensions.isValidJsonFn)
    ext.injectFunction(GraftExtensions.minhash8Fn)
    ext.injectFunction(GraftExtensions.dotF64Fn)
    ext.injectFunction(GraftExtensions.simhash16Fn)
    ext.injectFunction(GraftExtensions.simhash64Fn)
    ext.injectFunction(GraftExtensions.minShingleFpFn)
    ext.injectFunction(GraftExtensions.gram2StatsFn)
    ext.injectFunction(GraftExtensions.tokenSetCountFn)
    ext.injectFunction(GraftExtensions.shinglesKFn)
    ext.injectFunction(GraftExtensions.quantizeI8Fn)
    ext.injectFunction(GraftExtensions.md5Prefix64Fn)
  }
}

object GraftExtensions {

  private def timeBucketExpr(args: Seq[Expression]): Expression = args match {
    case Seq(width, ts) =>
      val us = UnixMicros(ts)
      MicrosToTimestamp(Subtract(us, Pmod(us, width)))
    case other =>
      throw new IllegalArgumentException(
        s"time_bucket expects (width_us, ts), got ${other.size} args")
  }

  val timeBucketFn: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("time_bucket"),
    new ExpressionInfo(classOf[MicrosToTimestamp].getName, "time_bucket"),
    timeBucketExpr)

  val haversineFn: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("haversine_km"),
    new ExpressionInfo(classOf[Haversine].getName, "haversine_km"),
    (args: Seq[Expression]) => Haversine(args(0), args(1), args(2), args(3)))

  val popLatLonFn: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("pop_latlon"),
    new ExpressionInfo(classOf[PopLatLon].getName, "pop_latlon"),
    (args: Seq[Expression]) => PopLatLon(args.head))

  val isValidJsonFn: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("is_valid_json"),
    new ExpressionInfo(classOf[IsValidJson].getName, "is_valid_json"),
    (args: Seq[Expression]) => IsValidJson(args.head))

  val minhash8Fn: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("minhash8"),
    new ExpressionInfo(classOf[MinHash8].getName, "minhash8"),
    (args: Seq[Expression]) => MinHash8(args.head))

  val dotF64Fn: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("dot_f64"),
    new ExpressionInfo(classOf[DotF64].getName, "dot_f64"),
    (args: Seq[Expression]) => DotF64(args(0), args(1),
      args(2).eval().asInstanceOf[Number].intValue()))

  val simhash16Fn: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("simhash16"),
    new ExpressionInfo(classOf[SimHash16].getName, "simhash16"),
    (args: Seq[Expression]) => SimHash16(args.head))

  val simhash64Fn: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("simhash64"),
    new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
    (args: Seq[Expression]) => SimHash64(args.head))

  val minShingleFpFn: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("min_shingle_fp"),
    new ExpressionInfo(classOf[MinShingleFp].getName, "min_shingle_fp"),
    (args: Seq[Expression]) => MinShingleFp(args(0),
      args(1).eval().asInstanceOf[Number].intValue()))

  val gram2StatsFn: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("gram2_stats"),
    new ExpressionInfo(classOf[Gram2Stats].getName, "gram2_stats"),
    (args: Seq[Expression]) => Gram2Stats(args.head))

  /** `token_set_count(text, word1, word2, ...)` — the word literals are
    * folded into the expression instance at resolution time. */
  val tokenSetCountFn: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("token_set_count"),
    new ExpressionInfo(classOf[TokenSetCount].getName, "token_set_count"),
    (args: Seq[Expression]) => TokenSetCount(args.head,
      args.tail.map(_.eval().toString)))

  val shinglesKFn: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("shingles_k"),
    new ExpressionInfo(classOf[ShinglesK].getName, "shingles_k"),
    (args: Seq[Expression]) => ShinglesK(args(0),
      args(1).eval().asInstanceOf[Number].intValue()))

  val quantizeI8Fn: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("quantize_i8"),
    new ExpressionInfo(classOf[QuantizeI8].getName, "quantize_i8"),
    (args: Seq[Expression]) => QuantizeI8(args.head))

  /** The sketch-family hash (KMV, CMS, soft-dedup coins) as a SQL
    * function — DuckDB twin: CAST(concat('0x', substring(md5(x), 1,
    * 15)) AS BIGINT). */
  val md5Prefix64Fn: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("md5_prefix64"),
    new ExpressionInfo(classOf[graft.functions.Md5Prefix64].getName, "md5_prefix64"),
    (args: Seq[Expression]) => graft.functions.Md5Prefix64(args.head))

  /** Idempotent registration on an already-built session. The optimizer
    * rules go through `experimental.extraOptimizations` (a live session
    * cannot take extension injections); predicates the box rule adds still reach
    * `PushedFilters` because data-source pushdown extracts sargable
    * conjuncts from the scan-adjacent Filter at PHYSICAL planning. */
  def install(spark: SparkSession): Unit = {
    val rules = Seq(HaversineBoxRule, SmallSortRule)
    spark.experimental.extraOptimizations = spark.experimental.extraOptimizations ++
      rules.filterNot(spark.experimental.extraOptimizations.contains)
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("time_bucket", timeBucketExpr, "built-in")
    reg.createOrReplaceTempFunction("haversine_km",
      args => Haversine(args(0), args(1), args(2), args(3)), "built-in")
    reg.createOrReplaceTempFunction("pop_latlon",
      args => PopLatLon(args.head), "built-in")
    reg.createOrReplaceTempFunction("is_valid_json",
      args => IsValidJson(args.head), "built-in")
    reg.createOrReplaceTempFunction("minhash8",
      args => MinHash8(args.head), "built-in")
    reg.createOrReplaceTempFunction("dot_f64",
      args => DotF64(args(0), args(1), args(2).eval().asInstanceOf[Number].intValue()),
      "built-in")
    reg.createOrReplaceTempFunction("simhash16",
      args => SimHash16(args.head), "built-in")
    reg.createOrReplaceTempFunction("simhash64",
      args => SimHash64(args.head), "built-in")
    reg.createOrReplaceTempFunction("min_shingle_fp",
      args => MinShingleFp(args(0), args(1).eval().asInstanceOf[Number].intValue()),
      "built-in")
    reg.createOrReplaceTempFunction("gram2_stats",
      args => Gram2Stats(args.head), "built-in")
    reg.createOrReplaceTempFunction("token_set_count",
      args => TokenSetCount(args.head, args.tail.map(_.eval().toString)), "built-in")
    reg.createOrReplaceTempFunction("shingles_k",
      args => ShinglesK(args(0), args(1).eval().asInstanceOf[Number].intValue()),
      "built-in")
    reg.createOrReplaceTempFunction("quantize_i8",
      args => QuantizeI8(args.head), "built-in")
    reg.createOrReplaceTempFunction("md5_prefix64",
      args => graft.functions.Md5Prefix64(args.head), "built-in")
  }
}
