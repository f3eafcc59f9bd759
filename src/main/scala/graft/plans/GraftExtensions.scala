package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, MicrosToTimestamp, Pmod, Subtract, UnixMicros}
import graft.functions.{Haversine, Kernels, NativeCall}

/** Catalyst extension point: registers graft's SQL functions so the full
  * surface is reachable from `spark.sql(...)`, not only the Column API.
  *
  *  - `time_bucket(width_us, ts)` — the TimescaleDB function the
  *    reference's hypertable serves (README.md:112-113), lowered to pure
  *    epoch arithmetic (`ts - ts % width`), i.e. it stays inside
  *    whole-stage codegen and costs one subtraction, not a UDF call.
  *  - `haversine_km(lat1, lon1, lat2, lon2)` — geo distance over the
  *    extracted location points.
  *  - one function per row of [[graft.functions.Kernels]]: the text-hash,
  *    JSON and vector kernels.
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
    GraftExtensions.functions.foreach(ext.injectFunction)
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

  /** Every graft SQL function, registered from this one list by both
    * [[GraftExtensions.apply]] and [[install]]. */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = (
    Seq[(String, Class[_], Seq[Expression] => Expression)](
      ("time_bucket", classOf[MicrosToTimestamp], timeBucketExpr),
      ("haversine_km", classOf[Haversine], args => Haversine(args(0), args(1), args(2), args(3)))) ++
      Kernels.all.map(k => (k.name, classOf[NativeCall], (args: Seq[Expression]) => NativeCall(k, args)))
  ).map { case (name, cls, build) => (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build) }

  /** Idempotent registration on an already-built session. The optimizer
    * rules go through `experimental.extraOptimizations` (a live session
    * cannot take extension injections); predicates the box rule adds still reach
    * `PushedFilters` because data-source pushdown extracts sargable
    * conjuncts from the scan-adjacent Filter at PHYSICAL planning. A
    * function whose registered entry already names the list's class and
    * name (a session built with the extension, or installed before) is
    * left as it is. */
  def install(spark: SparkSession): Unit = {
    val rules = Seq(HaversineBoxRule, SmallSortRule)
    spark.experimental.extraOptimizations = spark.experimental.extraOptimizations ++
      rules.filterNot(spark.experimental.extraOptimizations.contains)
    val reg = spark.sessionState.functionRegistry
    def held(id: FunctionIdentifier, info: ExpressionInfo) = reg.lookupFunction(id)
      .exists(i => i.getClassName == info.getClassName && i.getName == info.getName)
    functions.foreach { case (id, info, build) => if (!held(id, info)) reg.registerFunction(id, info, build) }
  }
}
