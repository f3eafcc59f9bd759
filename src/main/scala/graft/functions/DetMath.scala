package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Deterministic numeric helpers for oracle parity.
  *
  * Floating aggregation is order-dependent, and the DuckDB oracle does not
  * share Spark's partial-aggregation order. Rules used across every
  * oracle-checked query (SURVEY.md §7.4):
  *
  *  - money/quantity doubles are cast to exact DECIMAL before aggregation
  *    (the test data is 2-decimal; the cast is unambiguous on both engines);
  *  - averages are emitted as `CAST(sum_decimal AS DOUBLE) / count` — one
  *    IEEE division of identical inputs is bit-identical on both engines;
  *  - vector math uses explicit left-associated `+` chains, which both
  *    Spark (`reduceLeft`) and SQL (left-assoc `+`) evaluate in the same
  *    order → bit-identical doubles, no rounding tolerance needed.
  */
object DetMath {

  /** Exact money cast: 2-decimal double → DECIMAL(12,2). */
  def dec2(c: Column): Column = c.cast("decimal(12,2)")

  /** Deterministic average from an exact decimal sum. */
  def avgFromSum(sumDec: Column, cnt: Column): Column =
    sumDec.cast("double") / cnt.cast("double")

  /** Epoch-aligned time bucket (TimescaleDB `time_bucket` analog —
    * reference uses hypertable chunking on `time`,
    * custom_components/ltss/__init__.py:337-344). Pure codegen arithmetic:
    * floor(epoch_us / width) * width. */
  def timeBucket(ts: Column, widthUs: Long): Column =
    timestamp_micros(unix_micros(ts) - pmod(unix_micros(ts), lit(widthUs)))

  /** DuckDB SQL for the same bucket. */
  def timeBucketSql(ts: String, widthUs: Long): String =
    s"make_timestamp((epoch_us($ts) // $widthUs) * $widthUs)"

  // ------------------------------------------------------------------
  // Vector math over Array[Float] embedding columns (64-dim in testdata).
  // Left-associated explicit sums — identical fp order on Spark & DuckDB.
  // ------------------------------------------------------------------

  /** Dot product via the native [[graft.functions.Kernels.dotF64]] kernel: a compiled sequential
    * loop `acc += a[i]·b[i]` in doubles — the same fp order as SQL's
    * left-associated `+` chain (0.0 + x ≡ x), so the result is
    * bit-identical to [[dotSql]], and unlike the `aggregate`/`zip_with`
    * higher-order form it stays inside whole-stage codegen. The
    * expression is embedded DIRECTLY (no `SparkSession.active` registry
    * install — that would resolve against the wrong session in a
    * multi-session application); `dot_f64` stays SQL-reachable via
    * [[graft.plans.GraftExtensions]]. */
  def dotCol(a: Column, b: Column, dim: Int): Column = {
    Kernels.dotF64(a, b, lit(dim))
  }

  def dotSql(a: String, b: String, dim: Int): String =
    (1 to dim).map(i => s"CAST($a[$i] AS DOUBLE) * CAST($b[$i] AS DOUBLE)").mkString(" + ")

  /** cosine(a,b) = dot/(sqrt(aa)*sqrt(bb)) — structurally identical
    * expression trees on both engines. */
  def cosineCol(a: Column, b: Column, dim: Int): Column =
    dotCol(a, b, dim) / (sqrt(dotCol(a, a, dim)) * sqrt(dotCol(b, b, dim)))

  /** Precomputed L2 norm — compute once per VECTOR, not once per PAIR:
    * `dot/(na*nb)` is the same expression tree as [[cosineCol]] (sqrt of
    * the self-dot, then one multiply), so values stay bit-identical while
    * the n² verify stage stops paying 2 of its 3 dot products. */
  def normCol(e: Column, dim: Int): Column = sqrt(dotCol(e, e, dim))
  def normSql(e: String, dim: Int): String = s"sqrt(${dotSql(e, e, dim)})"

  def cosinePre(dot: Column, na: Column, nb: Column): Column = dot / (na * nb)
  def cosinePreSql(dot: String, na: String, nb: String): String = s"($dot) / ($na * $nb)"
}
