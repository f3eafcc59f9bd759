package graft.functions

import org.apache.spark.sql.catalyst.util.ArrayData

/** Float-vector kernels: the static targets of [[Kernels.dotF64]] and
  * [[Kernels.quantizeI8]].
  *
  * The dot product's composable form — `aggregate(zip_with(a, b, _*_), 0.0, _+_)` — is
  * a higher-order function, which Spark evaluates interpreted (lambda
  * expression eval per element, no whole-stage codegen). For an n²
  * verify stage that is the hot loop. This kernel is one compiled loop;
  * the fp result is bit-identical to the left-fold (sequential
  * `acc += a[i]·b[i]` in doubles, same order, float→double widening
  * exact), so the DuckDB oracle's left-assoc `+` chain still matches —
  * INCLUDING its null semantics: an array shorter than `dim` or a null
  * element makes the SQL `a[i]` term NULL and the whole sum NULL, so
  * the kernel returns null for those inputs rather than silently
  * truncating. */
object VectorMath {

  /** Int8 quantization kernel: codes = floor(clamp(v,−1,1)·127 + 0.5)
    * per dimension plus the max absolute reconstruction error, ONE
    * compiled pass. The composed form (`transform` + `zip_with` +
    * `aggregate`) is three interpreted HOF traversals per vector with
    * two intermediate arrays. fp ops mirror the SQL tree exactly:
    * clamp = greatest(−1, least(1, v)), floor(x·127+0.5),
    * err = |clamp − code/127.0|, max seeded at 0.0. Per-element null/NaN
    * semantics match the composed form it replaced: a NULL element
    * yields a NULL code and is skipped by the error max (SQL
    * least/greatest skip nulls); a NaN element clamps to 1.0 → code 127
    * (Spark's least/greatest order NaN greater than every value). */
  def quantizeI8(a: ArrayData): org.apache.spark.sql.catalyst.InternalRow = {
    if (a == null) return null
    val n = a.numElements()
    val codes = new Array[Any](n)
    var maxErr = 0.0
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i)) {
        val v = a.getFloat(i).toDouble
        val c = if (v.isNaN) 1.0 else math.max(-1.0, math.min(1.0, v))
        val code = math.floor(c * 127.0 + 0.5).toInt
        codes(i) = code
        val err = math.abs(c - code.toDouble / 127.0)
        if (err > maxErr) maxErr = err
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](new org.apache.spark.sql.catalyst.util.GenericArrayData(codes), maxErr))
  }

  /** Boxed result: null when either array is shorter than `dim` or any
    * read element is null — matching SQL null propagation. */
  def dotF64OrNull(a: ArrayData, b: ArrayData, dim: Int): java.lang.Double = {
    if (a.numElements() < dim || b.numElements() < dim) return null
    var acc = 0.0
    var i = 0
    while (i < dim) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }
}
