package graft.functions

import java.lang.reflect.Method
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{Block, CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** What a kernel argument accepts, and the Java class its static target
  * takes for it. A column kind is evaluated per row; a literal kind is
  * folded into the generated call once and costs no per-row work. */
sealed abstract class ArgKind(val sql: String, val javaClass: Class[_], val literal: Boolean)
    extends Serializable {
  def accepts(e: Expression): Boolean
}

object ArgKind {
  /** A STRING column, passed as `UTF8String`. */
  case object Text extends ArgKind("STRING", classOf[UTF8String], literal = false) {
    def accepts(e: Expression): Boolean = e.dataType == StringType
  }

  /** An ARRAY<FLOAT> column, passed as `ArrayData`. */
  case object Floats extends ArgKind("ARRAY<FLOAT>", classOf[ArrayData], literal = false) {
    def accepts(e: Expression): Boolean = e.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
  }

  /** A positive INT literal (a shingle size, a dimension), inlined. */
  case object Size extends ArgKind("INT literal > 0", Integer.TYPE, literal = true) {
    def accepts(e: Expression): Boolean = e.dataType == IntegerType && e.foldable &&
      (e.eval() match { case k: Int => k > 0; case _ => false })
  }

  /** The rest of the call: STRING literals, passed as one `byte[][]` of
    * their UTF-8 bytes. */
  case object Words extends ArgKind("STRING literal, ...", classOf[Array[Array[Byte]]],
      literal = true) {
    def accepts(e: Expression): Boolean =
      e.dataType == StringType && e.foldable && e.eval() != null
  }
}

/** One native kernel: a SQL function whose whole evaluation is one call
  * of the static target `owner.method`. A column argument that is null
  * makes the result null without a call; `nullResult` says the target
  * itself may return null (a boxed result). */
final case class Kernel(
    name: String,
    owner: String,
    method: String,
    args: Seq[(String, ArgKind)],
    dataType: DataType,
    nullResult: Boolean = false) {

  /** The Column-API entry point. The expression is embedded directly, so
    * it resolves in whatever session analyzes the plan. */
  def apply(cols: Column*): Column = {
    import org.apache.spark.sql.GraftColumns.{columnOf, expressionOf}
    columnOf(NativeCall(this, cols.map(expressionOf)))
  }

  def signature: String = args.map { case (n, k) => s"$n ${k.sql}" }.mkString(s"$name(", ", ", ")")
}

/** A [[Kernel]] applied to its arguments. The type check is strict: a
  * caller's wrong type fails analysis, it is not cast. Codegen emits one
  * static call, so the kernel stays inside whole-stage codegen;
  * interpreted evaluation invokes the same target by reflection. */
case class NativeCall(kernel: Kernel, children: Seq[Expression]) extends Expression {

  /** The kind of each child: a trailing [[ArgKind.Words]] covers every
    * remaining child. */
  @transient private lazy val kinds: Seq[ArgKind] = kernel.args.map(_._2) match {
    case ks :+ ArgKind.Words => ks ++ Seq.fill(children.size - ks.size)(ArgKind.Words)
    case ks => ks
  }

  @transient private lazy val words: Array[Array[Byte]] = children.zip(kinds).collect {
    case (c, ArgKind.Words) => c.eval().asInstanceOf[UTF8String].getBytes
  }.toArray

  @transient private lazy val target: Method = Class.forName(kernel.owner)
    .getMethod(kernel.method, kernel.args.map(_._2.javaClass): _*)

  override def dataType: DataType = kernel.dataType
  override def nullable: Boolean = kernel.nullResult || children.exists(_.nullable)
  override def foldable: Boolean = children.forall(_.foldable)
  override def prettyName: String = kernel.name
  override protected def stringArgs: Iterator[Any] = children.iterator

  override def checkInputDataTypes(): TypeCheckResult =
    if (kinds.size == children.size && kinds.zip(children).forall { case (k, c) => k.accepts(c) })
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"expected ${kernel.signature}, got " +
      children.map(c => if (c.foldable) c.sql else c.dataType.simpleString)
        .mkString(s"${kernel.name}(", ", ", ")"))

  /** The target's arguments: each child's value, the words folded into one. */
  private def params[T](value: Int => T, wordsRef: => T): Seq[T] =
    kernel.args.indices.map(i => if (kernel.args(i)._2 == ArgKind.Words) wordsRef else value(i))

  override def eval(input: InternalRow): Any = {
    val values = params[AnyRef](children(_).eval(input).asInstanceOf[AnyRef], words)
    if (values.contains(null)) null else target.invoke(null, values: _*)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cols = kinds.indices.filterNot(kinds(_).literal).map(i => i -> children(i).genCode(ctx))
    val colValue = cols.toMap
    val args = params[String](i => colValue.get(i).fold(children(i).eval().toString)(_.value.toString),
      ctx.addReferenceObj("words", words, "byte[][]"))
    val call = s"${kernel.owner}.${kernel.method}(${args.mkString(", ")})"
    val javaType = CodeGenerator.javaType(dataType)
    val assign = if (!kernel.nullResult) s"${ev.value} = $call;" else {
      val boxed = ctx.freshName("boxed")
      val unboxed = if (CodeGenerator.isPrimitiveType(dataType)) s"$boxed.${javaType}Value()" else boxed
      s"${CodeGenerator.boxedType(dataType)} $boxed = $call;\n" +
        s"if ($boxed == null) { ${ev.isNull} = true; } else { ${ev.value} = $unboxed; }"
    }
    val inputs = Block.blocksToBlock(cols.map(_._2.code))
    val nullIn = cols.collect { case (i, g) if children(i).nullable => g.isNull.toString }
    if (!nullable) ev.copy(code = code"""
      $inputs
      $javaType ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
      $assign""", isNull = FalseLiteral)
    else ev.copy(code = code"""
      $inputs
      boolean ${ev.isNull} = false;
      $javaType ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
      ${if (nullIn.isEmpty) assign
        else s"if (${nullIn.mkString(" || ")}) { ${ev.isNull} = true; } else { $assign }"}""")
  }

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(children = newChildren)
}

/** Every static-call kernel, one row each: SQL name, static target,
  * arguments, result type. [[graft.plans.GraftExtensions]] registers
  * these rows for `spark.sql`; code calls a row directly
  * (`Kernels.minhash8(col("text"))`). */
object Kernels {
  import ArgKind._

  private def ownerOf(o: AnyRef): String = o.getClass.getName.stripSuffix("$")
  private val text = ownerOf(TextHash)
  private val json = ownerOf(JsonOps)
  private val vector = ownerOf(VectorMath)

  /** 8-slot MinHash signature of 2-word shingles. */
  val minhash8 = Kernel("minhash8", text, "minhash8", Seq("text" -> Text), ArrayType(StringType))
  /** 16-bit SimHash: one md5 per token. */
  val simhash16 = Kernel("simhash16", text, "simhash16", Seq("text" -> Text), StringType)
  /** 64-bit SimHash for 4×16-bit banding. */
  val simhash64 = Kernel("simhash64", text, "simhash64", Seq("text" -> Text), StringType)
  /** First 60 bits of md5(text): bijective with the oracle's
    * `substring(md5(x), 1, 15)`. */
  val md5Prefix64 = Kernel("md5_prefix64", text, "md5Prefix64", Seq("text" -> Text), LongType)
  /** [n_tokens, n_2grams, n_uniq_2grams]. */
  val gram2Stats = Kernel("gram2_stats", text, "gram2Stats", Seq("text" -> Text),
    ArrayType(LongType))
  /** Count of tokens in the literal word set. */
  val tokenSetCount = Kernel("token_set_count", text, "tokenSetCount",
    Seq("text" -> Text, "word" -> Words), LongType)
  /** The k-word shingles. */
  val shinglesK = Kernel("shingles_k", text, "shinglesK", Seq("text" -> Text, "k" -> Size),
    ArrayType(StringType))
  /** Min md5 over the k-word shingles. */
  val minShingleFp = Kernel("min_shingle_fp", text, "minShingleFp",
    Seq("text" -> Text, "k" -> Size), StringType)
  /** The JSON text without its top-level `latitude`/`longitude` members. */
  val popLatLon = Kernel("pop_latlon", json, "popLatLon", Seq("attributes" -> Text), StringType)
  /** Whether the text parses as one JSON value. */
  val isValidJson = Kernel("is_valid_json", json, "isValidJson", Seq("text" -> Text),
    BooleanType)
  /** STRUCT<codes: ARRAY<INT>, max_abs_err: DOUBLE> of an int8 quantization. */
  val quantizeI8 = Kernel("quantize_i8", vector, "quantizeI8", Seq("embedding" -> Floats),
    StructType(Seq(StructField("codes", ArrayType(IntegerType)),
      StructField("max_abs_err", DoubleType))), nullResult = true)
  /** Left-fold dot product over the first `dim` elements; null when an
    * array is shorter or a read element is null. */
  val dotF64 = Kernel("dot_f64", vector, "dotF64OrNull",
    Seq("a" -> Floats, "b" -> Floats, "dim" -> Size), DoubleType, nullResult = true)

  val all: Seq[Kernel] = Seq(minhash8, simhash16, simhash64, md5Prefix64, gram2Stats,
    tokenSetCount, shinglesK, minShingleFp, popLatLon, isValidJson, quantizeI8, dotF64)
}
