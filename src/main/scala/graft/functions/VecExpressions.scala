package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}
import org.apache.spark.sql.{Column, SparkSessionExtensions}

/** Native Catalyst expression for the similarity hot path: the dot product
  * of two float vectors, each element widened to double and summed in index
  * order — the exact fold of the DuckDB oracle and of the previous
  * `aggregate(zip_with(...))` formulation, but WITHOUT materializing the
  * zipped intermediate array per pair (the higher-order-function version
  * allocates an array<double> for every scored pair; at top-k scale that is
  * one allocation per corpus row per query).
  *
  * Codegen'd (`doGenCode`): the generated loop reads both `ArrayData`
  * buffers in place, so the whole score expression stays inside whole-stage
  * codegen. This is the preference order the project mandates: a native
  * Expression with codegen beats a Scala UDF
  * (SURVEY.md §6 "Functions, not UDFs").
  *
  * Element-null semantics: embedding arrays carry no null elements by
  * contract; unlike the HOF fold (which would return NULL on a null
  * element), this expression reads the raw buffer. Do not use it on columns
  * whose arrays may contain nulls. Mismatched lengths return NULL — the same
  * surfacing the HOF fold gives (zip_with pads with nulls), so a wrong-dim
  * query vector cannot yield a silently-truncated plausible score.
  */
case class FloatVecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ =>
        TypeCheckResult.TypeCheckFailure(
          s"graft_dot requires (array<float>, array<float>), got (${left.dataType}, ${right.dataType})")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getFloat(i).toDouble * y.getFloat(i).toDouble; i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $s += ((double) $a.getFloat($i)) * ((double) $b.getFloat($i));
         |  }
         |  ${ev.value} = $s;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FloatVecDot =
    copy(left = newLeft, right = newRight)
}

object VecFunctions {
  import org.apache.spark.sql.graft.Shims
  /** Column-level entry point used by ops.Similarity. */
  def dotF(a: Column, b: Column): Column =
    Shims.column(FloatVecDot(Shims.expression(a), Shims.expression(b)))
}

/** SparkSessionExtensions hook: registers `graft_dot` so SQL users (and
  * `spark.sql(...)` pipelines) can call the native expression directly —
  * enable with
  * `.config("spark.sql.extensions", "graft.functions.GraftExtensions")`
  * (a STATIC conf: it must be present when the SparkContext is created). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(GraftExtensions.GraftDot)
    ext.injectFunction(GraftExtensions.GraftNfc)
    ext.injectFunction(GraftExtensions.GraftCanonUrl)
    ext.injectFunction(GraftExtensions.GraftAsciiTokens)
    ext.injectFunction(GraftExtensions.GraftAsciiTokenCount)
    ext.injectFunction(GraftExtensions.GraftTokenNgrams)
    ext.injectFunction(GraftExtensions.GraftWindowKeys)
    ext.injectFunction(GraftExtensions.GraftLangId)
  }
}

object GraftExtensions {
  /** The (identifier, info, builder) triples — shared by the extensions hook
    * and by direct FunctionRegistry registration on an existing session. */
  val GraftDot: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_dot"),
    new ExpressionInfo(classOf[FloatVecDot].getName, "graft_dot"),
    (children: Seq[Expression]) => {
      require(children.length == 2, "graft_dot takes exactly 2 arguments")
      FloatVecDot(children(0), children(1))
    })

  val GraftNfc: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_nfc"),
    new ExpressionInfo(classOf[NfcNormalize].getName, "graft_nfc"),
    (children: Seq[Expression]) => {
      require(children.length == 1, "graft_nfc takes exactly 1 argument")
      NfcNormalize(children.head)
    })

  val GraftCanonUrl: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_canon_url"),
    new ExpressionInfo(classOf[CanonUrl].getName, "graft_canon_url"),
    (children: Seq[Expression]) => {
      require(children.length == 1, "graft_canon_url takes exactly 1 argument")
      CanonUrl(children.head)
    })

  val GraftLangId: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_lang_id"),
    new ExpressionInfo(classOf[LangIdFeatures].getName, "graft_lang_id"),
    (children: Seq[Expression]) => {
      require(children.length == 1, "graft_lang_id takes exactly 1 argument")
      LangIdFeatures(children.head)
    })

  val GraftAsciiTokens: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_ascii_tokens"),
    new ExpressionInfo(classOf[AsciiTokens].getName, "graft_ascii_tokens"),
    (children: Seq[Expression]) => {
      require(children.length == 1, "graft_ascii_tokens takes exactly 1 argument")
      AsciiTokens(children.head)
    })

  val GraftAsciiTokenCount: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_ascii_token_count"),
    new ExpressionInfo(classOf[AsciiTokenCount].getName, "graft_ascii_token_count"),
    (children: Seq[Expression]) => {
      require(children.length == 1, "graft_ascii_token_count takes exactly 1 argument")
      AsciiTokenCount(children.head)
    })

  /** SQL form requires a foldable INT second argument (the window width is a
    * plan-time parameter, mirroring the Column API's Int). */
  private def foldableN(name: String, e: Expression): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int,
      org.apache.spark.sql.types.IntegerType) => v
    case other =>
      throw new IllegalArgumentException(
        s"$name requires a literal INT n, got $other")
  }

  val GraftTokenNgrams: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_token_ngrams"),
    new ExpressionInfo(classOf[TokenNgrams].getName, "graft_token_ngrams"),
    (children: Seq[Expression]) => {
      require(children.length == 2, "graft_token_ngrams takes (array<string>, n)")
      TokenNgrams(children(0), foldableN("graft_token_ngrams", children(1)))
    })

  val GraftWindowKeys: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_window_keys"),
    new ExpressionInfo(classOf[WindowXx64Keys].getName, "graft_window_keys"),
    (children: Seq[Expression]) => {
      require(children.length == 2, "graft_window_keys takes (array<string>, n)")
      WindowXx64Keys(children(0), foldableN("graft_window_keys", children(1)))
    })
}
