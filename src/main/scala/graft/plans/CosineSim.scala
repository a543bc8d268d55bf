package graft.plans

import org.apache.spark.sql.{Column, GraftSql, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Cosine similarity over two `array<double>` columns as a NATIVE
  * codegen'd Catalyst expression (SURVEY.md §4 "custom-extension
  * verdict" — the one scalar worth a doGenCode).
  *
  * One fused loop accumulates dot product and both norms — the same
  * sequential order as the [[graft.functions.VectorOps]] HOF fold (so
  * results are bit-identical and oracle parity is preserved), but inside
  * WholeStageCodegen instead of three interpreted aggregate/zip_with
  * chains per pair. NULL when either side is null, lengths differ, an
  * element is null (the zip_with fold's null-padding/poisoning, exactly),
  * or a norm is zero (zero vectors have no direction — `cosine`'s nullif).
  */
case class CosineSim(left: Expression, right: Expression,
    zeroMode: String = CosineSim.ZeroNull)
  extends BinaryExpression {

  private def isDoubleArray(t: DataType): Boolean = t match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (isDoubleArray(left.dataType) && isDoubleArray(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"cosine_sim expects (array<double>, array<double>), " +
          s"got (${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  /** Null elements only need runtime checks when the schema admits them.
    * lazy val: the interpreted path calls this per element per row, and
    * the two dataType casts + field reads must not run there. */
  private lazy val mayHaveNullElems: Boolean =
    left.dataType.asInstanceOf[ArrayType].containsNull ||
      right.dataType.asInstanceOf[ArrayType].containsNull

  override def nullSafeEval(a: Any, b: Any): Any = {
    val xs = a.asInstanceOf[ArrayData]
    val ys = b.asInstanceOf[ArrayData]
    val n = xs.numElements()
    // Length mismatch / null element → NULL in EVERY mode, matching the
    // HOF fold this expression replaces: zip_with null-pads the shorter
    // side and a null poisons the whole fold (null ÷ null is null even
    // under ANSI, so no mode distinction arises).
    if (n != ys.numElements()) return null
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      if (mayHaveNullElems && (xs.isNullAt(i) || ys.isNullAt(i))) return null
      val x = xs.getDouble(i); val y = ys.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    // zeroMode preserves the semantics of whatever the expression
    // replaced: the library default is SQL-ish NULL (zero vectors have
    // no direction); FuseCosine rewrites of a raw Divide carry that
    // divide's eval-mode behavior instead (ANSI error / legacy NaN).
    if (denom == 0.0) zeroMode match {
      case CosineSim.ZeroNan => dot / denom
      case CosineSim.ZeroAnsi => throw org.apache.spark.sql.GraftSql.divideByZeroError()
      case _ => null
    } else dot / denom
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      val denom = ctx.freshName("denom")
      // Elementwise null checks are emitted only when the schema admits
      // null elements, so the common dense-embedding loop stays branch-free.
      val nullElemCheck =
        if (mayHaveNullElems)
          s"if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }"
        else ""
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $a.numElements();
         |  double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $nullElemCheck
         |    double $x = $a.getDouble($i);
         |    double $y = $b.getDouble($i);
         |    $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |  }
         |  if (!${ev.isNull}) {
         |    double $denom = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
         |    if ($denom == 0.0) {
         |      ${zeroMode match {
                   case CosineSim.ZeroNan => s"${ev.value} = $dot / $denom;"
                   case CosineSim.ZeroAnsi =>
                     s"throw org.apache.spark.sql.GraftSql.divideByZeroError();"
                   case _ => s"${ev.isNull} = true;"
                 }}
         |    } else { ${ev.value} = $dot / $denom; }
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "cosine_sim"
}

object CosineSim {
  val ZeroNull = "null" // zero vector → NULL (library contract)
  val ZeroNan = "nan"   // legacy divide: 0/0 → NaN
  val ZeroAnsi = "ansi" // ANSI divide: error on zero denominator

  /** Column API. */
  def apply(a: Column, b: Column): Column =
    GraftSql.column(CosineSim(GraftSql.expression(a), GraftSql.expression(b)))
}

/** SparkSessionExtensions wiring for sessions not built by
  * [[graft.GraftSession]]: `spark.sql.extensions=graft.plans.
  * GraftExtensions` exposes the custom expressions to plain SQL as
  * `cosine_sim(a, b)`. Do not combine it with [[GraftExtensions.install]]
  * (which `Tables.configure` calls): the rule and strategy would then run
  * twice. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(GraftExtensions.cosineSimDescriptor)
    ext.injectOptimizerRule(_ => FuseCosine)
    ext.injectPlannerStrategy(_ => AsOfJoinStrategy)
  }
}

object GraftExtensions {
  val cosineSimDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("cosine_sim"),
    new ExpressionInfo(classOf[CosineSim].getName, "cosine_sim"),
    { exprs: Seq[Expression] =>
      require(exprs.length == 2, "cosine_sim(a, b) takes exactly 2 arguments")
      CosineSim(exprs.head, exprs(1))
    })

  /** Idempotent per-session registration for sessions built without the
    * extensions hook: same FunctionRegistry entry, and the FuseCosine
    * rewrite via the public experimental-optimizations hook. */
  def install(spark: SparkSession): Unit = {
    val (ident, info, builder) = cosineSimDescriptor
    GraftSql.registerFunction(spark, ident, info, builder)
    if (!spark.experimental.extraOptimizations.contains(FuseCosine))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ FuseCosine
    if (!spark.experimental.extraStrategies.contains(AsOfJoinStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ AsOfJoinStrategy
  }
}
