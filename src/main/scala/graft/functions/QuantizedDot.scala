package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** `graft_dot(array<bigint>, array<bigint>) -> bigint`: exact integer dot
  * product as a native Catalyst expression with whole-stage codegen.
  *
  * This was the engine's first custom expression (SURVEY.md §7.2; the
  * text-hashing pipelines in [[GraftTextHash]] followed in the r21
  * optimization round under the same profiling bar): the
  * built-in higher-order alternative
  * `aggregate(zip_with(a, b, (x,y) -> x*y), 0L, (acc,v) -> acc+v)` is
  * semantically identical but allocates an intermediate array per row and
  * evaluates two lambda closures per element; at ANN scale (rows × dims)
  * the generated tight loop below wins (~3-6× measured, see
  * SimilarityQueries scaladoc). Used only where profiling justified it —
  * everything else in the engine stays on built-ins.
  *
  * Exactness contract matches the quantized-cosine scheme: inputs are
  * integer-quantized vectors, products/sums stay in Long (overflow-safe for
  * |q| ≤ 10^6, dims ≤ 10^4), so results are bit-identical to the oracle's
  * `list_sum(list_transform(...))`.
  */
case class QuantizedDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_dot requires array<bigint> inputs, got (${left.dataType.sql}, ${right.dataType.sql})")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var sum = 0L
    var i = 0
    while (i < n) { sum += x.getLong(i) * y.getLong(i); i += 1 }
    sum
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |long ${ev.value}Acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  ${ev.value}Acc += $x.getLong($i) * $y.getLong($i);
         |}
         |${ev.value} = ${ev.value}Acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): QuantizedDot =
    copy(left = newLeft, right = newRight)
}

/** Idempotent function registration so any session (Verify, Bench, tests —
  * which build their own SparkSessions) can call the graft_* expressions
  * via SQL/expr. */
object GraftFunctions {

  /** (name, expression class, doc, builder) for every engine expression —
    * single source of truth shared by [[register]] and [[GraftExtensions]].
    * The class names the function's own expression in its ExpressionInfo. */
  private[functions] val all
      : Seq[(String, Class[_ <: Expression], String, Seq[Expression] => Expression)] = Seq(
    ("graft_dot", classOf[QuantizedDot],
      "graft_dot(a, b) - exact integer dot product of two bigint arrays.",
      { exprs: Seq[Expression] =>
        require(exprs.length == 2, "graft_dot takes exactly 2 arguments")
        QuantizedDot(exprs.head, exprs(1))
      }),
    ("graft_minhash", classOf[MinhashSigs],
      "graft_minhash(sh) - 16 MinHash signatures of a shingle set.",
      { exprs: Seq[Expression] =>
        require(exprs.length == 1, "graft_minhash takes exactly 1 argument")
        MinhashSigs(exprs.head)
      }),
    ("graft_winnow", classOf[WinnowFps],
      "graft_winnow(s) - winnowing fingerprint set of a normalized string.",
      { exprs: Seq[Expression] =>
        require(exprs.length == 1, "graft_winnow takes exactly 1 argument")
        WinnowFps(exprs.head)
      }),
    ("graft_ngrams3", classOf[Ngrams3],
      "graft_ngrams3(toks) - all space-joined word 3-grams of a token array.",
      { exprs: Seq[Expression] =>
        require(exprs.length == 1, "graft_ngrams3 takes exactly 1 argument")
        Ngrams3(exprs.head)
      }),
    ("graft_ngrams", classOf[NgramsK],
      "graft_ngrams(toks, k) - all space-joined stride-1 word k-grams.",
      { exprs: Seq[Expression] =>
        require(exprs.length == 2, "graft_ngrams takes exactly 2 arguments")
        NgramsK(exprs.head, exprs(1))
      }))

  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    all.foreach { case (name, cls, doc, builder) =>
      val ident = FunctionIdentifier(name)
      if (!registry.functionExists(ident)) {
        registry.registerFunction(ident,
          new ExpressionInfo(cls.getName, null, name, doc, ""),
          builder)
      }
    }
  }
}

/** Session-extension wiring (the `SparkSessionExtensions` path): attach via
  * `spark.sql.extensions=graft.functions.GraftExtensions` (or
  * `builder.withExtensions(new GraftExtensions)`) so every session in a
  * cluster gets the engine's function AND optimizer extensions without code
  * changes: `graft_dot` plus the interval-range join rewrite
  * ([[graft.plans.IntervalBinJoinRule]]). */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach { case (name, cls, doc, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, null, name, doc, ""),
        builder))
    }
    ext.injectOptimizerRule(_ => graft.plans.IntervalBinJoinRule)
  }
}
