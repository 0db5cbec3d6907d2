package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.types.{BinaryType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import graft.core._
import graft.spark.{ExtractConf, ExtractPipeline, ResultRow}

/** Static kernel entry points for codegen: generated Java calls these
  * directly (`graft.functions.ExtractTextKernel.extractText(bytes)`), so
  * the expressions below participate in whole-stage codegen with a
  * single static-call boundary — the SURVEY.md par 4.3 "optional
  * Catalyst Expression" path. The typed `mapPartitions` pipeline remains
  * the primary surface; these expose the same kernel to SQL users
  * (`SELECT extract_text(html) FROM pages`).
  *
  * Both run the pipeline's own kernel, [[ExtractPipeline.Kernel.process]]
  * under the default [[ExtractConf]], size gate included, so a page gets
  * the answer the pipeline gives it. Error-as-data at expression
  * granularity: every status but `ok` (oversized, rejected format,
  * timeout, kernel error) yields SQL NULL — an expression has no status
  * column to carry the taxonomy; the pipeline surface does.
  */
object ExtractTextKernel {
  private val conf = ExtractConf()

  /** The pipeline's result for one payload, or null unless it is `ok`. */
  private def extracted(bytes: Array[Byte]): ResultRow = {
    if (bytes == null) return null
    val gate = if (bytes.length > conf.maxBytes) Status.RejectedSize else null
    val r = ExtractPipeline.Kernel.process(null, bytes, gate, 0, conf)
    if (r.status == Status.Ok) r else null
  }

  def extractText(bytes: Array[Byte]): UTF8String = {
    val r = extracted(bytes)
    if (r == null) null else UTF8String.fromString(r.text)
  }

  def extractPages(bytes: Array[Byte]): java.lang.Integer = {
    val r = extracted(bytes)
    if (r == null) null else Int.box(r.pages)
  }
}

/** `extract_text(html BINARY) -> STRING`: main-content extraction as a
  * native Catalyst expression with `doGenCode` (static call, stays
  * inside WholeStageCodegen).
  */
case class ExtractText(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires BINARY input, got ${child.dataType}")
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "extract_text"

  override protected def nullSafeEval(input: Any): Any =
    ExtractTextKernel.extractText(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |${ev.value} = graft.functions.ExtractTextKernel.extractText($c);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): ExtractText =
    copy(child = newChild)
}

/** `extract_pages(html BINARY) -> INT`: page count per document. */
case class ExtractPages(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires BINARY input, got ${child.dataType}")
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def prettyName: String = "extract_pages"

  override protected def nullSafeEval(input: Any): Any = {
    val r = ExtractTextKernel.extractPages(input.asInstanceOf[Array[Byte]])
    if (r == null) null else r.intValue()
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val boxed = ctx.freshName("pages")
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |java.lang.Integer $boxed = graft.functions.ExtractTextKernel.extractPages($c);
         |if ($boxed == null) { ${ev.isNull} = true; } else { ${ev.value} = $boxed.intValue(); }
       """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): ExtractPages =
    copy(child = newChild)
}

/** Session extension registering the kernel SQL functions:
  *
  *   spark.sql.extensions=graft.functions.GraftExtensions
  *
  * mirrors the reference's engine discovery surface
  * (/root/reference/src/services/ocr/registry_v2.py:44-163) as
  * compile-time SQL function registration.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.all.foreach(ext.injectFunction)
}

/** The SQL function surface, usable two ways: session-wide via
  * `spark.sql.extensions=graft.functions.GraftExtensions`, or
  * imperatively on an existing session via [[ensureRegistered]] (the
  * path library operators use — they cannot assume the caller's session
  * was built with the extension).
  */
object GraftFunctions {
  private def minKBuilder(children: Seq[Expression]): Expression = {
    require(children.length == 2, "min_k_longs(col, k) takes exactly 2 arguments")
    val kExpr = children(1)
    require(kExpr.foldable, "min_k_longs k must be a literal")
    val k = kExpr.eval() match {
      case n: Number => n.intValue()
      case other => throw new IllegalArgumentException(
        s"min_k_longs k must be a numeric literal, got ${if (other == null) "NULL" else other}")
    }
    MinKLongs(children.head, k)
  }

  val all: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (new FunctionIdentifier("extract_text"),
      new ExpressionInfo(classOf[ExtractText].getName, "extract_text"),
      (children: Seq[Expression]) => ExtractText(children.head)),
    (new FunctionIdentifier("extract_pages"),
      new ExpressionInfo(classOf[ExtractPages].getName, "extract_pages"),
      (children: Seq[Expression]) => ExtractPages(children.head)),
    (new FunctionIdentifier("min_k_longs"),
      new ExpressionInfo(classOf[MinKLongs].getName, "min_k_longs"),
      minKBuilder _),
    (new FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSim].getName, "cosine_sim"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "cosine_sim(a, b) takes exactly 2 arguments")
        CosineSim(children(0), children(1))
      }),
    (new FunctionIdentifier("dot_d"),
      new ExpressionInfo(classOf[DotD].getName, "dot_d"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "dot_d(a, b) takes exactly 2 arguments")
        DotD(children(0), children(1))
      }),
    (new FunctionIdentifier("l2_sq"),
      new ExpressionInfo(classOf[L2Sq].getName, "l2_sq"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "l2_sq(a, b) takes exactly 2 arguments")
        L2Sq(children(0), children(1))
      }))

  def ensureRegistered(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    all.foreach { case (id, info, builder) =>
      if (!reg.functionExists(id)) reg.registerFunction(id, info, builder)
    }
  }
}
