package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, CodegenFallback}
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Generator, UnaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.SparkSessionExtensions

import graft.turtle.{Ast, TripleRows, TurtleParser, TurtleSerializer}

/** SQL-level Turtle functions — the custom-Catalyst tier of SURVEY.md §7:
  * a scalar `Expression` with whole-stage codegen (b-tier) and a `Generator`
  * (UDTF shape: one document row → N triple rows, c-tier), so the engine's
  * semantics are reachable from pure SQL.
  *
  * Registration paths:
  *  - cluster: `--conf spark.sql.extensions=graft.functions.GraftExtensions`
  *  - existing session: [[GraftFunctions.register]] (idempotent).
  */
object TurtleUnescape {
  /** Static entry for generated code: Turtle ECHAR/UCHAR unescape, null on
    * invalid escapes (error-as-null, the SQL convention). */
  def unescapeOrNull(s: UTF8String): UTF8String =
    Ast.Unescape(s.toString) match {
      case Right(v) => UTF8String.fromString(v)
      case Left(_)  => null
    }
}

/** `turtle_unescape(str)` — codegen'd scalar expression. */
case class TurtleUnescape(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"turtle_unescape requires STRING, got ${child.dataType.sql}")
  override def dataType: DataType = StringType
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any =
    TurtleUnescape.unescapeOrNull(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.TurtleUnescape.unescapeOrNull($c);
      ${ev.isNull} = ${ev.value} == null;""")

  override protected def withNewChildInternal(newChild: Expression): TurtleUnescape =
    copy(child = newChild)

  override def prettyName: String = "turtle_unescape"
}

object SerializeTurtle {
  /** Static entry for generated code: parse + lossless re-render (null when
    * the document does not parse). Pairs with `parse_turtle_triples` so the
    * round-trip gate `serialize_turtle(text) = text` is expressible in pure
    * SQL (SURVEY.md §2.2 S1). */
  def renderOrNull(s: UTF8String): UTF8String =
    TurtleParser.parseFull(s.toString) match {
      case Right(doc) => UTF8String.fromString(TurtleSerializer.render(doc))
      case Left(_)    => null
    }
}

/** `serialize_turtle(str)` — codegen'd scalar expression: the reference's
  * document `gen` (lossless serialization) reachable from SQL. */
case class SerializeTurtle(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"serialize_turtle requires STRING, got ${child.dataType.sql}")
  override def dataType: DataType = StringType
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any =
    SerializeTurtle.renderOrNull(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.SerializeTurtle.renderOrNull($c);
      ${ev.isNull} = ${ev.value} == null;""")

  override protected def withNewChildInternal(newChild: Expression): SerializeTurtle =
    copy(child = newChild)

  override def prettyName: String = "serialize_turtle"
}

/** `parse_turtle_triples(text, url)` — generator: parses `text` as one
  * Turtle document and emits one row per produced triple (or one error row).
  * Blank-node ids are deterministic in (url, traversal order). */
case class ParseTurtleTriples(text: Expression, url: Expression)
    extends Expression with Generator with CodegenFallback {

  override def children: Seq[Expression] = Seq(text, url)

  override def elementSchema: StructType = StructType(Seq(
    StructField("subj", StringType),
    StructField("subj_kind", StringType),
    StructField("pred", StringType),
    StructField("obj_kind", StringType),
    StructField("obj_value", StringType),
    StructField("obj_datatype", StringType),
    StructField("obj_lang", StringType),
    StructField("error", StringType)))

  private def u(s: String): UTF8String =
    if (s == null) null else UTF8String.fromString(s)

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val t = text.eval(input)
    if (t == null) return Nil
    val urlStr = url.eval(input) match {
      case null => ""
      case v    => v.toString
    }
    val urlHash = graft.kg.PagesSource.fnv64(urlStr)
    TripleRows.encode(t.toString,
        id => "_:h" + java.lang.Long.toHexString(urlHash) + "_" + id)(
      (s, sk, p, ok, ov, od, ol) => new GenericInternalRow(Array[Any](u(s),
        u(sk), u(p), u(ok), u(ov), u(od), u(ol), null)),
      msg => new GenericInternalRow(Array[Any](null, null, null, null, null,
        null, null, u(msg))))
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): ParseTurtleTriples =
    copy(text = newChildren(0), url = newChildren(1))

  override def prettyName: String = "parse_turtle_triples"
}

object GraftFunctions {
  private[functions] val specs: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("turtle_unescape",
      new ExpressionInfo(classOf[TurtleUnescape].getName, "turtle_unescape"),
      (args: Seq[Expression]) => TurtleUnescape(args.head)),
    ("serialize_turtle",
      new ExpressionInfo(classOf[SerializeTurtle].getName, "serialize_turtle"),
      (args: Seq[Expression]) => SerializeTurtle(args.head)),
    ("parse_turtle_triples",
      new ExpressionInfo(classOf[ParseTurtleTriples].getName, "parse_turtle_triples"),
      (args: Seq[Expression]) => ParseTurtleTriples(args(0), args(1))))

  /** Register on a live session (idempotent). */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    specs.foreach { case (name, info, builder) =>
      registry.registerFunction(FunctionIdentifier(name), info, builder)
    }
  }
}

/** For `--conf spark.sql.extensions=graft.functions.GraftExtensions`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.specs.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
}
