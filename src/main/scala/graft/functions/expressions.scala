package graft.functions

import java.lang.reflect.{InvocationTargetException, Method, Modifier}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** A call of one SQL function over string arguments: the Catalyst
  * expression behind every string-input row of [[GraftFunctions.builders]].
  *
  * It is deterministic and null-safe (NULL when any argument is NULL), and
  * it stays inside whole-stage codegen: `doGenCode` emits a direct call of
  * the static method `target.method(strings..., options...)` (no ScalaUDF
  * boxing, no CodegenFallback). The reference's `Encoder.encode` maps 1:1
  * onto these calls (ref: rphonetic src/lib.rs:180-232).
  *
  * `options` are the call's plan-time literals as plain values (Int,
  * Boolean, String), so equal calls compare equal. Int and Boolean options
  * are inlined into the generated code. A String option is passed as the
  * method's parameter type takes it: a `UTF8String`, or an object built
  * from the string (such as a [[BpeModel]]), made once per plan copy.
  */
case class StringCall(
    name: String,
    target: String,
    method: String,
    dataType: DataType,
    children: Seq[Expression],
    options: Seq[Any]) extends Expression {

  override def prettyName: String = name
  override def nullable: Boolean = children.exists(_.nullable)
  override def foldable: Boolean = children.forall(_.foldable)
  override protected def stringArgs: Iterator[Any] =
    children.iterator ++ options.iterator

  override def checkInputDataTypes(): TypeCheckResult =
    if (children.forall(_.dataType == StringType))
      TypeCheckResult.TypeCheckSuccess
    else if (children.length == 1)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string argument, got ${children.head.dataType}")
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string arguments, got " +
        children.map(_.dataType).mkString("(", ", ", ")"))

  // resolved once per plan copy, as Spark's StaticInvoke does
  @transient private lazy val staticMethod: Method =
    Class.forName(target).getMethods.filter(m =>
      m.getName == method && Modifier.isStatic(m.getModifiers) &&
        m.getParameterCount == children.length + options.length) match {
      case Array(m) => m
      case ms => throw new IllegalStateException(
        s"$prettyName: expected one static $target.$method, found ${ms.length}")
    }

  /** The option values as the method takes them. */
  @transient private lazy val optionArgs: Array[AnyRef] =
    options.zip(staticMethod.getParameterTypes.drop(children.length)).map {
      case (s: String, t) if t == classOf[UTF8String] => UTF8String.fromString(s)
      case (s: String, t) if t != classOf[String] =>
        t.getConstructor(classOf[String]).newInstance(s).asInstanceOf[AnyRef]
      case (v, _) => v.asInstanceOf[AnyRef]
    }.toArray

  override def eval(input: InternalRow): Any = {
    val args = new Array[AnyRef](children.length + optionArgs.length)
    var i = 0
    while (i < children.length) {
      val v = children(i).eval(input)
      if (v == null) return null
      args(i) = v.asInstanceOf[AnyRef]
      i += 1
    }
    System.arraycopy(optionArgs, 0, args, children.length, optionArgs.length)
    try staticMethod.invoke(null, args: _*)
    catch { case e: InvocationTargetException if e.getCause != null => throw e.getCause }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val inputs = children.map(_.genCode(ctx))
    val opts = options.zip(optionArgs).map {
      case (v: Int, _) => v.toString
      case (v: Boolean, _) => v.toString
      case (_, ref) => ctx.addReferenceObj(method, ref)
    }
    val call = s"$target.$method(" +
      (inputs.map(_.value.toString) ++ opts).mkString(", ") + ")"
    val javaType = CodeGenerator.javaType(dataType)
    if (nullable) {
      val body = inputs.zip(children).foldRight(
        s"${ev.isNull} = false;\n${ev.value} = $call;") {
        case ((in, c), inner) =>
          s"${in.code}\n${ctx.nullSafeExec(c.nullable, in.isNull)(inner)}"
      }
      ev.copy(code = code"""
        boolean ${ev.isNull} = true;
        $javaType ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
        $body""")
    } else ev.copy(code = code"""
        ${inputs.map(_.code.toString).mkString("\n")}
        $javaType ${ev.value} = $call;""", isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(children = newChildren)
}
