package graft.functions

import java.lang.reflect.{InvocationTargetException, Method}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One SQL kernel, declared once (see [[Kernels]] for every declaration):
  * its SQL name, input types, result type, the static JVM method that
  * computes it, and the Scala-side constants passed after the column
  * arguments (Int, Double or a [[Kernel.FloatTable]]). [[KernelCall]]
  * derives the type check, interpreted eval, codegen and nullability from
  * it.
  *
  * Calling convention of `target` (`pkg.Object.method`, called through
  * the object's static forwarder): one parameter per input, then one per
  * constant. A string input arrives as `String`, binary as `byte[]`,
  * int / bigint / double as the primitive, an array as `ArrayData`; a
  * float-table constant as the `float[][]` or `float[][][]` it wraps
  * (codegen passes it with `addReferenceObj`, so it rides the serialized
  * plan to every executor). The result maps back by its JVM type: a
  * primitive array other than `byte[]` becomes an `UnsafeArrayData`, a
  * `String` a `UTF8String`; a boxed number or an `InternalRow` may be
  * null, which makes the kernel nullable and a null result SQL NULL, and
  * so may a primitive array when the declaration sets `nullableResult`.
  * Anything else passes through.
  *
  * Declarations are case-class values, so two calls of one kernel with
  * equal constants are equal expressions: CSE and `semanticEquals` merge
  * them (a float table compares by content). */
final case class Kernel(name: String, inputs: Seq[Kernel.In], result: DataType,
                        target: String, consts: Seq[Any] = Nil,
                        nullableResult: Boolean = false) {

  /** This kernel applied to columns. */
  def apply(args: Column*): Column =
    GraftFunctions.toColumn(KernelCall(this, args.map(GraftFunctions.toExpr).toIndexedSeq))

  /** The same kernel with other Scala-side constants (e.g. `nBands`). */
  def withConsts(cs: Any*): Kernel = copy(consts = cs.toList)

  /** The target, resolved once per declaration value. */
  @transient lazy val method: Method = {
    val dot = target.lastIndexOf('.')
    val params = inputs.map(in => Kernel.jvmClass(in.dataType)) ++ consts.map {
      case _: Int => classOf[Int]
      case _: Double => classOf[Double]
      case t: Kernel.FloatTable => t.data.getClass
      case c => throw new IllegalArgumentException(s"$name: unsupported constant $c")
    }
    Class.forName(target.take(dot)).getMethod(target.drop(dot + 1), params: _*)
  }

  /** True when the target may return null (a boxed number, a row, or a
    * declared nullable array). */
  @transient lazy val returnsNull: Boolean = {
    val rt = method.getReturnType
    nullableResult || rt == classOf[InternalRow] ||
      classOf[java.lang.Number].isAssignableFrom(rt)
  }

  /** The target's result as a Catalyst value. */
  private[functions] def toCatalyst(r: Any): Any = r match {
    case a: Array[Int] => UnsafeArrayData.fromPrimitiveArray(a)
    case a: Array[Long] => UnsafeArrayData.fromPrimitiveArray(a)
    case a: Array[Float] => UnsafeArrayData.fromPrimitiveArray(a)
    case a: Array[Double] => UnsafeArrayData.fromPrimitiveArray(a)
    case s: String => UTF8String.fromString(s)
    case other => other
  }
}

object Kernel {
  /** One input: its Catalyst type (an array type matches any
    * `containsNull`), and whether it must be a foldable literal. */
  final case class In(dataType: DataType, literal: Boolean = false) {
    def accepts(e: Expression): Boolean = ((dataType, e.dataType) match {
      case (ArrayType(want, _), ArrayType(got, _)) => want == got
      case (want, got) => want == got
    }) && (!literal || e.foldable)
    override def toString: String =
      dataType.simpleString + (if (literal) " literal" else "")
  }

  /** A constant float table (`float[][]` or `float[][][]`: centroids, PQ
    * codebooks). Equal, hashed and printed by content, as a raw array
    * would compare by reference and print as `[[F@` plus an identity hash
    * that differs between JVMs and between equal tables loaded apart; it
    * prints as its shape plus `Arrays.deepHashCode`, e.g.
    * `float[8][64]#1f2e3d4c`. */
  final class FloatTable private (val data: Array[_ <: AnyRef]) extends Serializable {
    @transient private lazy val hash =
      java.util.Arrays.deepHashCode(data.asInstanceOf[Array[AnyRef]])
    override def hashCode: Int = hash
    override def equals(o: Any): Boolean = o match {
      case t: FloatTable => (t eq this) || java.util.Arrays.deepEquals(
        data.asInstanceOf[Array[AnyRef]], t.data.asInstanceOf[Array[AnyRef]])
      case _ => false
    }
    override def toString: String = {
      def dims(x: Any): List[Int] = x match {
        case a: Array[_] => a.length :: (if (a.isEmpty) Nil else dims(a(0)))
        case _ => Nil
      }
      dims(data).mkString("float[", "][", "]") + f"#$hash%08x"
    }
  }

  object FloatTable {
    def apply(t: Array[Array[Float]]): FloatTable = new FloatTable(t)
    def apply(t: Array[Array[Array[Float]]]): FloatTable = new FloatTable(t)
  }

  private def jvmClass(t: DataType): Class[_] = t match {
    case BinaryType => classOf[Array[Byte]]
    case StringType => classOf[String]
    case IntegerType => classOf[Int]
    case LongType => classOf[Long]
    case DoubleType => classOf[Double]
    case _: ArrayType => classOf[ArrayData]
    case other => throw new IllegalArgumentException(s"unsupported kernel input type $other")
  }
}

/** A call of a declared [[Kernel]]: the one Catalyst expression behind
  * every kernel. Codegen emits the direct static call (no boxing, no
  * argument array, no reference object), so it stays inside whole-stage
  * codegen; interpreted eval calls the same method through the cached
  * `java.lang.reflect.Method`, as Spark's `StaticInvoke` does. Null in,
  * null out: any null argument makes the result null without a call. */
case class KernelCall(kernel: Kernel, children: IndexedSeq[Expression]) extends Expression {

  override def prettyName: String = kernel.name
  override def dataType: DataType = kernel.result
  override def nullable: Boolean = kernel.returnsNull || children.exists(_.nullable)
  override def foldable: Boolean = children.forall(_.foldable)
  /** Plan strings print the constants after the children; `sql` (and so
    * auto-generated column names) prints only the children. */
  override def flatArguments: Iterator[Any] = children.iterator ++ kernel.consts.iterator

  override def checkInputDataTypes(): TypeCheckResult =
    if (children.length == kernel.inputs.length &&
        kernel.inputs.zip(children).forall { case (in, c) => in.accepts(c) })
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"${kernel.name} expects (${kernel.inputs.mkString(", ")}), got " +
        children.map(c => c.dataType.simpleString + (if (c.foldable) " literal" else ""))
          .mkString("(", ", ", ")"))

  override def eval(input: InternalRow): Any = {
    val args = new Array[AnyRef](children.length + kernel.consts.length)
    var i = 0
    while (i < children.length) {
      children(i).eval(input) match {
        case null => return null
        case s: UTF8String => args(i) = s.toString
        case v => args(i) = v.asInstanceOf[AnyRef]
      }
      i += 1
    }
    kernel.consts.foreach { c =>
      args(i) = c match { case t: Kernel.FloatTable => t.data; case v => v.asInstanceOf[AnyRef] }
      i += 1
    }
    try kernel.toCatalyst(kernel.method.invoke(null, args: _*))
    catch { case e: InvocationTargetException => throw e.getCause }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val gens = children.map(_.genCode(ctx))
    val args = gens.zip(children).map { case (g, c) =>
      if (c.dataType == StringType) s"${g.value}.toString()" else g.value.toString
    } ++ kernel.consts.map {
      case d: Double => s"${d}D"
      case t: Kernel.FloatTable =>
        ctx.addReferenceObj("table", t.data, t.data.getClass.getCanonicalName)
      case c => c.toString
    }
    val call = s"${kernel.target}(${args.mkString(", ")})"
    val rt = kernel.method.getReturnType
    val javaType = CodeGenerator.javaType(dataType)
    val default = CodeGenerator.defaultValue(dataType)
    val fromArray = s"${classOf[UnsafeArrayData].getName}.fromPrimitiveArray"
    val result =
      if (rt.isArray && rt != classOf[Array[Byte]] && kernel.returnsNull)
        s"""${rt.getCanonicalName} ${ev.value}_arr = $call;
           |${ev.isNull} = ${ev.value}_arr == null;
           |if (!${ev.isNull}) ${ev.value} = $fromArray(${ev.value}_arr);""".stripMargin
      else if (rt.isArray && rt != classOf[Array[Byte]])
        s"${ev.value} = $fromArray($call);"
      else if (rt == classOf[String])
        s"${ev.value} = ${classOf[UTF8String].getName}.fromString($call);"
      else if (kernel.returnsNull && rt != classOf[InternalRow])
        s"""${rt.getName} ${ev.value}_boxed = $call;
           |${ev.isNull} = ${ev.value}_boxed == null;
           |${ev.value} = ${ev.isNull} ? $default : ${ev.value}_boxed.${javaType}Value();""".stripMargin
      else if (kernel.returnsNull)
        s"${ev.value} = $call;\n${ev.isNull} = ${ev.value} == null;"
      else s"${ev.value} = $call;"
    if (nullable) {
      // one nested null check per nullable argument, innermost the call
      val body = gens.zip(children).foldRight(s"${ev.isNull} = false;\n$result") {
        case ((g, c), inner) => s"${g.code}\n${ctx.nullSafeExec(c.nullable, g.isNull.toString)(inner)}"
      }
      ev.copy(code = code"""
        boolean ${ev.isNull} = true;
        $javaType ${ev.value} = $default;
        $body""")
    } else {
      ev.copy(code = code"""
        ${gens.map(_.code.toString).mkString("\n")}
        $javaType ${ev.value} = $default;
        $result""", isNull = FalseLiteral)
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(children = newChildren)
}
