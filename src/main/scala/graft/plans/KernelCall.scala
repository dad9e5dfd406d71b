package graft.plans

import org.apache.spark.sql.{Column, GraftShim}
import org.apache.spark.sql.catalyst.expressions.{Expression, InheritAnalysisRules, Literal,
  RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types.{DataType, ObjectType}

import scala.reflect.{classTag, ClassTag}

/** A native kernel call under its own name. The call itself is Spark's
  * `StaticInvoke` of one Scala method on a kernel object: generated
  * code calls the method directly, interpreted eval calls it by
  * reflection, so a kernel has one implementation. This wrapper only
  * names the call, so an un-aliased column reads `simhash64(text)`,
  * not `staticinvoke(...)`; the optimizer replaces it by the call
  * before planning, as it does Spark's `nvl`. The first `arity`
  * arguments of the call are the column inputs the name shows. */
case class KernelCall(name: String, arity: Int, replacement: Expression)
    extends RuntimeReplaceable with InheritAnalysisRules {

  override def prettyName: String = name
  override def parameters: Seq[Expression] = replacement.children.take(arity)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(replacement = newChild)
}

object KernelCall {

  /** `name(inputs)`: calls `kernel.method(inputs ++ args)`, where an
    * arg is a Catalyst expression (e.g. a [[payload]]) or a Scala value
    * (made a literal). Null input gives null without a call; a kernel
    * whose result can itself be null sets `returnNullable`. */
  def column(name: String, kernel: AnyRef, method: String, dataType: DataType,
      inputs: Seq[Column], args: Seq[Any] = Nil, returnNullable: Boolean = false): Column = {
    val in = inputs.map(GraftShim.expression)
    val lits = args.map {
      case e: Expression => e
      case v => Literal(v)
    }
    GraftShim.column(KernelCall(name, in.length,
      StaticInvoke(kernel.getClass, dataType, method, in ++ lits,
        returnNullable = returnNullable)))
  }

  /** `value` as a kernel argument of its declared (static) type `T`: an
    * object literal. Generated code reaches it through the codegen
    * reference registry, so it never enters the generated source, and
    * interpreted eval passes it by reflection. `T` must be a public
    * class. The literal compares by the value's `equals`: by contents
    * where a caller rebuilds the value per call (a [[TrieReplacer]]),
    * by reference for an array. */
  def payload[T <: AnyRef: ClassTag](value: T): Expression =
    Literal(value, ObjectType(classTag[T].runtimeClass))
}
