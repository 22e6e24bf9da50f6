package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** One graft kernel over columns: `Kernels.<method>(children…, consts…)`,
  * named `name` in plans and SQL. It is the only Catalyst expression graft
  * defines for its per-row kernels (the aggregates are [[TopKAgg]] and
  * [[MisraGriesAgg]]).
  *
  * Interpreted evaluation and generated code both delegate to one Spark
  * `StaticInvoke` of the method, so each kernel's call is written once, in
  * [[Kernels]], and in generated code it is a single static call that keeps
  * the surrounding plan in whole-stage codegen (no UDF serialization, no
  * boxing). The wrapper exists only for the name: a plan prints
  * `graft_word_ngrams(text#12, 3)` and a column's default name is
  * `graft_word_ngrams(text)`, where a bare `StaticInvoke` prints as
  * `static_invoke(...)`.
  *
  * `consts` are the kernel's trailing arguments, typed as its parameters
  * are: an `int` / `bigint` literal for a parameter, an object literal for a
  * model or sketch, which generated code reads as a reference object. A
  * child NULL makes the result NULL; `nullableResult` marks a kernel that
  * can also return null for non-null input.
  */
case class KernelCall(name: String, method: String, dataType: DataType,
    children: Seq[Expression], consts: Seq[Literal], nullableResult: Boolean = false)
    extends Expression {

  // minhash and simhash64 take array<string> tokens or array<bigint>
  // pre-hashed grams; the latter call the `…Longs` kernel
  @transient private lazy val call: StaticInvoke = {
    val longs = children.head.dataType match {
      case ArrayType(LongType, _) => KernelCall.longsForms(method)
      case _                      => false
    }
    StaticInvoke(Kernels.getClass, dataType, if (longs) method + "Longs" else method,
      children ++ consts, returnNullable = nullableResult)
  }

  override def nullable: Boolean = call.nullable
  override def foldable: Boolean = children.forall(_.foldable)
  override def eval(input: InternalRow): Any = call.eval(input)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    call.genCode(ctx)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): KernelCall = copy(children = newChildren)
  override def prettyName: String = name
  override def toString: String = s"$name(${(children ++ consts).mkString(", ")})"
}

object KernelCall {
  private val longsForms = Set("minhash", "simhash64")
}
