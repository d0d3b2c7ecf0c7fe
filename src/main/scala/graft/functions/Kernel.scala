package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult.{TypeCheckFailure, TypeCheckSuccess}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, QuaternaryExpression, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** One argument of a [[Kernel]]: the type it must have (array and
  * struct nullability and struct field names are not checked), how that
  * type reads in the type-check message, and, for an argument that must
  * be a literal, the failure text after the function name.
  */
final case class Arg(want: DataType, shown: String,
    mustBeLiteral: Option[String] = None) {
  def literal(failure: String): Arg = copy(mustBeLiteral = Some(failure))
}

object Arg {
  def apply(want: DataType): Arg = Arg(want, want.simpleString)
  val string: Arg = Arg(StringType)
  val int: Arg = Arg(IntegerType)
  val boolean: Arg = Arg(BooleanType)
  val double: Arg = Arg(DoubleType)
  val strings: Arg = Arg(ArrayType(StringType))
  val doubles: Arg = Arg(ArrayType(DoubleType))
  val longs: Arg = Arg(ArrayType(LongType), "array<long>")
}

/** How a kernel's generated code reaches its method. */
sealed trait Call

/** `target(a, b, …)`: a static method over every argument. `nullResult`:
  * the method may return null for non-null input, so the result is
  * nullable and the generated code tests it.
  */
final case class Static(target: String, nullResult: Boolean = false)
    extends Call

/** `self.method(…)` over the non-literal arguments, where `self` is this
  * expression held as a reference object: the literal arguments were
  * read into the instance. `nullResult` as for [[Static]].
  */
final case class Instance(method: String, nullResult: Boolean = false)
    extends Call

/** The kernel writes its own `doGenCode`. */
case object Own extends Call

/** The shape every `graft_*` expression shares. A kernel states its SQL
  * name, result type, [[Call]] and one [[Arg]] per input; from those
  * this trait derives `prettyName`, `nullable`, the type check, the
  * "must be a literal" check, `doGenCode` and `withNewChildren` (through
  * the builder [[GraftFunctions]] registers under the same name). What
  * remains in a kernel is its `nullSafeEval` and its method.
  *
  * The contract every kernel keeps:
  *  - a null input gives a null result, in eval and in generated code;
  *    a non-null input gives a null result only under `nullResult`;
  *  - a literal argument is read once per instance (a `@transient lazy
  *    val` of the expression), never per row;
  *  - the interpreted `nullSafeEval` and the generated code call the
  *    same method, so the two paths cannot drift (KernelContractSpec
  *    runs both on every kernel).
  *
  * Serializable, so that its constructor parameters travel with the
  * plan to executors.
  */
sealed trait Kernel extends Expression with Serializable {
  protected def call: Call
  protected def args: Seq[Arg]

  private def nullResult: Boolean = call match {
    case Static(_, n) => n
    case Instance(_, n) => n
    case Own => false
  }

  override def nullable: Boolean = nullResult || children.exists(_.nullable)

  override def checkInputDataTypes(): TypeCheckResult = {
    val got = children.map(_.dataType)
    def show(ts: Seq[String]) =
      if (ts.size == 1) ts.head else ts.mkString("(", ", ", ")")
    if (!args.zip(got).forall { case (a, t) =>
        DataType.equalsStructurally(t, a.want, ignoreNullability = true) })
      TypeCheckFailure(s"$prettyName expects ${show(args.map(_.shown))}, " +
        s"got ${show(got.map(_.simpleString))}")
    else args.zip(children).collectFirst {
      case (Arg(_, _, Some(failure)), c) if !c.foldable =>
        TypeCheckFailure(s"$prettyName $failure")
    }.getOrElse(TypeCheckSuccess)
  }

  private def refName: String = {
    val n = getClass.getSimpleName
    n.head.toLower +: n.tail
  }

  /** The callee in generated code. An instance call adds this
    * expression as a reference object before the children generate
    * theirs.
    */
  protected def callee(ctx: CodegenContext): String = call match {
    case Static(target, _) => target
    case Instance(method, _) =>
      s"${ctx.addReferenceObj(refName, this, getClass.getName)}.$method"
    case Own => throw new IllegalStateException(s"$prettyName has its own codegen")
  }

  /** The statement run once every child value `vals` is non-null. */
  protected def body(ctx: CodegenContext, ev: ExprCode, callee: String,
      vals: Seq[String]): String = {
    val passed = call match {
      case _: Instance => vals.zip(args).collect {
        case (v, a) if a.mustBeLiteral.isEmpty => v
      }
      case _ => vals
    }
    val invoke = s"$callee(${passed.mkString(", ")})"
    if (!nullResult) s"${ev.value} = $invoke;"
    else {
      val res = ctx.freshName(refName)
      s"""
         |${CodeGenerator.javaClass(dataType).getName} $res = $invoke;
         |if ($res == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $res;
         |}
       """.stripMargin
    }
  }

  protected def rebuild(children: Expression*): Expression =
    GraftFunctions.rebuild(prettyName, children)
}

/** A one-argument [[Kernel]]. */
abstract class Kernel1(override val prettyName: String,
    override val dataType: DataType, protected val call: Call, a: Arg)
    extends UnaryExpression with Kernel {
  protected def args: Seq[Arg] = Seq(a)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val f = callee(ctx)
    nullSafeCodeGen(ctx, ev, x => body(ctx, ev, f, Seq(x)))
  }
  override protected def withNewChildInternal(c: Expression): Expression =
    rebuild(c)
}

/** A two-argument [[Kernel]]. */
abstract class Kernel2(override val prettyName: String,
    override val dataType: DataType, protected val call: Call, a: Arg, b: Arg)
    extends BinaryExpression with Kernel {
  protected def args: Seq[Arg] = Seq(a, b)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val f = callee(ctx)
    nullSafeCodeGen(ctx, ev, (x, y) => body(ctx, ev, f, Seq(x, y)))
  }
  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): Expression = rebuild(l, r)
}

/** A three-argument [[Kernel]]. */
abstract class Kernel3(override val prettyName: String,
    override val dataType: DataType, protected val call: Call, a: Arg, b: Arg,
    c: Arg) extends TernaryExpression with Kernel {
  protected def args: Seq[Arg] = Seq(a, b, c)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val f = callee(ctx)
    nullSafeCodeGen(ctx, ev, (x, y, z) => body(ctx, ev, f, Seq(x, y, z)))
  }
  override protected def withNewChildrenInternal(x: Expression,
      y: Expression, z: Expression): Expression = rebuild(x, y, z)
}

/** A four-argument [[Kernel]]. */
abstract class Kernel4(override val prettyName: String,
    override val dataType: DataType, protected val call: Call, a: Arg, b: Arg,
    c: Arg, d: Arg) extends QuaternaryExpression with Kernel {
  protected def args: Seq[Arg] = Seq(a, b, c, d)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val f = callee(ctx)
    nullSafeCodeGen(ctx, ev, (w, x, y, z) => body(ctx, ev, f, Seq(w, x, y, z)))
  }
  override protected def withNewChildrenInternal(w: Expression, x: Expression,
      y: Expression, z: Expression): Expression = rebuild(w, x, y, z)
}
