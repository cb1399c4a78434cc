package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, FilterExec, GlobalLimitExec, LocalLimitExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.types._

/** A numeric literal whose value the generated code reads from the
  * class's `references` array instead of inlining it into the Java
  * source. Two plans that differ only in such values (a query asked at
  * a new window) then generate byte-identical source, and Spark's
  * codegen cache answers the second with the class the first compiled.
  *
  * Renders exactly like the literal it replaces (plan text, `sql`);
  * equal only to a parameter with an equal literal, so exchange and
  * subquery reuse still tell windows apart. Not foldable: an operand
  * Spark must evaluate at planning time keeps its literal (the rule
  * checks this).
  */
case class BoundParam(lit: Literal) extends LeafExpression {
  override def dataType: DataType = lit.dataType
  override def nullable: Boolean = false
  override def foldable: Boolean = false
  override def eval(input: InternalRow): Any = lit.value
  override def toString: String = lit.toString
  override def sql: String = lit.sql

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("param", lit.value, CodeGenerator.boxedType(dataType))
    ExprCode.forNonNullValue(JavaCode.expression(
      s"$ref.${CodeGenerator.javaType(dataType)}Value()", dataType))
  }
}

object BoundParams {

  private def bindable(l: Literal): Boolean = l.value != null && (l.dataType match {
    case IntegerType | LongType | DoubleType | DateType | TimestampType => true
    case _ => false
  })

  /** Binds the numeric literal operands of every comparison and
    * arithmetic node under `e`. A node whose rewritten form no longer
    * resolves (a parent that needs a foldable operand) keeps its
    * original subtree.
    */
  def bind(e: Expression): Expression = {
    val kids = e.mapChildren(bind)
    val rewritten = kids match {
      case _: BinaryComparison | _: BinaryArithmetic =>
        kids.mapChildren {
          case l: Literal if bindable(l) => BoundParam(l)
          case o => o
        }
      case o => o
    }
    if ((rewritten eq e) || rewritten.resolved) rewritten else e
  }

  /** Replaces each limit node with one whose generated row counter is
    * named after its position in this plan: unique within the plan,
    * hence within each codegen stage, and the same for the same shape.
    */
  private def nameLimits(plan: SparkPlan): SparkPlan = {
    var i = 0
    def next(): String = { i += 1; s"_limit_counter_p$i" }
    plan.transformUp {
      case l: LocalLimitExec => new NamedLocalLimitExec(l.limit, l.child, next())
      case g: GlobalLimitExec => new NamedGlobalLimitExec(g.limit, g.child, g.offset, next())
    }
  }

  /** Physical rule: binds literals in `FilterExec` conditions and
    * `ProjectExec` lists, and names limit counters by plan position
    * ([[NamedLocalLimitExec]]).
    * Scans (pushed, partition and in-memory stats filters) are leaves
    * and keep their literals, so pruning and pushdown see the same plan
    * as before.
    */
  object BindNumericLiterals extends Rule[SparkPlan] {
    override def apply(plan: SparkPlan): SparkPlan = {
      nameLimits(plan).transformUp {
        case f: FilterExec =>
          val c = bind(f.condition)
          if (c eq f.condition) f else f.copy(condition = c)
        case p: ProjectExec =>
          val l = p.projectList.map(e => bind(e).asInstanceOf[NamedExpression])
          if (l.zip(p.projectList).forall { case (a, b) => a eq b }) p
          else p.copy(projectList = l)
      }
    }
  }

  /** Runs before the columnar transitions, so before whole-stage codegen
    * collapses the plan, for the initial plan and for every AQE stage.
    */
  object Columnar extends ColumnarRule {
    override def preColumnarTransitions: Rule[SparkPlan] = BindNumericLiterals
  }
}

/** `LocalLimitExec` whose generated row counter has a fixed name. Spark
  * names it from a JVM-wide sequence (`BaseLimitExec.newLimitCountTerm`)
  * when the node is created, and whole-stage codegen re-creates the node
  * (`withNewChildren`) before generating code, so every plan with a limit
  * generated new source. This node keeps its name through those copies.
  *
  * It equals only a node with the same name: the tree transforms keep a
  * child that equals its replacement, and would keep the original.
  * Canonicalizes to the plain node, so exchange reuse sees no difference.
  */
final class NamedLocalLimitExec(n: Int, c: SparkPlan, val counter: String)
    extends LocalLimitExec(n, c) {
  override def nodeName: String = "LocalLimit"
  override protected lazy val countTerm: String = counter
  override protected def otherCopyArgs: Seq[AnyRef] = counter :: Nil
  override protected def withNewChildInternal(newChild: SparkPlan): LocalLimitExec =
    new NamedLocalLimitExec(limit, newChild, counter)
  override protected def doCanonicalize(): SparkPlan =
    LocalLimitExec(limit, child.canonicalized)
  override def canEqual(o: Any): Boolean = o.isInstanceOf[NamedLocalLimitExec]
  override def equals(o: Any): Boolean = o match {
    case l: NamedLocalLimitExec => l.counter == counter && super.equals(o)
    case _ => false
  }
  override def hashCode(): Int = super.hashCode()
}

/** `GlobalLimitExec` counterpart of [[NamedLocalLimitExec]]. */
final class NamedGlobalLimitExec(n: Int, c: SparkPlan, o: Int, val counter: String)
    extends GlobalLimitExec(n, c, o) {
  override def nodeName: String = "GlobalLimit"
  override protected lazy val countTerm: String = counter
  override protected def otherCopyArgs: Seq[AnyRef] = counter :: Nil
  override protected def withNewChildInternal(newChild: SparkPlan): GlobalLimitExec =
    new NamedGlobalLimitExec(limit, newChild, offset, counter)
  override protected def doCanonicalize(): SparkPlan =
    GlobalLimitExec(limit, child.canonicalized, offset)
  override def canEqual(o: Any): Boolean = o.isInstanceOf[NamedGlobalLimitExec]
  override def equals(o: Any): Boolean = o match {
    case l: NamedGlobalLimitExec => l.counter == counter && super.equals(o)
    case _ => false
  }
  override def hashCode(): Int = super.hashCode()
}
