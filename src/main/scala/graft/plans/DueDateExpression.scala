package graft.plans

import java.time.LocalDate
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, DateType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Static (codegen-callable) due-date kernel — the JS `getDueDate`
  * semantics (/root/reference/src/helpers.ts:228-259) over epoch-day
  * ints. Kept in a standalone object so Scala emits static forwarders
  * the generated Java can call directly. */
object DueDateUtil {
  val DaysAfter: UTF8String = UTF8String.fromString("DAYSAFTERBILLDATE")
  val OfFollowing: UTF8String = UTF8String.fromString("OFFOLLOWINGMONTH")

  /** termsType null → EOM-after branch. */
  def eomAfter(epochDay: Int): Int = {
    val m = LocalDate.ofEpochDay(epochDay.toLong).plusMonths(1)
    m.withDayOfMonth(m.lengthOfMonth).toEpochDay.toInt
  }

  /** Non-null termsType only (null routes to [[eomAfter]]): unrecognized
    * terms return the bill date unchanged — the reference's nested
    * ternary falls through (/root/reference/src/helpers.ts:236-258). */
  def compute(epochDay: Int, termsType: UTF8String, termsDays: Int): Int = {
    val d = LocalDate.ofEpochDay(epochDay.toLong)
    val r =
      if (termsType == DaysAfter) d.plusDays(termsDays.toLong)
      else if (termsType == OfFollowing)
        d.plusMonths(1).withDayOfMonth(1).plusDays(termsDays.toLong - 1)
      else d
    r.toEpochDay.toInt
  }
}

/** Native Catalyst `Expression` for the trading-terms due date — the
  * (b)-tier extension point (custom `Expression` with `doGenCode`) from
  * the build plan. Semantically identical to the built-in combo
  * `Fns.dueDate` and the Scala UDF `Fns.dueDateUdf`; unlike the UDF it
  * participates in whole-stage codegen (no Row boxing, no closure
  * serialization), and unlike a null-intolerant expression it keeps the
  * reference's "null terms ⇒ EOM after EOM" branch, so null handling is
  * custom in both eval and codegen.
  */
case class DueDateExpression(first: Expression, second: Expression,
    third: Expression) extends TernaryExpression {

  private def date = first
  private def termsType = second
  private def termsDays = third

  override def dataType: DataType = DateType
  override def nullable: Boolean = date.nullable || termsDays.nullable
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (date.dataType == DateType && termsType.dataType == StringType &&
      termsDays.dataType == IntegerType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"due_date(date, string, int) got (${date.dataType}, " +
        s"${termsType.dataType}, ${termsDays.dataType})")
  }

  override def eval(input: InternalRow): Any = {
    val d = date.eval(input)
    if (d == null) return null
    val tt = termsType.eval(input)
    if (tt == null) return DueDateUtil.eomAfter(d.asInstanceOf[Int])
    val td = termsDays.eval(input)
    if (td == null) return null
    DueDateUtil.compute(d.asInstanceOf[Int], tt.asInstanceOf[UTF8String],
      td.asInstanceOf[Int])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val dGen = date.genCode(ctx)
    val ttGen = termsType.genCode(ctx)
    val tdGen = termsDays.genCode(ctx)
    val util = "graft.plans.DueDateUtil"
    ev.copy(code =
      code"""
        ${dGen.code}
        boolean ${ev.isNull} = true;
        int ${ev.value} = -1;
        if (!${dGen.isNull}) {
          ${ttGen.code}
          if (${ttGen.isNull}) {
            ${ev.isNull} = false;
            ${ev.value} = $util.eomAfter(${dGen.value});
          } else {
            ${tdGen.code}
            if (!${tdGen.isNull}) {
              ${ev.isNull} = false;
              ${ev.value} = $util.compute(${dGen.value}, ${ttGen.value}, ${tdGen.value});
            }
          }
        }
      """)
  }

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): DueDateExpression =
    copy(first = newFirst, second = newSecond, third = newThird)

  override def prettyName: String = "due_date"
}
