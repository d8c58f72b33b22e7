package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{BinaryType, BooleanType, DataType, LongType}
import org.apache.spark.util.sketch.BloomFilter

/** `bloom_might_contain(key, filter_bytes)` — scan-side pruning for
  * selective fact⋈fact joins, as a native codegen'd `Expression` (the
  * (b)-tier extension shape, like [[DueDateExpression]]).
  *
  * The pattern: build a Bloom filter over the SELECTIVE side's join
  * keys (a fixed-size bitmap regardless of key count — broadcastable
  * when the exact key set is not), filter the big side's scan with it,
  * then run the exact join on the survivors. False positives pass the
  * filter but are eliminated by the join, so the composed result is
  * EXACT at any fpp — the filter only decides how much of the big side
  * is read and shuffled. At 100 TB this is the difference between
  * shuffling the full fact table and shuffling ~selectivity + fpp of
  * it; Spark's own runtime row-group filtering applies the same idea
  * implicitly, this operator is the explicit, fpp-tunable form.
  *
  * `left` is the probed key (LONG), `right` the serialized filter — a
  * foldable BINARY literal, so the filter ships with the plan and each
  * executor deserializes it once (transient lazy), never per row.
  */
case class BloomMightContain(left: Expression, right: Expression)
    extends BinaryExpression {

  @transient private lazy val bloom: BloomFilter =
    BloomFilter.readFrom(new java.io.ByteArrayInputStream(
      right.eval(null).asInstanceOf[Array[Byte]]))

  /** Codegen entry point (the generated Java calls this). */
  def mightContain(v: Long): Boolean = bloom.mightContainLong(v)

  override def dataType: DataType = BooleanType
  override def nullable: Boolean = left.nullable

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"bloom_might_contain key must be BIGINT, got ${left.dataType}")
    else if (right.dataType != BinaryType || !right.foldable)
      TypeCheckResult.TypeCheckFailure(
        "bloom_might_contain filter must be a BINARY literal")
    else TypeCheckResult.TypeCheckSuccess

  override def eval(input: InternalRow): Any = {
    val v = left.eval(input)
    if (v == null) null else mightContain(v.asInstanceOf[Long])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // reference THIS expression (Serializable; carries the bytes) and
    // probe through the lazily-deserialized filter — the byte[] literal
    // is never materialized in the per-row path
    val ref = ctx.addReferenceObj("bloomMightContain", this,
      classOf[BloomMightContain].getName)
    val leftGen = left.genCode(ctx)
    ev.copy(code =
      code"""
        ${leftGen.code}
        boolean ${ev.isNull} = ${leftGen.isNull};
        boolean ${ev.value} = false;
        if (!${ev.isNull}) {
          ${ev.value} = $ref.mightContain(${leftGen.value});
        }
      """)
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): BloomMightContain =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "bloom_might_contain"
}

object BloomMightContain {
  /** Serialize a built filter for use as the BINARY literal argument. */
  def serialize(bloom: BloomFilter): Array[Byte] = {
    val bo = new java.io.ByteArrayOutputStream()
    bloom.writeTo(bo)
    bo.toByteArray
  }
}
