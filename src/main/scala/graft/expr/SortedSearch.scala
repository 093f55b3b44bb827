package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, LongType}

/** Codegen'd binary search over an ASCENDING-SORTED `ARRAY<BIGINT>`.
  *
  * `array_contains(positions, pos)` probes by LINEAR scan — O(|D|)
  * per row, O(rows × |D|) per file. The one hot consumer of a sorted
  * long array in the engine is the deletion-vector positional mask
  * ([[graft.io.Tables.readMasked]]): every surviving row of
  * a victim file probes that file's sorted victim-row-index array. At
  * 100 TB RTBF volume a heavily-deleted file carries 10⁵+ positions,
  * and the linear probe turns the mask — built precisely to make
  * deletes cheap to read over — into an O(rows × deletes) filter.
  * Binary search makes it O(rows × log deletes); the loop lives
  * inside whole-stage codegen like every other mask predicate.
  *
  * Contract (exactly the DV sidecar's shape): the array is ascending
  * sorted (`sort_array` default) with no null elements. Null array or
  * null probe → null, matching `array_contains`, so the masked read's
  * `isNull || !contains` predicate is row-identical after the swap.
  * On an UNSORTED array the answer is undefined — this is not a
  * general `array_contains` replacement, and the helper name says so.
  */
case class SortedArrayContains(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = BooleanType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), LongType) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"sorted_array_contains needs (ARRAY<BIGINT>, BIGINT), got " +
          s"${left.dataType.sql} and ${right.dataType.sql}")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val arr = a.asInstanceOf[ArrayData]
    val v = b.asInstanceOf[Long]
    var lo = 0
    var hi = arr.numElements() - 1
    var found = false
    while (!found && lo <= hi) {
      val mid = (lo + hi) >>> 1
      val e = arr.getLong(mid)
      if (e == v) found = true
      else if (e < v) lo = mid + 1
      else hi = mid - 1
    }
    found
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val lo = ctx.freshName("lo")
      val hi = ctx.freshName("hi")
      val mid = ctx.freshName("mid")
      val e = ctx.freshName("e")
      s"""
         |int $lo = 0;
         |int $hi = $a.numElements() - 1;
         |${ev.value} = false;
         |while (!${ev.value} && $lo <= $hi) {
         |  int $mid = ($lo + $hi) >>> 1;
         |  long $e = $a.getLong($mid);
         |  if ($e == $b) { ${ev.value} = true; }
         |  else if ($e < $b) { $lo = $mid + 1; }
         |  else { $hi = $mid - 1; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedArrayContains =
    copy(left = newLeft, right = newRight)
}

object SortedSearch {
  /** `sorted_array_contains(arr, v)` over an ascending-sorted
    * null-free ARRAY<BIGINT> — O(log n) per probe, codegen'd. */
  def sortedArrayContains(arr: Column, v: Column): Column =
    Columns.of(SortedArrayContains(Columns.expr(arr), Columns.expr(v)))
}
