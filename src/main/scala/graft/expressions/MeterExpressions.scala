package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Nondeterministic}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graft.ExprBridge
import org.apache.spark.sql.types.{BooleanType, DataType}
import org.apache.spark.util.LongAccumulator

/** Pass-through KEEP predicate that meters what a cap drops, in-plan.
  *
  * Returns `keep` (null-safe: null → false). When a row is dropped
  * (keep = false) it tallies the row into `rowAcc`, and — when `first`
  * is true, i.e. the row is its bucket's designated representative —
  * tallies the bucket into `bucketAcc`. Accumulator updates merge back to
  * the driver as tasks finish, so the counts are readable synchronously
  * after any action on the plan, with NO separate metering job: the
  * driver does no data work, and no second pass computes a statistic the
  * flowing rows already witness.
  *
  * Semantics of the counts: per-execution-exact on success; task retries
  * or speculative duplicates can overcount (the standard accumulator
  * caveat — metering, not results); repeated actions on the SAME plan
  * instance accumulate (the registered CapDrop reports plan-lifetime
  * totals). Marked nondeterministic so the optimizer neither duplicates,
  * reorders, nor constant-folds the predicate — each surviving execution
  * witnesses every row exactly once.
  *
  * Fully codegen'd (house rule: no CodegenFallback in hot paths — the
  * fallback would force the filter out of the whole-stage pipeline).
  */
case class CapMeter(keep: Expression, first: Expression,
                    rowAcc: LongAccumulator, bucketAcc: LongAccumulator)
  extends Expression with Nondeterministic {
  override def children: Seq[Expression] = Seq(keep, first)
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false

  override protected def initializeInternal(partitionIndex: Int): Unit = ()

  override protected def evalInternal(input: InternalRow): Any = {
    val k = keep.eval(input)
    val kept = k != null && k.asInstanceOf[Boolean]
    if (!kept) {
      rowAcc.add(1L)
      val f = first.eval(input)
      if (f != null && f.asInstanceOf[Boolean]) bucketAcc.add(1L)
    }
    kept
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val rAcc = ctx.addReferenceObj("capRowAcc", rowAcc,
      classOf[LongAccumulator].getName)
    val bAcc = ctx.addReferenceObj("capBucketAcc", bucketAcc,
      classOf[LongAccumulator].getName)
    val kc = keep.genCode(ctx)
    val fc = first.genCode(ctx)
    ev.copy(code =
      code"""
        ${kc.code}
        boolean ${ev.value} = !${kc.isNull} && ${kc.value};
        if (!${ev.value}) {
          $rAcc.add(1L);
          ${fc.code}
          if (!${fc.isNull} && ${fc.value}) { $bAcc.add(1L); }
        }
      """, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(keep = newChildren(0), first = newChildren(1))
}

object MeterFunctions {
  /** Column wrapper; the accumulators must be registered with the
    * SparkContext by the caller. */
  def capMeter(keep: Column, first: Column,
               rowAcc: LongAccumulator, bucketAcc: LongAccumulator): Column =
    ExprBridge.column(CapMeter(ExprBridge.expression(keep),
      ExprBridge.expression(first), rowAcc, bucketAcc))
}
