package graft.expressions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Nondeterministic}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graft.ExprBridge
import org.apache.spark.sql.types.{DataType, IntegerType}

/** `spark_partition_id()` that REFERENCES `pinned` without reading them.
  *
  * Column pruning keeps every referenced column below the projection that
  * assigns the id, so each consumer of the exchange underneath it — however
  * few columns it reads itself — prunes that exchange's input alike, and
  * Spark reuses ONE exchange for all of them. For a range exchange that
  * means one bounds sample: a partition id is then the same row placement
  * for every consumer, where a narrower second exchange would sample its
  * own bounds. Codegen'd as Spark's own partition id; `pinned` never
  * reaches the generated code.
  */
case class PinnedPartitionId(pinned: Seq[Expression])
  extends Expression with Nondeterministic {
  override def children: Seq[Expression] = pinned
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = false

  @transient private var partitionId: Int = _

  override protected def initializeInternal(partitionIndex: Int): Unit =
    partitionId = partitionIndex

  override protected def evalInternal(input: InternalRow): Any = partitionId

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val idTerm = "partitionId"
    ctx.addImmutableStateIfNotExists(CodeGenerator.JAVA_INT, idTerm)
    ctx.addPartitionInitializationStatement(s"$idTerm = partitionIndex;")
    ev.copy(code = code"final int ${ev.value} = $idTerm;", isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(pinned = newChildren)
}

object PartitionFunctions {
  /** The partition id, pinning every column of `df` (by attribute, so
    * duplicate column names stay unambiguous). */
  def pinnedPartitionId(df: DataFrame): Column =
    ExprBridge.column(PinnedPartitionId(df.queryExecution.analyzed.output))
}
