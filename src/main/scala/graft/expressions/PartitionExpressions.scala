package graft.expressions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Nondeterministic}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graft.ExprBridge
import org.apache.spark.sql.types.{DataType, IntegerType, LongType}
import org.apache.spark.unsafe.types.UTF8String

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

/** The natural-order row id `offset(file) + row index` as one projection
  * over a scan's `_metadata.file_path` and `_metadata.row_index`, from the
  * per-file start `offsets` keyed by that file path: no join, so column
  * pruning drops it from any plan that never reads the id. The offset is a
  * hash lookup memoized on the last file seen, so a row pays one path
  * comparison. The offsets stay out of the plan string (it prints the same
  * for any file count) but not out of equality, so two plans over
  * different offsets never share an exchange or a cache entry. */
case class NaturalRowId(filePath: Expression, rowIndex: Expression,
                        offsets: Seq[(String, Long)]) extends BinaryExpression {
  override def left: Expression = filePath
  override def right: Expression = rowIndex
  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String = "natural_row_id"
  override protected def stringArgs: Iterator[Any] = Iterator(filePath, rowIndex)

  @transient private lazy val byFile: java.util.HashMap[UTF8String, java.lang.Long] = {
    val m = new java.util.HashMap[UTF8String, java.lang.Long](offsets.size * 2)
    offsets.foreach { case (f, o) => m.put(UTF8String.fromString(f), o) }
    m
  }

  /** The start offset of `file`; a file the offsets were not taken over
    * is an error, never a null or a dropped row. */
  def offsetOf(file: UTF8String): Long = {
    val o = byFile.get(file)
    if (o == null) throw new IllegalStateException(
      s"natural row id: $file is not among the ${offsets.size} files " +
        "whose row offsets were taken for this root")
    o
  }

  // (file, offset) of the last row: one reference, so a racing reader sees
  // a consistent pair or misses
  @transient private var last: (UTF8String, Long) = _

  override def eval(input: InternalRow): Any = {
    val f = filePath.eval(input).asInstanceOf[UTF8String]
    val m = last
    val off =
      if (m != null && m._1 == f) m._2
      else { val o = offsetOf(f); last = (f.clone(), o); o }
    off + rowIndex.eval(input).asInstanceOf[Long]
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("naturalRowId", this)
    val lastFile = ctx.addMutableState("UTF8String", "ridLastFile")
    val lastOff = ctx.addMutableState(CodeGenerator.JAVA_LONG, "ridLastOff")
    val f = filePath.genCode(ctx)
    val i = rowIndex.genCode(ctx)
    ev.copy(code = code"""
      ${f.code}
      ${i.code}
      if (!${f.value}.equals($lastFile)) {
        $lastOff = $self.offsetOf(${f.value});
        $lastFile = ${f.value}.clone();
      }
      final long ${ev.value} = $lastOff + ${i.value};""", isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(filePath = newLeft, rowIndex = newRight)
}

object PartitionFunctions {
  /** The partition id, pinning every column of `df` (by attribute, so
    * duplicate column names stay unambiguous). */
  def pinnedPartitionId(df: DataFrame): Column =
    ExprBridge.column(PinnedPartitionId(df.queryExecution.analyzed.output))

  /** The natural-order row id of each row of a parquet scan, from the
    * per-file start `offsets`. */
  def naturalRowId(offsets: Seq[(String, Long)]): Column =
    ExprBridge.column(NaturalRowId(
      ExprBridge.expression(col("_metadata.file_path")),
      ExprBridge.expression(col("_metadata.row_index")),
      offsets))
}
