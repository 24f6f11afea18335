// Lives under org.apache.spark.sql for the private[sql] bridges
// (Dataset.ofRows) — same packaging as TopKPerKey.
package org.apache.spark.sql.graft

import scala.collection.mutable.ArrayBuffer

import _root_.graft.{Merge, Types}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeSet, BindReferences, BoundReference, Expression, ExpressionSet, GenericInternalRow, JoinedRow, Literal, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.classic.{Dataset => ClassicDataset, SparkSession => ClassicSparkSession}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.array.ByteArrayMethods
import org.apache.spark.unsafe.types.UTF8String

/** Net change per key in one pass over key-sorted rows — the operator
  * behind `graft.Merge.compact`.
  *
  * Output: one row per key — `keys`, the folded action, the key's
  * high-water `seq`, and the payload of its last change in
  * `(seq, action)` order. Keys whose changes annihilate are dropped, or
  * kept as `none` rows with a NULL payload under `keepNone`.
  *
  * The output reuses the child's attributes, as TopKPerKeyNode does, so a
  * self-join of a compacted frame deduplicates like any other plan. Two of
  * them carry rewritten values — the action always, the payload under
  * `keepNone` — so the child's constraints pass through only where they
  * mention keys, `seq` and an unnulled payload: those are the group's last
  * input row, values the constraints already hold for.
  */
case class CompactFoldNode(
    keys: Seq[Attribute],
    seq: Attribute,
    action: Attribute,
    payload: Seq[Attribute],
    keepNone: Boolean,
    child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] =
    keys ++ (action +: seq +: CompactFold.payloadOut(payload, keepNone))
  override protected lazy val validConstraints: ExpressionSet = {
    val kept = AttributeSet(keys ++ (seq +: (if (keepNone) Nil else payload)))
    ExpressionSet(child.constraints.filter(_.references.subsetOf(kept)))
  }
  override protected def withNewChildInternal(c: LogicalPlan): CompactFoldNode =
    copy(child = c)
}

/** Physical fold: requires its child clustered on `keys` and sorted by
  * `(keys, seq, action)`, so EnsureRequirements plans exactly one hash
  * exchange and one sort below it, and each key group arrives contiguous
  * and in fold order. The pass holds one group's state and its last row —
  * memory per partition stays bounded however hot a key is.
  */
case class CompactFoldExec(
    keys: Seq[Attribute],
    seq: Attribute,
    action: Attribute,
    payload: Seq[Attribute],
    keepNone: Boolean,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] =
    keys ++ (action +: seq +: CompactFold.payloadOut(payload, keepNone))
  // one row per key, emitted in key order, on the child's key-clustered
  // partitioning — a following per-key join/aggregate pays no exchange.
  // A member on a rewritten column (inside a PartitioningCollection) no
  // longer holds, so such a partitioning is reported as unknown.
  override def outputPartitioning: Partitioning = child.outputPartitioning match {
    case p: Expression if !p.references.subsetOf(AttributeSet(keys)) =>
      UnknownPartitioning(child.outputPartitioning.numPartitions)
    case p => p
  }
  override def outputOrdering: Seq[SortOrder] = keys.map(SortOrder(_, Ascending))
  override lazy val metrics: Map[String, SQLMetric] =
    Map("numOutputRows" -> SQLMetrics.createMetric(sparkContext, "output rows"))
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(keys) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    (keys :+ seq :+ action).map(SortOrder(_, Ascending)) :: Nil
  override protected def withNewChildInternal(c: SparkPlan): CompactFoldExec =
    copy(child = c)

  override protected def doExecute(): RDD[InternalRow] = {
    val (ks, s, a, p, kn, childOutput) = (keys, seq, action, payload, keepNone, child.output)
    val rows = longMetric("numOutputRows")
    child.execute().mapPartitionsInternal { iter =>
      new CompactFoldIterator(iter, childOutput, ks, s, a, p, kn, rows)
    }
  }
}

/** The per-partition pass. Hot-loop discipline: the key projection and
  * both group buffers are reused (`copyFrom` grows a buffer only when a
  * row outgrows it), the action is matched on its bytes, and each
  * transition is a table lookup — the table is filled from
  * `Merge.mergeAction`, the one definition of the state machine, the
  * first time a (state, action) pair occurs. Projections are generated
  * (`UnsafeProjection.create`).
  */
private[graft] final class CompactFoldIterator(
    input: Iterator[InternalRow],
    childOutput: Seq[Attribute],
    keys: Seq[Attribute],
    seq: Attribute,
    action: Attribute,
    payload: Seq[Attribute],
    keepNone: Boolean,
    numOutputRows: SQLMetric) extends Iterator[InternalRow] {

  private def bound(a: Attribute): Expression =
    BindReferences.bindReference(a: Expression, childOutput)
  private val keyProj = UnsafeProjection.create(keys.map(bound))
  private val toUnsafe = UnsafeProjection.create(childOutput.map(bound))
  private val actIdx = childOutput.indexWhere(_.exprId == action.exprId)
  // output rows project JoinedRow(last row, folded action)
  private val folded = BoundReference(childOutput.size, StringType, nullable = true)
  private def outProj(pay: Seq[Expression]) =
    UnsafeProjection.create(keys.map(bound) ++ (folded +: bound(seq) +: pay))
  private val liveProj = outProj(payload.map(bound))
  private val noneProj = outProj(payload.map(a => Literal(null, a.dataType)))
  private val actionRow = new GenericInternalRow(1)
  private val joined = new JoinedRow()

  // symbols: 0 = no row; 1.. = action strings, interned on first sight
  // (the cdc actions up front, so the steady state never interns)
  private val Absent = 0
  private val names = ArrayBuffer[String](null)
  private val utf8 = ArrayBuffer[UTF8String](null)
  // trans(state)(symbol) → next state; -1 = not yet asked of mergeAction
  private val trans = ArrayBuffer(Array(-1))
  Seq(Types.Insert, Types.Update, Types.Delete).foreach(intern)
  private val noneUtf8 = UTF8String.fromString(Types.None_)

  private def intern(name: String): Int = {
    val i = names.indexOf(name, 1)
    if (i > 0) i else {
      names += name
      utf8 += UTF8String.fromString(name)
      for (t <- trans.indices) trans(t) = trans(t) :+ -1
      trans += Array.fill(names.size)(-1)
      names.size - 1
    }
  }

  private def symbolOf(row: UnsafeRow): Int = {
    if (row.isNullAt(actIdx)) return intern(null)
    val offsetAndSize = row.getLong(actIdx)
    val size = offsetAndSize.toInt
    val addr = row.getBaseOffset + (offsetAndSize >> 32)
    var i = 1
    while (i < utf8.size) {
      val u = utf8(i)
      if (u != null && u.numBytes == size && ByteArrayMethods.arrayEquals(
          row.getBaseObject, addr, u.getBaseObject, u.getBaseOffset, size)) return i
      i += 1
    }
    intern(row.getUTF8String(actIdx).toString)
  }

  private def step(state: Int, sym: Int): Int = {
    var next = trans(state)(sym)
    if (next < 0) {
      val old = if (state == Absent) None else Some(names(state))
      next = Merge.mergeAction(old, names(sym)).map(intern).getOrElse(Absent)
      trans(state)(sym) = next
    }
    next
  }

  private def buffer(n: Int): UnsafeRow = {
    val r = new UnsafeRow(n)
    r.pointTo(new Array[Byte](64), 64)
    r
  }
  private val curKey = buffer(keys.size)
  private val last = buffer(childOutput.size)
  private var open = false
  private var state = Absent
  private var out: InternalRow = null

  /** Close the open group: its output row, or null when it annihilated
    * and `none` rows are not kept. */
  private def close(): InternalRow = {
    open = false
    if (state == Absent && !keepNone) null
    else {
      numOutputRows += 1
      actionRow.update(0, if (state == Absent) noneUtf8 else utf8(state))
      (if (state == Absent) noneProj else liveProj)(joined(last, actionRow))
    }
  }

  override def hasNext: Boolean = {
    while (out == null && (open || input.hasNext)) {
      if (input.hasNext) {
        val row = input.next() match {
          case u: UnsafeRow => u
          case other => toUnsafe(other)
        }
        val key = keyProj(row) // reused buffer
        if (open && !key.equals(curKey)) out = close()
        if (!open) {
          curKey.copyFrom(key)
          state = Absent
          open = true
        }
        state = step(state, symbolOf(row))
        last.copyFrom(row)
      } else out = close()
    }
    out != null
  }

  override def next(): InternalRow = {
    if (!hasNext) throw new NoSuchElementException
    val r = out
    out = null
    r
  }
}

object CompactFoldStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case CompactFoldNode(keys, seq, action, payload, keepNone, child) =>
      CompactFoldExec(keys, seq, action, payload, keepNone, planLater(child)) :: Nil
    case _ => Nil
  }
}

object CompactFold {

  /** Net change per key of `changes` (see [[CompactFoldNode]]); the
    * columns are `keyCols`, then `actionCol`, `seqCol`, `payloadCols`.
    * Registers CompactFoldStrategy on the session (idempotent).
    */
  def apply(
      changes: DataFrame,
      keyCols: Seq[String],
      seqCol: String,
      actionCol: String,
      payloadCols: Seq[String],
      keepNone: Boolean): DataFrame = {
    val spark = changes.sparkSession
    if (!spark.experimental.extraStrategies.contains(CompactFoldStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ CompactFoldStrategy
    val lp = changes.select(
      (keyCols ++ Seq(seqCol, actionCol) ++ payloadCols).map(changes.col): _*)
      .queryExecution.analyzed
    val (keys, rest) = lp.output.splitAt(keyCols.size)
    val Seq(seq, action) = rest.take(2)
    ClassicDataset.ofRows(spark.asInstanceOf[ClassicSparkSession],
      CompactFoldNode(keys, seq, action, rest.drop(2), keepNone, lp))
  }

  /** `none` rows NULL the payload, so under `keepNone` it is nullable. */
  private[graft] def payloadOut(
      payload: Seq[Attribute], keepNone: Boolean): Seq[Attribute] =
    if (keepNone) payload.map(_.withNullability(true)) else payload
}
