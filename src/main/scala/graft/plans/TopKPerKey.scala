// Lives under org.apache.spark.sql for the private[sql] bridges
// (Dataset.ofRows, ExpressionUtils) — standard third-party plan packaging.
package org.apache.spark.sql.graft

import _root_.graft.functions.GraftExtensions
import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeSet, BoundReference, Descending, Expression, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, GenerateUnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.classic.{Dataset => ClassicDataset, SparkSession => ClassicSparkSession}
import org.apache.spark.sql.execution.{BlockingOperatorWithCodegen, CodegenSupport, SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}

/** Whole-operator custom plan (SURVEY.md §7.2 preference (c)): per-key
  * top-k without sorting whole key groups.
  *
  * The DataFrame idiom — `row_number().over(Window.partitionBy(keys)
  * .orderBy(ord)) <= k` — must SORT every key group in full (O(n log n)
  * per group, full materialization under memory pressure) to rank rows it
  * then throws away. This operator keeps a bounded k-element heap per key:
  * O(n log k) time and O(keys × k) memory per partition, no sort spill.
  *
  * Physical contract mirrors `TakeOrderedAndProject`'s partial/final
  * composition, which is the 100 TB story: a PARTIAL heap pass runs on
  * every map partition first (no distribution requirement), so the hash
  * exchange that the FINAL pass's `ClusteredDistribution(keys)` forces
  * carries at most `mapPartitions × distinctKeys × k` rows instead of
  * every input row. At scale the shuffle volume is the whole cost of
  * per-key top-k; the window idiom shuffles (and then sorts) everything.
  */
case class TopKPerKeyNode(
    keys: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(c: LogicalPlan): TopKPerKeyNode =
    copy(child = c)
}

/** Shared bounded-heap pass: one k-heap per key over one partition.
  * Hot-loop discipline: the key projection's reused buffer is used for
  * HashMap lookup and only copied on first sight of a key; row copies
  * happen only on heap insert (bounded by keys × k + evictions), never
  * per input row. Projection and ordering comparators are themselves
  * Janino-generated (`UnsafeProjection.create` / `RowOrdering.create`),
  * so the per-row work is codegen'd even though the heap loop is JVM.
  */
private[graft] object TopKHeap {
  def pass(
      iter: Iterator[InternalRow],
      keyExprs: Seq[Expression],
      order: Seq[SortOrder],
      childOutput: Seq[Attribute],
      k: Int,
      numOutputRows: SQLMetric): Iterator[InternalRow] = {
    val keyProj = UnsafeProjection.create(keyExprs, childOutput)
    val toUnsafe = UnsafeProjection.create(childOutput, childOutput)
    // BaseOrdering: row "less than" = ranks earlier under the SortOrder
    val ord = RowOrdering.create(order, childOutput)
    // max-heap (worst-ranked on top) of the k best rows per key
    implicit val heapOrd: Ordering[UnsafeRow] =
      (a: UnsafeRow, b: UnsafeRow) => ord.compare(a, b)
    val heaps = mutable.HashMap.empty[UnsafeRow, mutable.PriorityQueue[UnsafeRow]]
    iter.foreach { row =>
      val u = row match {
        case ur: UnsafeRow => ur
        case other => toUnsafe(other)
      }
      val key = keyProj(u) // reused buffer — lookup only, copy on insert
      var pq = heaps.getOrElse(key, null)
      if (pq == null) {
        pq = mutable.PriorityQueue.empty[UnsafeRow]
        heaps.put(key.copy(), pq)
      }
      if (pq.size < k) pq.enqueue(u.copy())
      else if (ord.compare(u, pq.head) < 0) { pq.dequeue(); pq.enqueue(u.copy()) }
    }
    heaps.valuesIterator.flatMap { pq =>
      numOutputRows += pq.size
      pq.iterator
    }
  }
}

/** Per-partition heap collection used by the codegen path: same hot-loop
  * discipline as [[TopKHeap.pass]], exposed as an object the generated
  * Java can call (`insert` per fused input row, then drain `rowIterator`).
  */
class TopKHeapBuffer(
    keyExprs: Seq[Expression],
    order: Seq[SortOrder],
    output: Seq[Attribute],
    k: Int,
    numOutputRows: SQLMetric) {
  private val keyProj = UnsafeProjection.create(keyExprs, output)
  private val ord = RowOrdering.create(order, output)
  private implicit val heapOrd: Ordering[UnsafeRow] =
    (a: UnsafeRow, b: UnsafeRow) => ord.compare(a, b)
  private val heaps =
    mutable.HashMap.empty[UnsafeRow, mutable.PriorityQueue[UnsafeRow]]

  def insert(u: UnsafeRow): Unit = {
    val key = keyProj(u)
    var pq = heaps.getOrElse(key, null)
    if (pq == null) {
      pq = mutable.PriorityQueue.empty[UnsafeRow]
      heaps.put(key.copy(), pq)
    }
    if (pq.size < k) pq.enqueue(u.copy())
    else if (ord.compare(u, pq.head) < 0) { pq.dequeue(); pq.enqueue(u.copy()) }
  }

  def rowIterator(): Iterator[UnsafeRow] = heaps.valuesIterator.flatMap { pq =>
    numOutputRows += pq.size
    pq.iterator
  }
}

/** Map-side partial pass: reduces each input partition to ≤ distinct-keys
  * × k rows BEFORE the exchange. No distribution requirement — runs where
  * the data already is, and participates in WHOLE-STAGE CODEGEN as a
  * blocking operator (SortExec's shape): the scan/filter/project pipeline
  * fuses straight into `TopKHeapBuffer.insert` with no iterator boundary,
  * then the surviving ≤ keys × k rows stream out of the heaps.
  */
case class TopKPerKeyPartialExec(
    keys: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    child: SparkPlan) extends UnaryExecNode with BlockingOperatorWithCodegen {

  override def output: Seq[Attribute] = child.output
  // row-elimination only — partitioning passes through, so a downstream
  // key-compatible exchange can land exactly once
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override lazy val metrics: Map[String, SQLMetric] =
    Map("numOutputRows" -> SQLMetrics.createMetric(sparkContext, "partial output rows"))
  override def requiredChildDistribution: Seq[Distribution] =
    UnspecifiedDistribution :: Nil
  override protected def withNewChildInternal(c: SparkPlan): TopKPerKeyPartialExec =
    copy(child = c)

  override protected def doExecute(): RDD[InternalRow] = {
    val (kLocal, keyExprs, orderLocal, childOutput) = (k, keys, order, child.output)
    val rows = longMetric("numOutputRows")
    child.execute().mapPartitions { iter =>
      TopKHeap.pass(iter, keyExprs, orderLocal, childOutput, kLocal, rows)
    }
  }

  // ---- whole-stage codegen (blocking consumer, SortExec pattern) ----

  // The keys/order columns ARE used — but only through the UnsafeRow the
  // child's consume() materializes (rowVar.code), never as loose column
  // vars. Reporting them here would make consume() ALSO emit their
  // declarations via evaluateRequiredVariables, and whenever keys+order
  // carry deferred (freshly computed) vars of a variable-producing child
  // the two sites redeclare the same locals — Janino "Redefinition of
  // local variable", silent interpreted fallback. SortExec declares the
  // same empty set for the same reason.
  override def usedInputs: AttributeSet = AttributeSet.empty

  override def inputRDDs(): Seq[RDD[InternalRow]] =
    child.asInstanceOf[CodegenSupport].inputRDDs()

  /** Called from generated code via the plan reference. */
  def createBuffer(): TopKHeapBuffer =
    new TopKHeapBuffer(keys, order, child.output, k, longMetric("numOutputRows"))

  private var bufferVariable: String = _

  override protected def doProduce(ctx: CodegenContext): String = {
    val needTopK = ctx.addMutableState(CodeGenerator.JAVA_BOOLEAN, "needTopK",
      v => s"$v = true;")
    val thisPlan = ctx.addReferenceObj("plan", this)
    bufferVariable = ctx.addMutableState(classOf[TopKHeapBuffer].getName,
      "topkBuffer", v => s"$v = $thisPlan.createBuffer();", forceInline = true)
    val iterVariable = ctx.addMutableState("scala.collection.Iterator",
      "topkOutputIter", forceInline = true)
    val addToBuffer = ctx.freshName("addToTopKBuffer")
    val addFuncName = ctx.addNewFunction(addToBuffer,
      s"""
         |private void $addToBuffer() throws java.io.IOException {
         |  ${child.asInstanceOf[CodegenSupport].produce(ctx, this)}
         |}
       """.stripMargin.trim)
    val outputRow = ctx.freshName("topkOutputRow")
    val unsafeRowCls = classOf[UnsafeRow].getName
    s"""
       |if ($needTopK) {
       |  $addFuncName();
       |  $iterVariable = $bufferVariable.rowIterator();
       |  $needTopK = false;
       |}
       |while ($limitNotReachedCond $iterVariable.hasNext()) {
       |  $unsafeRowCls $outputRow = ($unsafeRowCls) $iterVariable.next();
       |  ${consume(ctx, null, outputRow)}
       |  if (shouldStop()) return;
       |}
     """.stripMargin
  }

  override def doConsume(
      ctx: CodegenContext, input: Seq[ExprCode], row: ExprCode): String = {
    val unsafeRowCls = classOf[UnsafeRow].getName
    if (row != null) {
      s"""
         |${row.code}
         |$bufferVariable.insert(($unsafeRowCls) ${row.value});
       """.stripMargin
    } else {
      val colExprs = child.output.zipWithIndex.map { case (attr, i) =>
        BoundReference(i, attr.dataType, attr.nullable)
      }
      val evaluateInputs = evaluateVariables(input)
      ctx.INPUT_ROW = null
      ctx.currentVars = input
      val code = GenerateUnsafeProjection.createCode(ctx, colExprs)
      s"""
         |$evaluateInputs
         |${code.code}
         |$bufferVariable.insert(($unsafeRowCls) ${code.value});
       """.stripMargin
    }
  }
}

/** Final merge pass: requires `ClusteredDistribution(keys)` — Spark's
  * EnsureRequirements inserts the hash exchange above the partial pass,
  * then each key's ≤ mapPartitions × k surviving candidates meet in one
  * post-shuffle partition and a second heap pass keeps the true top-k.
  */
case class TopKPerKeyExec(
    keys: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output
  // preserves the key-clustered distribution the exchange below it
  // established — a following per-key aggregate/join on the same keys
  // must NOT pay a second exchange
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override lazy val metrics: Map[String, SQLMetric] =
    Map("numOutputRows" -> SQLMetrics.createMetric(sparkContext, "output rows"))
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(keys) :: Nil
  override protected def withNewChildInternal(c: SparkPlan): TopKPerKeyExec =
    copy(child = c)

  override protected def doExecute(): RDD[InternalRow] = {
    val (kLocal, keyExprs, orderLocal, childOutput) = (k, keys, order, child.output)
    val rows = longMetric("numOutputRows")
    child.execute().mapPartitions { iter =>
      TopKHeap.pass(iter, keyExprs, orderLocal, childOutput, kLocal, rows)
    }
  }
}

object TopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKeyNode(keys, order, k, child) =>
      TopKPerKeyExec(keys, order, k,
        TopKPerKeyPartialExec(keys, order, k, planLater(child))) :: Nil
    case _ => Nil
  }
}

object TopK {

  /** Per-key top-k rows of `df` under `orderBy` (col name, descending?).
    * Registers TopKStrategy on the session (idempotent).
    */
  def perKey(
      df: DataFrame,
      keyCols: Seq[String],
      orderBy: Seq[(String, Boolean)],
      k: Int): DataFrame = {
    val spark = df.sparkSession
    GraftExtensions.addStrategy(spark, TopKStrategy)
    val lp = df.queryExecution.analyzed
    def attr(n: String): Attribute = lp.output.find(_.name == n).getOrElse(
      throw new IllegalArgumentException(s"no column $n in ${lp.output.map(_.name)}"))
    val order = orderBy.map { case (n, desc) =>
      SortOrder(attr(n), if (desc) Descending else Ascending)
    }
    ClassicDataset.ofRows(spark.asInstanceOf[ClassicSparkSession],
      TopKPerKeyNode(keyCols.map(attr), order, k, lp))
  }
}
