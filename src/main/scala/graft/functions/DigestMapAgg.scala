// Lives under org.apache.spark.sql for catalyst internals (Expression,
// TypedImperativeAggregate, ExternalCatalogUtils), like the other graft
// expressions.
package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Per-partition-dir digest aggregate for the lake's IN-WRITE digest
  * (optimization guide §6: one pass instead of write + full read-back):
  * observed ON the publish's write job, it folds every written row into
  * `dir-rel-path → (row count, bit_xor(row hash))`, so the digest costs
  * zero extra jobs and zero re-read of the written bytes.
  *
  * The rel key is rendered exactly as the parquet writer names the dir:
  * the children are the partition columns cast to string (`Cast(v,
  * string)` in the session time zone — the writer's own rendering, for
  * every partition type), joined by [[DigestMapAgg.relPath]] through
  * `ExternalCatalogUtils.getPartitionPathString` (Hive escaping,
  * null/empty → `__HIVE_DEFAULT_PARTITION__`). The keys therefore match
  * the physical dir names byte-for-byte; a key that somehow failed to
  * would only cost a digest-lookup miss (a full diff — the safe
  * direction), never a wrong skip, because cross-generation
  * comparisons go through the feed's OWN dir listing.
  *
  * Children: the partition values cast to string (in partitionCols
  * order) followed by the row-hash expression. Hash inputs are xxhash64
  * outputs — never null. Output: map<string, struct<n: long, x: long>>,
  * keys sorted for determinism.
  */
case class DigestMapAgg(
    children: Seq[Expression],
    partNames: Seq[String],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.HashMap[String, Array[Long]]] {

  require(children.length == partNames.length + 1,
    "DigestMapAgg: children = partition value exprs + the row-hash expr")

  private def partExprs: Seq[Expression] = children.dropRight(1)
  private def hashExpr: Expression = children.last

  override def nullable: Boolean = false
  override def dataType: DataType = MapType(StringType,
    StructType(Seq(StructField("n", LongType, nullable = false),
      StructField("x", LongType, nullable = false))),
    valueContainsNull = false)

  override def createAggregationBuffer(): java.util.HashMap[String, Array[Long]] =
    new java.util.HashMap[String, Array[Long]]()

  override def update(buffer: java.util.HashMap[String, Array[Long]],
      input: InternalRow): java.util.HashMap[String, Array[Long]] = {
    // relPath's rendering, without its per-row collections
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < partExprs.length) {
      if (i > 0) sb.append('/')
      val v = partExprs(i).eval(input)
      sb.append(ExternalCatalogUtils.getPartitionPathString(
        partNames(i), if (v == null) null else v.toString))
      i += 1
    }
    val h = hashExpr.eval(input).asInstanceOf[Long]
    val arr = buffer.computeIfAbsent(sb.toString, _ => new Array[Long](2))
    arr(0) += 1L
    arr(1) ^= h
    buffer
  }

  override def merge(b1: java.util.HashMap[String, Array[Long]],
      b2: java.util.HashMap[String, Array[Long]])
      : java.util.HashMap[String, Array[Long]] = {
    b2.forEach { (k, v) =>
      val arr = b1.computeIfAbsent(k, _ => new Array[Long](2))
      arr(0) += v(0)
      arr(1) ^= v(1)
    }
    b1
  }

  override def eval(buffer: java.util.HashMap[String, Array[Long]]): Any = {
    val keys = new java.util.ArrayList[String](buffer.keySet())
    java.util.Collections.sort(keys)
    val ks = new Array[Any](keys.size)
    val vs = new Array[Any](keys.size)
    var i = 0
    while (i < keys.size) {
      val k = keys.get(i)
      val v = buffer.get(k)
      ks(i) = UTF8String.fromString(k)
      vs(i) = InternalRow(v(0), v(1))
      i += 1
    }
    new ArrayBasedMapData(new GenericArrayData(ks), new GenericArrayData(vs))
  }

  override def serialize(buffer: java.util.HashMap[String, Array[Long]])
      : Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeInt(buffer.size())
    buffer.forEach { (k, v) =>
      val kb = k.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      out.writeInt(kb.length)
      out.write(kb)
      out.writeLong(v(0))
      out.writeLong(v(1))
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte])
      : java.util.HashMap[String, Array[Long]] = {
    val in = new java.io.DataInputStream(
      new java.io.ByteArrayInputStream(bytes))
    val n = in.readInt()
    val m = new java.util.HashMap[String, Array[Long]](n * 2)
    var i = 0
    while (i < n) {
      val kb = new Array[Byte](in.readInt())
      in.readFully(kb)
      m.put(new String(kb, java.nio.charset.StandardCharsets.UTF_8),
        Array(in.readLong(), in.readLong()))
      i += 1
    }
    m
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): DigestMapAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): DigestMapAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): DigestMapAgg =
    copy(children = newChildren)
}

object DigestMapAgg {
  /** The relative dir path the parquet writer names for partition
    * values already rendered as strings (`Cast(v, string)`; null for a
    * null value): `name=escaped(value)` per column, joined by '/'.
    */
  def relPath(partNames: Seq[String], values: Seq[String]): String =
    partNames.zip(values).map { case (n, v) =>
      ExternalCatalogUtils.getPartitionPathString(n, v)
    }.mkString("/")

  /** The aggregate as a Column (for `Dataset.observe`) over the
    * partition columns `partNames` (cast to string, in order) and the
    * row-hash column.
    */
  def column(partNames: Seq[String],
      rowHash: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.classic.ExpressionUtils
    ExpressionUtils.column(DigestMapAgg(
      partNames.map(c => ExpressionUtils.expression(
        org.apache.spark.sql.functions.col(c).cast(StringType))) :+
        ExpressionUtils.expression(rowHash),
      partNames).toAggregateExpression())
  }
}
