// Lives under org.apache.spark.sql because the Column↔Expression bridge
// (classic.ExpressionUtils) and AbstractDataType are private[sql] — the
// standard packaging for third-party Catalyst expressions.
package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, DoubleType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Codegen'd dot product over two `array<double>` columns.
  *
  * The HOF form (`aggregate(zip_with(a, b, _*_), 0.0, _+_)`) is interpreted
  * per element (HigherOrderFunction lambdas don't participate in whole-stage
  * codegen) and allocates an intermediate zipped array per row. This
  * expression compiles to a tight primitive loop inside WholeStageCodegen —
  * the preferred shape for the 100 TB similarity path (SURVEY.md §2.9).
  *
  * Summation order is the same sequential left-fold as the HOF form, so
  * results are bitwise identical and oracle parity is unaffected.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))

  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Single-pass cosine similarity: one traversal accumulates dot, |a|², |b|²
  * (three independent double accumulators), then combines as
  * `dot / (sqrt(aa) * sqrt(bb))` — bitwise-equal to composing three
  * DotProduct calls, at a third of the array traffic.
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))

  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var aa = 0.0; var bb = 0.0
    var i = 0
    while (i < n) {
      val xv = x.getDouble(i); val yv = y.getDouble(i)
      dot += xv * yv; aa += xv * xv; bb += yv * yv
      i += 1
    }
    dot / (math.sqrt(aa) * math.sqrt(bb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val dot = ctx.freshName("dot"); val aa = ctx.freshName("aa")
      val bb = ctx.freshName("bb")
      val xv = ctx.freshName("xv"); val yv = ctx.freshName("yv")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0; double $aa = 0.0; double $bb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xv = $a.getDouble($i); double $yv = $b.getDouble($i);
         |  $dot += $xv * $yv; $aa += $xv * $xv; $bb += $yv * $yv;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($aa) * java.lang.Math.sqrt($bb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}

/** Byte-wise Hamming distance between two strings: differing positions
  * over the common prefix plus the length difference. For the engine's
  * ASCII bit-string fingerprints this is the classic Hamming distance,
  * computed in one tight byte loop (no per-position substring allocations
  * — the composed `substring(a,j,1) =!= substring(b,j,1)` chain it
  * replaces materialized 2k UTF8String slices per row).
  */
case class HammingDistance(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType, StringType)

  override def dataType: DataType = IntegerType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[UTF8String]
    val y = b.asInstanceOf[UTF8String]
    val n = math.min(x.numBytes(), y.numBytes())
    var d = math.abs(x.numBytes() - y.numBytes())
    var i = 0
    while (i < n) { if (x.getByte(i) != y.getByte(i)) d += 1; i += 1 }
    d
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val d = ctx.freshName("d")
      s"""
         |int $n = java.lang.Math.min($a.numBytes(), $b.numBytes());
         |int $d = java.lang.Math.abs($a.numBytes() - $b.numBytes());
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.getByte($i) != $b.getByte($i)) $d++;
         |}
         |${ev.value} = $d;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HammingDistance =
    copy(left = newLeft, right = newRight)
}

/** PQ nearest-code argmin over a flattened codebook: `codes(c)` whose
  * subvector (rows of `flat`, `dim = sv.length` doubles each, in `codes`
  * order) minimizes squared L2 to `sv`, ties → the EARLIEST (= lowest,
  * callers pass code-sorted arrays) code via strict `<`.
  *
  * Distance per code is `(dot(sv,sv) − 2·dot(sv,cv)) + dot(cv,cv)` with
  * each dot a sequential left-fold — the identical IEEE tree to the
  * composed DotProduct form and the oracle's `list_dot_product` mirror,
  * so assignments are bitwise-reproducible. One codegen'd loop replaces a
  * kCode×-row broadcast-join blowup + hash-aggregate argmin (at
  * kCode=256: 7.7 s → in-loop, and the HOF-fold alternative is
  * interpreted per element — slower still).
  */
case class NearestCode(first: Expression, second: Expression, third: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression
    with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), ArrayType(LongType), ArrayType(DoubleType))

  override def dataType: DataType = LongType

  override def nullSafeEval(a: Any, b: Any, c: Any): Any = {
    val sv = a.asInstanceOf[ArrayData]
    val codes = b.asInstanceOf[ArrayData]
    val flat = c.asInstanceOf[ArrayData]
    val dim = sv.numElements()
    val n = codes.numElements()
    require(flat.numElements() == n * dim,
      s"NearestCode: flat codebook has ${flat.numElements()} doubles, " +
        s"expected $n codes x $dim dims")
    var ssq = 0.0
    var i = 0
    while (i < dim) { val x = sv.getDouble(i); ssq += x * x; i += 1 }
    var best = Double.PositiveInfinity
    var bestCode = -1L
    var cIdx = 0
    while (cIdx < n) {
      val off = cIdx * dim
      var dot = 0.0; var csq = 0.0
      var j = 0
      while (j < dim) {
        val x = sv.getDouble(j); val y = flat.getDouble(off + j)
        dot += x * y; csq += y * y
        j += 1
      }
      val d = (ssq - 2.0 * dot) + csq
      if (d < best) { best = d; bestCode = codes.getLong(cIdx) }
      cIdx += 1
    }
    bestCode
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, c) => {
      val dim = ctx.freshName("dim"); val n = ctx.freshName("n")
      val ssq = ctx.freshName("ssq"); val best = ctx.freshName("best")
      val bestCode = ctx.freshName("bestCode")
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val cIdx = ctx.freshName("cIdx"); val off = ctx.freshName("off")
      val dot = ctx.freshName("dot"); val csq = ctx.freshName("csq")
      val x = ctx.freshName("x"); val y = ctx.freshName("y")
      val d = ctx.freshName("d")
      s"""
         |int $dim = $a.numElements();
         |int $n = $b.numElements();
         |if ($c.numElements() != $n * $dim) {
         |  throw new IllegalArgumentException(
         |    "NearestCode: flat codebook has " + $c.numElements() +
         |    " doubles, expected " + $n + " codes x " + $dim + " dims");
         |}
         |double $ssq = 0.0;
         |for (int $i = 0; $i < $dim; $i++) {
         |  double $x = $a.getDouble($i); $ssq += $x * $x;
         |}
         |double $best = Double.POSITIVE_INFINITY;
         |long $bestCode = -1L;
         |for (int $cIdx = 0; $cIdx < $n; $cIdx++) {
         |  int $off = $cIdx * $dim;
         |  double $dot = 0.0; double $csq = 0.0;
         |  for (int $j = 0; $j < $dim; $j++) {
         |    double $x = $a.getDouble($j);
         |    double $y = $c.getDouble($off + $j);
         |    $dot += $x * $y; $csq += $y * $y;
         |  }
         |  double $d = ($ssq - 2.0 * $dot) + $csq;
         |  if ($d < $best) { $best = $d; $bestCode = $b.getLong($cIdx); }
         |}
         |${ev.value} = $bestCode;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): NearestCode =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** IVF top-2 cells over a flattened centroid table: the two `cids(i)`
  * whose subvectors (rows of `flat`, `dim` doubles each in `cids` order)
  * have the highest cosine similarity to `v`, in rank order; strict `>`
  * keeps the EARLIER (= lowest, callers pass cid-sorted arrays) cell on
  * ties. The first element is the nearest cell, so one expression
  * serves single- and two-probe assignment (StreamSim's per-row
  * streaming fold slices it).
  *
  * Cosine per cell is the single-pass dot/√·√ loop of [[CosineSim]] —
  * the identical IEEE accumulation tree, truncated to the shorter of the
  * two vectors — in one tight primitive loop instead of an interpreted
  * HigherOrderFunction fold (guide §4). Emits the ids scored above -∞:
  * at most 2, none for an empty table, never a duplicate (each cell
  * enters the ranking once). A NaN cosine (zero vector) never beats the
  * -∞ start (`NaN > x` is false), so a zero vector gets no cell.
  */
case class Top2Cells(first: Expression, second: Expression, third: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression
    with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), ArrayType(LongType), ArrayType(DoubleType))

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(a: Any, b: Any, c: Any): Any = {
    val v = a.asInstanceOf[ArrayData]
    val cids = b.asInstanceOf[ArrayData]
    val flat = c.asInstanceOf[ArrayData]
    val n = cids.numElements()
    val dim = if (n == 0) 0 else flat.numElements() / n
    require(flat.numElements() == n * dim,
      s"Top2Cells: flat centroids have ${flat.numElements()} doubles, " +
        s"not divisible into $n cells")
    val m = math.min(v.numElements(), dim)
    var s1 = Double.NegativeInfinity; var c1 = -1L
    var s2 = Double.NegativeInfinity; var c2 = -1L
    var i = 0
    while (i < n) {
      val off = i * dim
      var dot = 0.0; var aa = 0.0; var bb = 0.0
      var j = 0
      while (j < m) {
        val x = v.getDouble(j); val y = flat.getDouble(off + j)
        dot += x * y; aa += x * x; bb += y * y
        j += 1
      }
      val s = dot / (math.sqrt(aa) * math.sqrt(bb))
      if (s > s1) { s2 = s1; c2 = c1; s1 = s; c1 = cids.getLong(i) }
      else if (s > s2) { s2 = s; c2 = cids.getLong(i) }
      i += 1
    }
    // "no winner yet" is a -∞ score, never a cid sign: any cid may win
    val out = if (s1 == Double.NegativeInfinity) Array.empty[Long]
      else if (s2 == Double.NegativeInfinity) Array(c1) else Array(c1, c2)
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, c) => {
      val n = ctx.freshName("n"); val dim = ctx.freshName("dim")
      val m = ctx.freshName("m")
      val s1 = ctx.freshName("s1"); val c1 = ctx.freshName("c1")
      val s2 = ctx.freshName("s2"); val c2 = ctx.freshName("c2")
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val off = ctx.freshName("off")
      val dot = ctx.freshName("dot"); val aa = ctx.freshName("aa")
      val bb = ctx.freshName("bb")
      val x = ctx.freshName("x"); val y = ctx.freshName("y")
      val s = ctx.freshName("s"); val out = ctx.freshName("out")
      s"""
         |int $n = $b.numElements();
         |int $dim = $n == 0 ? 0 : $c.numElements() / $n;
         |if ($c.numElements() != $n * $dim) {
         |  throw new IllegalArgumentException(
         |    "Top2Cells: flat centroids have " + $c.numElements() +
         |    " doubles, not divisible into " + $n + " cells");
         |}
         |int $m = java.lang.Math.min($a.numElements(), $dim);
         |double $s1 = Double.NEGATIVE_INFINITY; long $c1 = -1L;
         |double $s2 = Double.NEGATIVE_INFINITY; long $c2 = -1L;
         |for (int $i = 0; $i < $n; $i++) {
         |  int $off = $i * $dim;
         |  double $dot = 0.0; double $aa = 0.0; double $bb = 0.0;
         |  for (int $j = 0; $j < $m; $j++) {
         |    double $x = $a.getDouble($j);
         |    double $y = $c.getDouble($off + $j);
         |    $dot += $x * $y; $aa += $x * $x; $bb += $y * $y;
         |  }
         |  double $s = $dot / (java.lang.Math.sqrt($aa) * java.lang.Math.sqrt($bb));
         |  if ($s > $s1) { $s2 = $s1; $c2 = $c1; $s1 = $s; $c1 = $b.getLong($i); }
         |  else if ($s > $s2) { $s2 = $s; $c2 = $b.getLong($i); }
         |}
         |long[] $out = $s1 == Double.NEGATIVE_INFINITY ? new long[0]
         |  : ($s2 == Double.NEGATIVE_INFINITY ? new long[]{$c1}
         |    : new long[]{$c1, $c2});
         |${ev.value} = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): Top2Cells =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object VectorFunctions {
  /** `dot(a, b)` as a Column over array<double> inputs. */
  def dot(a: Column, b: Column): Column =
    ExpressionUtils.column(
      DotProduct(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** Single-pass `cosine(a, b)` as a Column. */
  def cosine(a: Column, b: Column): Column =
    ExpressionUtils.column(
      CosineSim(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** Byte-wise `hamming(a, b)` over strings as a Column. */
  def hamming(a: Column, b: Column): Column =
    ExpressionUtils.column(
      HammingDistance(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** PQ argmin `nearestCode(sv, codes, flat)` as a Column. */
  def nearestCode(sv: Column, codes: Column, flat: Column): Column =
    ExpressionUtils.column(
      NearestCode(ExpressionUtils.expression(sv),
        ExpressionUtils.expression(codes), ExpressionUtils.expression(flat)))

  /** Top-2 cells by cosine `top2Cells(v, cids, flat)` as a Column. */
  def top2Cells(v: Column, cids: Column, flat: Column): Column =
    ExpressionUtils.column(
      Top2Cells(ExpressionUtils.expression(v),
        ExpressionUtils.expression(cids), ExpressionUtils.expression(flat)))
}
