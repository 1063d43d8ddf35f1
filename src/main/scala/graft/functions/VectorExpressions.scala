package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Generator, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, StructField, StructType}

/** Codegen'd vector kernels for the similarity operators.
  *
  * The composable alternative (`aggregate(zip_with(a, b, _*_), 0.0,
  * _+_)`) evaluates interpreted lambda closures per element with boxing
  * — ~100× slower on the all-pairs queries (measured: q51 at sf0.1 took
  * 439 s interpreted). These expressions run a tight primitive loop and
  * participate in whole-stage codegen, while keeping the exact same
  * left-to-right IEEE accumulation order as both the interpreted HOF
  * chain and DuckDB's `list_reduce`, so oracle results are bit-identical
  * (SURVEY §4.3 anticipated exactly this escalation path).
  *
  * Inputs are `array<double>`; null *elements* are not expected
  * (embedding vectors are dense) and read as 0.0 via ArrayData.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

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
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Σ (a_i - b_i)² — squared L2 distance, same loop discipline. */
case class SquaredDistance(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_sqdist"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      val d = x.getDouble(i) - y.getDouble(i)
      s += d * d
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val d = ctx.freshName("d")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $d = $a.getDouble($i) - $b.getDouble($i);
         |  $s += $d * $d;
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** sqrt(Σ a_i²) — L2 norm. */
case class L2Norm(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_l2norm"

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    var s = 0.0
    var i = 0
    while (i < n) { val v = x.getDouble(i); s += v * v; i += 1 }
    math.sqrt(s)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val v = ctx.freshName("v")
      s"""
         |int $n = $a.numElements();
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $v = $a.getDouble($i);
         |  $s += $v * $v;
         |}
         |${ev.value} = java.lang.Math.sqrt($s);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Top-`probes` nearest-centroid generator: emits one `cell_id` row
  * per probe for the input vector, ranked by (round(dist², 6),
  * centroid_id) ascending — byte-identical ordering to the oracle's
  * `ROW_NUMBER() OVER (ORDER BY ROUND(d2, 6), centroid_id)` and to
  * Spark's `round` (HALF_UP decimal).
  *
  * The codebook rides IN THE EXPRESSION as plain Scala arrays, not as
  * plan literals: an inlined literal codebook blows generated-method
  * limits past ~10² cells and degrades the whole projection to
  * interpreted evaluation (measured on q69's pair stage at 10×
  * amplification, 200 cells: 53 s literal-array vs ~1 s through this
  * Generator). The SQL-facing builder accepts the codebook as a
  * FOLDABLE array-of-structs literal and evaluates it once at
  * analysis time into the arrays, so the per-row work is one tight
  * JVM loop with a bounded insertion top-k — no shuffle, no HOF
  * lambdas, no giant generated method.
  */
case class NearestCells(child: Expression, ids: IndexedSeq[Long],
                        cells: IndexedSeq[IndexedSeq[Double]], probes: Int)
    extends UnaryExpression with Generator with CodegenFallback {
  require(ids.length == cells.length && probes >= 1)

  // constructor fields are IndexedSeq (NOT Array) so case-class
  // equality is by VALUE: Array fields fall back to reference
  // equality, and two semantically identical calls would then never
  // canonicalize equal — defeating subexpression elimination (ADVICE
  // r6). The hot loop still runs over plain arrays, built once.
  private lazy val idArr: Array[Long] = ids.toArray
  private lazy val cellArr: Array[Array[Double]] = cells.map(_.toArray).toArray

  override def elementSchema: StructType =
    StructType(StructField("cell_id", LongType) :: Nil)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_nearest_cells expects array<double>, got $other")
    }

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val raw = child.eval(input)
    if (raw == null) return Nil
    val arr = raw.asInstanceOf[ArrayData]
    val dim = arr.numElements()
    val v = new Array[Double](dim)
    var i = 0
    while (i < dim) { v(i) = arr.getDouble(i); i += 1 }
    val k = math.min(probes, cellArr.length)
    val topD = Array.fill(k)(Double.PositiveInfinity)
    val topC = Array.fill(k)(Long.MaxValue)
    var c = 0
    while (c < cellArr.length) {
      val cv = cellArr(c)
      val n = math.min(dim, cv.length) // the graft_sqdist loop bound
      var s = 0.0
      var j = 0
      while (j < n) { val d = v(j) - cv(j); s += d * d; j += 1 }
      // Spark round(col, 6) semantics: HALF_UP decimal rounding
      val dr = java.math.BigDecimal.valueOf(s)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
      val cid = idArr(c)
      var pos = k
      while (pos > 0 && (dr < topD(pos - 1) ||
             (dr == topD(pos - 1) && cid < topC(pos - 1)))) pos -= 1
      if (pos < k) {
        var m = k - 1
        while (m > pos) { topD(m) = topD(m - 1); topC(m) = topC(m - 1); m -= 1 }
        topD(pos) = dr; topC(pos) = cid
      }
      c += 1
    }
    val out = new Array[InternalRow](k)
    i = 0
    while (i < k) { out(i) = InternalRow(topC(i)); i += 1 }
    out
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Element-wise mean of `array<double>` columns as a PARTIAL-AGGREGABLE
  * Catalyst aggregate: each map task folds its rows into one
  * (count, Σ per component) buffer, so the shuffle carries one buffer
  * per (group × task) — `groups × dim` longs — instead of the
  * `rows × dim` exchange a posexplode/groupBy(pos) mean pays. That is
  * the 100 TB difference between "centroids cost one pass" and
  * "centroids re-shuffle the corpus".
  *
  * Parity discipline (the [[graft.operators.VectorOps.fittedCentroids]]
  * contract, element-wise): each component is rounded to 6 dp exactly
  * as Spark's `round(col, 6)` does (`BigDecimal.valueOf` — shortest
  * decimal representation — then HALF_UP), accumulated EXACTLY as a
  * 1e6-scaled long (order-independent integer addition — the moral
  * equivalent of the oracle's `SUM(CAST(ROUND(v[i],6) AS
  * DECIMAL(18,6)))`), and divided by the row count in double space at
  * eval. The result is bit-identical to DuckDB's
  * `CAST(SUM(...) AS DOUBLE) / COUNT(*)` per position regardless of
  * row or merge order. Scaled sums overflow Long at ~9e12 unit-scale
  * rows per group — the same magnitude DECIMAL(18,6) overflows — so
  * the oracle and the aggregate degrade at the same cliff.
  *
  * All input vectors in a group must share one dimensionality (dense
  * embedding columns do); a null array contributes nothing; an empty
  * group evaluates to null.
  */
case class VectorAvg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[VectorAvg.Buf] with UnaryLike[Expression] {

  override def prettyName: String = "graft_vec_avg"
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true

  override def createAggregationBuffer(): VectorAvg.Buf =
    new VectorAvg.Buf(0L, null)

  override def update(b: VectorAvg.Buf, input: InternalRow): VectorAvg.Buf = {
    val v = child.eval(input)
    if (v != null) {
      val arr = v.asInstanceOf[ArrayData]
      val n = arr.numElements()
      if (b.sums == null) b.sums = new Array[Long](n)
      require(b.sums.length == n,
        s"graft_vec_avg: mixed dimensionality ${b.sums.length} vs $n")
      var i = 0
      while (i < n) {
        b.sums(i) += java.math.BigDecimal.valueOf(arr.getDouble(i))
          .setScale(6, java.math.RoundingMode.HALF_UP)
          .unscaledValue().longValueExact()
        i += 1
      }
      b.count += 1
    }
    b
  }

  override def merge(b: VectorAvg.Buf, o: VectorAvg.Buf): VectorAvg.Buf = {
    if (o.sums != null) {
      if (b.sums == null) b.sums = new Array[Long](o.sums.length)
      require(b.sums.length == o.sums.length,
        s"graft_vec_avg: mixed dimensionality ${b.sums.length} vs ${o.sums.length}")
      var i = 0
      while (i < b.sums.length) { b.sums(i) += o.sums(i); i += 1 }
      b.count += o.count
    }
    b
  }

  override def eval(b: VectorAvg.Buf): Any =
    if (b.sums == null) null
    else {
      val out = new Array[Double](b.sums.length)
      var i = 0
      while (i < out.length) {
        // decimal -> double, THEN double division: the oracle's
        // CAST(SUM(..) AS DOUBLE) / COUNT(*), bit for bit
        out(i) = java.math.BigDecimal.valueOf(b.sums(i), 6)
          .doubleValue() / b.count
        i += 1
      }
      new GenericArrayData(out)
    }

  override def serialize(b: VectorAvg.Buf): Array[Byte] = {
    val dim = if (b.sums == null) 0 else b.sums.length
    val buf = java.nio.ByteBuffer.allocate(12 + 8 * dim)
    buf.putLong(b.count).putInt(dim)
    var i = 0
    while (i < dim) { buf.putLong(b.sums(i)); i += 1 }
    buf.array()
  }

  override def deserialize(bytes: Array[Byte]): VectorAvg.Buf = {
    val buf = java.nio.ByteBuffer.wrap(bytes)
    val count = buf.getLong()
    val dim = buf.getInt()
    val sums = if (dim == 0) null else {
      val a = new Array[Long](dim)
      var i = 0
      while (i < dim) { a(i) = buf.getLong(); i += 1 }
      a
    }
    new VectorAvg.Buf(count, sums)
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): VectorAvg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): VectorAvg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object VectorAvg {
  /** count + 1e6-scaled exact component sums (null until a row lands). */
  final class Buf(var count: Long, var sums: Array[Long])
}

object VectorExpressions {
  /** Builders shared by per-session registration and the
    * [[graft.GraftExtensions]] injection path. */
  private def arity(name: String, n: Int)(
      build: Seq[Expression] => Expression): Seq[Expression] => Expression =
    exprs => {
      require(exprs.length == n,
        s"$name expects $n argument${if (n == 1) "" else "s"}, got ${exprs.length}")
      build(exprs)
    }

  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_dot" -> arity("graft_dot(a, b)", 2)(
      exprs => DotProduct(exprs(0), exprs(1))),
    "graft_sqdist" -> arity("graft_sqdist(a, b)", 2)(
      exprs => SquaredDistance(exprs(0), exprs(1))),
    "graft_l2norm" -> arity("graft_l2norm(a)", 1)(
      exprs => L2Norm(exprs.head)),
    "graft_vec_avg" -> arity("graft_vec_avg(v)", 1)(
      exprs => VectorAvg(exprs.head)),
    "graft_nearest_cells" ->
      arity("graft_nearest_cells(v, cells, probes)", 3) { exprs =>
        // the codebook arg must be a literal (foldable) array of
        // struct(cid: long, cv: array<double>); it is evaluated ONCE
        // here and carried in the expression as plain arrays — see
        // the NearestCells scaladoc for why plan literals don't scale
        // the Column API wraps struct fields in UnresolvedAlias, which
        // reports unresolved/non-foldable at builder time — the alias
        // names are irrelevant to the VALUE, so strip them before the
        // foldability check and the one-time eval
        val cellsE = exprs(1).transformUp {
          case ua: org.apache.spark.sql.catalyst.analysis.UnresolvedAlias =>
            ua.child
          case a: org.apache.spark.sql.catalyst.expressions.Alias => a.child
        }
        require(cellsE.foldable,
          "graft_nearest_cells: cells must be a literal array")
        val data = cellsE.eval(null).asInstanceOf[ArrayData]
        val n = data.numElements()
        val ids = new Array[Long](n)
        val cvs = new Array[Array[Double]](n)
        var i = 0
        while (i < n) {
          val row = data.getStruct(i, 2)
          ids(i) = row.getLong(0)
          val cv = row.getArray(1)
          cvs(i) = Array.tabulate(cv.numElements())(cv.getDouble)
          i += 1
        }
        val probesE = exprs(2)
        require(probesE.foldable, "graft_nearest_cells: probes must be a literal")
        val probes = probesE.eval(null) match {
          case p: Int if p >= 1 => p
          case other => throw new IllegalArgumentException(
            s"graft_nearest_cells probes must be a positive INT, got $other")
        }
        NearestCells(exprs.head, ids.toIndexedSeq,
          cvs.map(_.toIndexedSeq).toIndexedSeq, probes)
      })
}
