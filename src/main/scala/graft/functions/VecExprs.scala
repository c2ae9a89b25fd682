package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType, StructType}

/** Codegen'd dot product over two `array<double>` columns.
  *
  * The hot kernel of every vector-search operator (SURVEY.md §2.4): the HOF
  * formulation (`zip_with` + `aggregate`) is semantically identical but
  * interpreted — each row pays per-element lambda dispatch + boxing. This
  * expression participates in whole-stage codegen, turning a kNN/similarity
  * join probe into a tight primitive loop. Accumulation is sequential
  * (index 0..n-1) in double precision, so results are bit-identical to the
  * HOF version and to the DuckDB oracle's
  * `list_sum(list_transform(...))` (see VectorFns.duckDot).
  *
  * Inputs must already be `array<double>` — the `dotc` wrapper inserts the
  * cast. Returns null if either input is null; mismatched lengths dot the
  * common prefix (inputs here are fixed-dim embeddings, so this never
  * triggers).
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = left.nullable || right.nullable

  // analysis-time guard: the eval/codegen read 8-byte double slots
  // unconditionally, so an un-cast array<float> input would read garbage
  // silently (round-4 review) — reject it at analysis instead
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"DotProduct requires two array<double> inputs, got ${l.sql} and ${r.sql}")
    }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += a.getDouble(i) * b.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
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

  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotProduct =
    copy(left = l, right = r)
}

/** Codegen'd IVF centroid assignment: argmax-cosine centroid id for one row.
  *
  * `cents` is an `array<struct<cid:long, ce:array<double>, cn:double>>` —
  * the full (tiny) centroid table collapsed to ONE broadcast row — `vec` the
  * row's embedding as array<double>, `norm` its precomputed L2 norm. Returns
  * the cid with the highest cosine(vec, ce); ties break to the lowest cid.
  *
  * This makes IVF assignment a pure map-side PROJECTION: no N·C row
  * expansion, no aggregate, no shuffle, no sort (round-2 verdict #2 — the
  * max_by formulation suggested there cannot hash-aggregate either, because
  * its struct ordering key lands in the aggregation buffer and Spark's
  * HashAggregate requires fixed-width buffer fields, so it silently falls
  * back to SortAggregate; a per-row codegen'd argmax sidesteps the aggregate
  * entirely). Per-pair cosine accumulates sequentially (index 0..n-1) in
  * double precision — bit-identical to [[DotProduct]]/`sim` and therefore to
  * the DuckDB oracle's row_number-over-cosine formulation.
  *
  * Argmax under the strict total order (sim desc, cid asc) is independent of
  * the order of `cents`, so the non-deterministic ordering of `collect_list`
  * upstream cannot affect the result.
  *
  * Returns NULL when no centroid wins — an empty `cents` array, or every
  * similarity NaN (zero-norm row or centroid). The original sentinel
  * (Long.MaxValue leaking as a "cluster id") made those states silently
  * join to nothing downstream (round-4 review); a null is droppable but
  * VISIBLE, and callers can assert non-null where emptiness is a bug.
  */
case class BestCentroid(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(s: StructType, _), ArrayType(DoubleType, _), DoubleType)
          if s.fields.length == 3 && s.fields(0).dataType == LongType &&
            (s.fields(1).dataType match {
              case ArrayType(DoubleType, _) => true; case _ => false
            }) && s.fields(2).dataType == DoubleType =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b, c) => TypeCheckResult.TypeCheckFailure(
        "BestCentroid requires (array<struct<long, array<double>, double>>, " +
          s"array<double>, double), got ${a.sql}, ${b.sql}, ${c.sql}")
    }

  override protected def nullSafeEval(centsAny: Any, vecAny: Any, normAny: Any): Any = {
    val cents = centsAny.asInstanceOf[ArrayData]
    val vec = vecAny.asInstanceOf[ArrayData]
    val norm = normAny.asInstanceOf[Double]
    val d = vec.numElements()
    var best = Long.MaxValue
    var bestSim = Double.NegativeInfinity
    var found = false
    var i = 0
    while (i < cents.numElements()) {
      val c = cents.getStruct(i, 3)
      val cid = c.getLong(0)
      val ce = c.getArray(1)
      val cn = c.getDouble(2)
      val m = math.min(d, ce.numElements())
      var s = 0.0
      var j = 0
      while (j < m) { s += vec.getDouble(j) * ce.getDouble(j); j += 1 }
      val sim = s / (norm * cn)
      if (sim > bestSim || (sim == bestSim && cid < best)) {
        best = cid; bestSim = sim; found = true
      }
      i += 1
    }
    if (found) best else null
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (cents, vec, norm) => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val n = ctx.freshName("n")
      val d = ctx.freshName("d")
      val m = ctx.freshName("m")
      val c = ctx.freshName("c")
      val ce = ctx.freshName("ce")
      val cn = ctx.freshName("cn")
      val cid = ctx.freshName("cid")
      val s = ctx.freshName("s")
      val simV = ctx.freshName("sim")
      val best = ctx.freshName("best")
      val bestSim = ctx.freshName("bestSim")
      val found = ctx.freshName("found")
      s"""
         |long $best = Long.MAX_VALUE;
         |double $bestSim = Double.NEGATIVE_INFINITY;
         |boolean $found = false;
         |int $n = $cents.numElements();
         |int $d = $vec.numElements();
         |for (int $i = 0; $i < $n; $i++) {
         |  org.apache.spark.sql.catalyst.InternalRow $c = $cents.getStruct($i, 3);
         |  long $cid = $c.getLong(0);
         |  org.apache.spark.sql.catalyst.util.ArrayData $ce = $c.getArray(1);
         |  double $cn = $c.getDouble(2);
         |  int $m = java.lang.Math.min($d, $ce.numElements());
         |  double $s = 0.0;
         |  for (int $j = 0; $j < $m; $j++) {
         |    $s += $vec.getDouble($j) * $ce.getDouble($j);
         |  }
         |  double $simV = $s / ($norm * $cn);
         |  if ($simV > $bestSim || ($simV == $bestSim && $cid < $best)) {
         |    $best = $cid; $bestSim = $simV; $found = true;
         |  }
         |}
         |if ($found) { ${ev.value} = $best; } else { ${ev.isNull} = true; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): BestCentroid =
    copy(first = f, second = s, third = t)
}

/** Codegen'd sparse→dense embedding materialization:
  * `array<struct<bucket:int, cnt:long>>` → `array<double>` of length `dim`
  * with `out(bucket) = cnt` and zeros elsewhere.
  *
  * The HOF formulation (`transform(sequence(0, dim-1), b =>
  * element_at(map, b))`) evaluates `dim` interpreted lambda calls + map
  * probes per row — at dim=384 that dominated every embedder query
  * (the CLAUDE.md HOF rule). Here it is one primitive-array allocation and
  * one write per NONZERO bucket, inside whole-stage codegen. Duplicate
  * buckets cannot occur (entries come from a groupBy(bucket) aggregate);
  * out-of-range buckets are ignored defensively. */
case class SparseToDense(child: Expression, dim: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(s: StructType, _)
        if s.fields.length == 2 && s.fields(0).dataType == IntegerType &&
          s.fields(1).dataType == LongType =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"SparseToDense requires array<struct<int, long>>, got ${other.sql}")
  }

  override protected def nullSafeEval(entriesAny: Any): Any = {
    val entries = entriesAny.asInstanceOf[ArrayData]
    val out = new Array[Double](dim)
    var i = 0
    while (i < entries.numElements()) {
      val r = entries.getStruct(i, 2)
      val b = r.getInt(0)
      if (b >= 0 && b < dim) out(b) = r.getLong(1).toDouble
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, entries => {
      val i = ctx.freshName("i")
      val r = ctx.freshName("r")
      val b = ctx.freshName("b")
      val tmp = ctx.freshName("tmp")
      s"""
         |double[] $tmp = new double[$dim];
         |for (int $i = 0; $i < $entries.numElements(); $i++) {
         |  org.apache.spark.sql.catalyst.InternalRow $r = $entries.getStruct($i, 2);
         |  int $b = $r.getInt(0);
         |  if ($b >= 0 && $b < $dim) $tmp[$b] = (double) $r.getLong(1);
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($tmp);
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): SparseToDense =
    copy(child = c)
}

/** Codegen'd per-dimension scalar quantization: `floor(vec(i) * scales(i))`
  * over two `array<double>` columns, returning `array<double>` of integral
  * values (range [-128, 127] when scales = 127/max|v| per dim — the SQ8
  * code book).
  *
  * The FAISS-style SQ8 path stores these codes instead of float32 vectors
  * (4× less scan bandwidth at 100 TB; here they stay `array<double>` so the
  * approximate distance is the SAME codegen'd [[DotProduct]] kernel and its
  * sums are exact integers — bit-identical in Spark and DuckDB regardless
  * of accumulation order, which is what makes the SQ8 queries oracle-
  * gateable at all). The HOF formulation (`zip_with(v, s, floor(_*_))`)
  * is interpreted per element (CLAUDE.md HOF rule); this is one primitive
  * loop inside whole-stage codegen. Mismatched lengths quantize the common
  * prefix (inputs are fixed-dim embeddings + a per-dim scale row). */
case class Quantize(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = left.nullable || right.nullable

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"Quantize requires two array<double> inputs, got ${l.sql} and ${r.sql}")
    }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val v = l.asInstanceOf[ArrayData]
    val s = r.asInstanceOf[ArrayData]
    val n = math.min(v.numElements(), s.numElements())
    val out = new Array[Double](n)
    var i = 0
    while (i < n) { out(i) = math.floor(v.getDouble(i) * s.getDouble(i)); i += 1 }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, s) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val tmp = ctx.freshName("tmp")
      s"""
         |int $n = java.lang.Math.min($v.numElements(), $s.numElements());
         |double[] $tmp = new double[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  $tmp[$i] = java.lang.Math.floor($v.getDouble($i) * $s.getDouble($i));
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($tmp);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Quantize =
    copy(left = l, right = r)
}

/** Codegen'd random-projection: `array<double>` (dim) → `array<double>`
  * (rdim) against a ±1 sign matrix baked into the expression at plan time.
  *
  * The literal-tree formulation (rdim × dim `element_at * lit` terms —
  * ~4,000 expression nodes with the mirrored query side) cost ~8.7 s of
  * plan/codegen time on FIRST execution and ~1.7 s warm at sf0.1 (round-6
  * verdict #1; TimeQ, quiet host) — the codegen-budget variant of the
  * HOF-lambda trap. Here the projection is two primitive loops inside
  * whole-stage codegen and the plan carries ONE node; the sign matrix
  * travels as a codegen reference object, not as literals.
  *
  * Arithmetic contract (oracle parity): entry j accumulates
  * Σ_d v(d)·s(j,d) SEQUENTIALLY over d = 0..dim-1 in double precision —
  * the same left-associated sum as the literal tree and as DuckDB's
  * `list_sum(list_transform(...))` mirror (Knn.duckTopKRp), and ±1.0
  * multiplication is exact negation — so projected coordinates are
  * bit-identical cross-engine. Rows shorter than `dim` project their
  * prefix (inputs are fixed-dim embeddings; this never triggers). */
case class RpProject(child: Expression, signs: Array[Array[Double]])
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"RpProject requires array<double>, got ${other.sql}")
  }

  override protected def nullSafeEval(vecAny: Any): Any = {
    val v = vecAny.asInstanceOf[ArrayData]
    val out = new Array[Double](signs.length)
    var j = 0
    while (j < signs.length) {
      val row = signs(j)
      val m = math.min(row.length, v.numElements())
      var s = 0.0
      var d = 0
      while (d < m) { s += v.getDouble(d) * row(d); d += 1 }
      out(j) = s
      j += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mat = ctx.addReferenceObj("rpSigns", signs, "double[][]")
    nullSafeCodeGen(ctx, ev, v => {
      val j = ctx.freshName("j")
      val d = ctx.freshName("d")
      val m = ctx.freshName("m")
      val row = ctx.freshName("row")
      val s = ctx.freshName("s")
      val tmp = ctx.freshName("tmp")
      s"""
         |double[] $tmp = new double[${signs.length}];
         |for (int $j = 0; $j < ${signs.length}; $j++) {
         |  double[] $row = $mat[$j];
         |  int $m = java.lang.Math.min($row.length, $v.numElements());
         |  double $s = 0.0;
         |  for (int $d = 0; $d < $m; $d++) {
         |    $s += $v.getDouble($d) * $row[$d];
         |  }
         |  $tmp[$j] = $s;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($tmp);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(c: Expression): RpProject =
    copy(child = c)
}

object VecExprs {
  /** Column wrapper for [[DotProduct]]; casts both sides to array<double>
    * (the expression reads doubles unconditionally). */
  def dotc(a: Column, b: Column): Column =
    Bridge.column(DotProduct(
      Bridge.expression(a.cast("array<double>")),
      Bridge.expression(b.cast("array<double>"))))

  /** Cosine of `vec` (L2 norm `norm`) against a driver-side query vector
    * carried as a literal ([[Embedder.queryVector]]): the query norm
    * constant-folds at optimization, so no query-side subplan exists. */
  def cosineTo(query: Array[Double], vec: Column, norm: Column): Column = {
    val q = org.apache.spark.sql.functions.typedLit(query)
    dotc(vec, q) / (norm * org.apache.spark.sql.functions.sqrt(dotc(q, q)))
  }

  /** Column wrapper for [[BestCentroid]]. `cents` must be
    * array<struct<cid:long, ce:array<double>, cn:double>> (positional). */
  def bestCentroid(cents: Column, vec: Column, norm: Column): Column =
    Bridge.column(BestCentroid(
      Bridge.expression(cents),
      Bridge.expression(vec.cast("array<double>")),
      Bridge.expression(norm.cast("double"))))

  /** Column wrapper for [[SparseToDense]]. `entries` must be
    * array<struct<bucket:int, cnt:long>> (positional). */
  def sparseToDense(entries: Column, dim: Int): Column =
    Bridge.column(SparseToDense(Bridge.expression(entries), dim))

  /** Column wrapper for [[Quantize]]; casts both sides to array<double>. */
  def quantize(vec: Column, scales: Column): Column =
    Bridge.column(Quantize(
      Bridge.expression(vec.cast("array<double>")),
      Bridge.expression(scales.cast("array<double>"))))

  /** Column wrapper for [[RpProject]]; casts the input to array<double>. */
  def rpProject(vec: Column, signs: Array[Array[Double]]): Column =
    Bridge.column(RpProject(Bridge.expression(vec.cast("array<double>")), signs))
}
