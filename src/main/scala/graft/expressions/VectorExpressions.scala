package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expressions for the vector hot path (SURVEY.md §7.3
  * escalation ladder: built-ins → custom `Expression` with `doGenCode`).
  *
  * The composable forms (`zip_with` + `aggregate`) are higher-order
  * functions: their lambdas are interpreted per element and break
  * whole-stage codegen — fine at bench scale, the bottleneck at 100 TB
  * (billions of 64-float rows ⇒ the dot product IS the query). These
  * expressions generate a tight primitive loop inside the codegen'd stage.
  *
  * Semantics match the HOF forms bit-for-bit: sequential left-to-right
  * accumulation (same double rounding), NULL if either side is NULL, if
  * the lengths differ, or if any element is NULL (zip_with pads/propagates
  * the same way).
  */
abstract class VectorBinaryExpression extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires two array<float> inputs, got $l and $r")
    }

  protected def elemAt(a: ArrayData, i: Int): Double = a.getFloat(i).toDouble
}

/** Σ aᵢ·bᵢ over two float vectors. */
case class VectorDot(left: Expression, right: Expression) extends VectorBinaryExpression {

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += elemAt(a, i) * elemAt(b, i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): VectorDot =
    copy(left = newLeft, right = newRight)
}

/** Cosine similarity in ONE array traversal (dot, ‖a‖², ‖b‖² together);
  * NULL on zero norms — the degenerate-vector guard both engines agree on. */
case class CosineSim(left: Expression, right: Expression) extends VectorBinaryExpression {

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements()) return null
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = elemAt(a, i)
      val y = elemAt(b, i)
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    val d = na * nb
    if (d <= 0) null else dot / math.sqrt(d)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      val d = ctx.freshName("d")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    double $x = (double) $a.getFloat($i);
         |    double $y = (double) $b.getFloat($i);
         |    $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |  }
         |  if (!${ev.isNull}) {
         |    double $d = $na * $nb;
         |    if ($d <= 0.0) { ${ev.isNull} = true; }
         |    else { ${ev.value} = $dot / java.lang.Math.sqrt($d); }
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}

/** Top-`n` nearest centroids of a vector, as one per-row expression: the
  * IVF assignment argmax. The centroid matrix rides into the plan as a
  * driver-side literal (k × dims floats — tiny; the plan itself broadcasts
  * it), so cluster assignment is a pure projection: no crossJoin, no
  * row_number window, no Exchange of the corpus. Returns the centroid ids
  * ordered by (similarity desc, id asc); ids must be passed sorted
  * ascending so ties resolve to the smallest id, matching the relational
  * `row_number() OVER (ORDER BY sim DESC, cid)` form the oracle uses.
  *
  * `round4` reproduces Spark's `round(_, 4)` (BigDecimal HALF_UP) before
  * comparing, because the oracle ranks on the rounded similarity (both
  * engines agree at 4 decimals; raw doubles can differ in the last ulp
  * and flip a tie). NULL/length-mismatched/zero-norm vectors score -2.0
  * (below any cosine) for every centroid, so a degenerate row is still
  * assigned — to the smallest id — instead of vanishing, same as the
  * nulls-last window ordering it replaces.
  */
case class NearestCentroids(
    child: Expression,
    ids: Seq[Long],
    centroids: Seq[Seq[Float]],
    n: Int,
    round4: Boolean)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  require(ids.nonEmpty && ids.length == centroids.length, "ids/centroids mismatch")
  require(ids.sliding(2).forall(p => p.length < 2 || p(0) < p(1)),
    "centroid ids must be strictly ascending")

  override def dataType: DataType = ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array<float> input, got $other")
  }

  @transient private lazy val idArr: Array[Long] = ids.toArray
  @transient private lazy val centArr: Array[Array[Float]] = centroids.map(_.toArray).toArray

  /** Called from both interpreted eval and the generated code (via a
    * reference object): k cosines + an O(k·n) selection, all row-local. */
  def pick(a: ArrayData): ArrayData = {
    val k = idArr.length
    val sims = new Array[Double](k)
    var c = 0
    while (c < k) { sims(c) = CentroidMath.sim(a, centArr(c), round4); c += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      CentroidMath.topIds(sims, idArr, n))
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    pick(child.eval(input).asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val childGen = child.genCode(ctx)
    val ref = ctx.addReferenceObj("nearestCentroids", this, classOf[NearestCentroids].getName)
    ev.copy(
      code = code"""
        |${childGen.code}
        |org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
        |  $ref.pick(${childGen.isNull} ? null :
        |    (org.apache.spark.sql.catalyst.util.ArrayData) ${childGen.value});
      """.stripMargin,
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCentroids =
    copy(child = newChild)
}

/** Row-local centroid math shared by the flat and two-level assignment
  * expressions — ONE definition of the cosine (with the oracle's round4
  * lattice) and of the (sim desc, id asc) selection, so the two paths
  * can never drift in tie or degenerate-row semantics. */
private[expressions] object CentroidMath {
  /** Cosine, or -2.0 for null/length-mismatched/zero-norm rows (below any
    * real cosine, so degenerate rows still assign — to the smallest id). */
  def sim(a: ArrayData, cent: Array[Float], round4: Boolean): Double = {
    if (a == null || a.numElements() != cent.length) return -2.0
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < cent.length) {
      if (a.isNullAt(i)) return -2.0
      val x = a.getFloat(i).toDouble
      val y = cent(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    val d = na * nb
    if (d <= 0) -2.0
    else {
      val c = dot / math.sqrt(d)
      if (round4)
        java.math.BigDecimal.valueOf(c).setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
      else c
    }
  }

  /** Top-`n` ids by (sim desc, id asc) — explicit id tie-break, so the
    * input need not be id-sorted (the two-level gather is not). */
  def topIds(sims: Array[Double], ids: Array[Long], n: Int): Array[Long] = {
    val k = ids.length
    val out = new Array[Long](math.min(n, k))
    val used = new Array[Boolean](k)
    var o = 0
    while (o < out.length) {
      var best = -1
      var i = 0
      while (i < k) {
        if (!used(i) && (best < 0 || sims(i) > sims(best) ||
          (sims(i) == sims(best) && ids(i) < ids(best)))) best = i
        i += 1
      }
      used(best) = true
      out(o) = ids(best)
      o += 1
    }
    out
  }

  /** Top-`n` INDEXES by (sim desc, index asc). */
  def topIdx(sims: Array[Double], n: Int): Array[Int] = {
    val k = sims.length
    val out = new Array[Int](math.min(n, k))
    val used = new Array[Boolean](k)
    var o = 0
    while (o < out.length) {
      var best = -1
      var i = 0
      while (i < k) {
        if (!used(i) && (best < 0 || sims(i) > sims(best))) best = i
        i += 1
      }
      used(best) = true
      out(o) = best
      o += 1
    }
    out
  }
}

/** Two-level IVF assignment: coarse-quantize first (C ≈ √nlist coarse
  * centroids), then argmax only over the fine centroids of the
  * `branches` nearest coarse cells — O((C + branches·nlist/C)·dims) per
  * row instead of the flat argmax's O(nlist·dims), the difference
  * between 900 and tens of thousands of rows/s/core at nlist=16384
  * (PLANS.md, "Two-level IVF assignment").
  *
  * The trade is the standard coarse-quantizer approximation (IMI /
  * IVF-ADC family): a vector near a coarse-cell boundary may assign to a
  * slightly different fine centroid than the flat argmax. Used with the
  * SAME instance on the corpus side (assignment) and the query side
  * (probe list), the IVF search stays internally consistent — both sides
  * commit to the same partition of the space, so the approximation
  * perturbs cell shapes, not the probe semantics. `branches = C` searches
  * every branch and equals the flat argmax bit-for-bit (pinned by spec).
  */
case class TwoLevelNearestCentroids(
    child: Expression,
    coarse: Seq[Seq[Float]],
    fineIds: Seq[Seq[Long]],
    fineVecs: Seq[Seq[Seq[Float]]],
    n: Int,
    branches: Int,
    round4: Boolean)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  require(coarse.nonEmpty && coarse.length == fineIds.length &&
    coarse.length == fineVecs.length, "coarse/fine shape mismatch")
  require(fineIds.zip(fineVecs).forall(p => p._1.length == p._2.length),
    "fine ids/vecs mismatch")
  require(branches >= 1, "must search at least one branch")

  override def dataType: DataType = ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array<float> input, got $other")
  }

  @transient private lazy val coarseArr: Array[Array[Float]] = coarse.map(_.toArray).toArray
  @transient private lazy val fineIdArr: Array[Array[Long]] = fineIds.map(_.toArray).toArray
  @transient private lazy val fineVecArr: Array[Array[Array[Float]]] =
    fineVecs.map(_.map(_.toArray).toArray).toArray

  def pick(a: ArrayData): ArrayData = {
    val cN = coarseArr.length
    val coarseSims = new Array[Double](cN)
    var c = 0
    while (c < cN) { coarseSims(c) = CentroidMath.sim(a, coarseArr(c), round4); c += 1 }
    val picked = CentroidMath.topIdx(coarseSims, math.min(branches, cN))
    var total = 0
    picked.foreach(b => total += fineIdArr(b).length)
    val ids = new Array[Long](total)
    val sims = new Array[Double](total)
    var o = 0
    picked.foreach { b =>
      val bi = fineIdArr(b); val bv = fineVecArr(b)
      var i = 0
      while (i < bi.length) {
        ids(o) = bi(i)
        sims(o) = CentroidMath.sim(a, bv(i), round4)
        o += 1; i += 1
      }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      CentroidMath.topIds(sims, ids, n))
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    pick(child.eval(input).asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val childGen = child.genCode(ctx)
    val ref = ctx.addReferenceObj("twoLevelNearest", this, classOf[TwoLevelNearestCentroids].getName)
    ev.copy(
      code = code"""
        |${childGen.code}
        |org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
        |  $ref.pick(${childGen.isNull} ? null :
        |    (org.apache.spark.sql.catalyst.util.ArrayData) ${childGen.value});
      """.stripMargin,
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): TwoLevelNearestCentroids =
    copy(child = newChild)
}

/** Symmetric per-vector int8 quantization: qᵢ = round(127·xᵢ/max|x|),
  * clamped to [-127,127] — the SQ8 storage/scan format for
  * billion-vector similarity (4× less IO and cache than float32; the
  * scale factor cancels inside cosine, so quantized cosine needs no
  * side-car scale column). A zero/degenerate vector quantizes to all
  * zeros, which the downstream cosine maps to NULL — same degenerate
  * guard as the float path. `round(x)` is floor(x+0.5) (Java Math.round)
  * so an SQL oracle can reproduce the lattice bit-for-bit. */
case class Int8Quantize(child: Expression)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.ByteType, containsNull = false)

  // Always nullable: quantize() maps an array CONTAINING a null element to
  // null even when the child column itself is non-nullable. This also
  // keeps nullSafeCodeGen emitting the isNull local the generated body
  // assigns — with nullable=false it would not be declared and the whole
  // stage would fail Janino compilation and silently fall back to
  // interpreted execution.
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array<float> input, got $other")
  }

  /** Row-local; called from interpreted eval and generated code alike. */
  def quantize(a: ArrayData): ArrayData = {
    if (a == null) return null
    val n = a.numElements()
    val out = new Array[Byte](n)
    var maxAbs = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return null
      val v = math.abs(a.getFloat(i).toDouble)
      if (v > maxAbs) maxAbs = v
      i += 1
    }
    if (maxAbs > 0) {
      i = 0
      while (i < n) {
        val q = Math.round(127.0 * a.getFloat(i).toDouble / maxAbs)
        out(i) = math.max(-127L, math.min(127L, q)).toByte
        i += 1
      }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override def nullSafeEval(input: Any): Any =
    quantize(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("int8Quantize", this, classOf[Int8Quantize].getName)
    nullSafeCodeGen(ctx, ev, a => s"""
       |${ev.value} = $ref.quantize((org.apache.spark.sql.catalyst.util.ArrayData) $a);
       |${ev.isNull} = ${ev.value} == null;
     """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): Int8Quantize =
    copy(child = newChild)
}

/** Cosine over two int8-quantized vectors in one traversal — all sums are
  * exact (|q| ≤ 127, so dims ≤ ~10⁶ stays inside double's integer range),
  * making the result bit-reproducible by any engine that agrees on the
  * quantized lattice. NULL on zero norms, like [[CosineSim]]. */
case class Int8CosineSim(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(org.apache.spark.sql.types.ByteType, _),
            ArrayType(org.apache.spark.sql.types.ByteType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two array<tinyint> inputs, got $l and $r")
    }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements()) return null
    var dot = 0L; var na = 0L; var nb = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = a.getByte(i).toLong
      val y = b.getByte(i).toLong
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0L || nb == 0L) null
    else dot.toDouble / math.sqrt(na.toDouble * nb.toDouble)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $dot = 0L; long $na = 0L; long $nb = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    long $x = (long) $a.getByte($i);
         |    long $y = (long) $b.getByte($i);
         |    $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |  }
         |  if (!${ev.isNull}) {
         |    if ($na == 0L || $nb == 0L) { ${ev.isNull} = true; }
         |    else { ${ev.value} = (double) $dot / java.lang.Math.sqrt((double) $na * (double) $nb); }
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Int8CosineSim =
    copy(left = newLeft, right = newRight)
}

object VectorExpressions {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.graftbridge.Bridge

  /** Column-facing constructors (no SQL registration needed — the
    * expression rides inside the Column). */
  def vectorDot(a: Column, b: Column): Column =
    Bridge.column(VectorDot(Bridge.expression(a), Bridge.expression(b)))

  def cosineSim(a: Column, b: Column): Column =
    Bridge.column(CosineSim(Bridge.expression(a), Bridge.expression(b)))

  def int8Quantize(a: Column): Column =
    Bridge.column(Int8Quantize(Bridge.expression(a)))

  def int8CosineSim(a: Column, b: Column): Column =
    Bridge.column(Int8CosineSim(Bridge.expression(a), Bridge.expression(b)))

  /** Ids of the top-`n` centroids nearest to `vec` (sim desc, id asc).
    * `ids` must be sorted ascending; see [[NearestCentroids]]. */
  def nearestCentroids(vec: Column, ids: Seq[Long], centroids: Seq[Seq[Float]],
                       n: Int, round4: Boolean): Column =
    Bridge.column(NearestCentroids(Bridge.expression(vec), ids, centroids, n, round4))

  /** Two-level (coarse → fine) variant for large nlist; see
    * [[TwoLevelNearestCentroids]]. */
  def twoLevelNearestCentroids(vec: Column, coarse: Seq[Seq[Float]],
      fineIds: Seq[Seq[Long]], fineVecs: Seq[Seq[Seq[Float]]],
      n: Int, branches: Int, round4: Boolean): Column =
    Bridge.column(TwoLevelNearestCentroids(
      Bridge.expression(vec), coarse, fineIds, fineVecs, n, branches, round4))

  /** Product-quantization code bytes; see [[PQEncode]]. */
  def pqEncode(vec: Column, codebooks: Seq[Seq[Seq[Float]]], round4: Boolean): Column =
    Bridge.column(PQEncode(Bridge.expression(vec), codebooks, round4))

  /** ADC score (sum of LUT terms) over PQ codes; see [[PQADCScore]]. */
  def pqAdcScore(codes: Column, lut: Seq[Seq[Double]]): Column =
    Bridge.column(PQADCScore(Bridge.expression(codes), lut))

  /** A query vector's ADC lookup table as data; see [[PQAdcLut]]. */
  def pqAdcLut(qvec: Column, codebooks: Seq[Seq[Seq[Float]]], round4: Boolean): Column =
    Bridge.column(PQAdcLut(Bridge.expression(qvec), codebooks, round4))

  /** ADC score with the LUT as a column; see [[PQADCScoreDyn]]. */
  def pqAdcScoreDyn(codes: Column, lut: Column): Column =
    Bridge.column(PQADCScoreDyn(Bridge.expression(codes), Bridge.expression(lut)))

  /** SQL names (`graft_vector_dot`, `graft_cosine_sim`) for spark.sql use. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
    val registry = spark.sessionState.functionRegistry
    registry.registerFunction(
      FunctionIdentifier("graft_vector_dot"),
      new ExpressionInfo(classOf[VectorDot].getName, "graft_vector_dot"),
      (exprs: Seq[Expression]) => VectorDot(exprs(0), exprs(1)))
    registry.registerFunction(
      FunctionIdentifier("graft_cosine_sim"),
      new ExpressionInfo(classOf[CosineSim].getName, "graft_cosine_sim"),
      (exprs: Seq[Expression]) => CosineSim(exprs(0), exprs(1)))
    registry.registerFunction(
      FunctionIdentifier("graft_int8_quantize"),
      new ExpressionInfo(classOf[Int8Quantize].getName, "graft_int8_quantize"),
      (exprs: Seq[Expression]) => Int8Quantize(exprs(0)))
    registry.registerFunction(
      FunctionIdentifier("graft_int8_cosine_sim"),
      new ExpressionInfo(classOf[Int8CosineSim].getName, "graft_int8_cosine_sim"),
      (exprs: Seq[Expression]) => Int8CosineSim(exprs(0), exprs(1)))
    // Fingerprint family (SQL: tokens array in, signature out). Literal
    // int args are required for the MinHash/winnow shape parameters.
    def intArg(e: Expression): Int =
      e.eval(null) match {
        case i: Int => i
        case l: Long => l.toInt
        case other => throw new IllegalArgumentException(s"literal int expected, got $other")
      }
    registry.registerFunction(
      FunctionIdentifier("graft_minhash_sig"),
      new ExpressionInfo(classOf[MinHashSig].getName, "graft_minhash_sig"),
      (exprs: Seq[Expression]) => MinHashSig(exprs(0), intArg(exprs(1)), intArg(exprs(2))))
    registry.registerFunction(
      FunctionIdentifier("graft_simhash16"),
      new ExpressionInfo(classOf[SimHash16].getName, "graft_simhash16"),
      (exprs: Seq[Expression]) => SimHash16(exprs(0)))
    registry.registerFunction(
      FunctionIdentifier("graft_winnow_fingerprint"),
      new ExpressionInfo(classOf[WinnowFingerprint].getName, "graft_winnow_fingerprint"),
      (exprs: Seq[Expression]) => WinnowFingerprint(exprs(0), intArg(exprs(1)), intArg(exprs(2))))
  }
}
