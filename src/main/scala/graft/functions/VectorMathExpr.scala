package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native vector kernels for the pairwise hot path (ANN scoring, embedding
  * near-dup verify). The Column formulation
  * `aggregate(zip_with(a,b,_*_), 0.0, _+_)` allocates a zipped intermediate
  * array and interprets the lambda per element — fine for per-ROW stats, but
  * the ANN/near-dup operators evaluate cosine per candidate PAIR, where the
  * interpreted HOF pipeline dominates the query (same pathology as the
  * MinHash kernel, [[MinHashSig]]).
  *
  * Arithmetic matches the HOF/DuckDB formulation bit-for-bit: every element
  * cast to double, strict left-to-right accumulation, so swapping kernels
  * never changes a rounded gate output.
  */
abstract class PairwiseVectorExpr extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(FloatType | DoubleType, _), ArrayType(FloatType | DoubleType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"expects (array<float|double>, array<float|double>), got (${l.simpleString}, ${r.simpleString})")
  }
  override def dataType: DataType = DoubleType

  @transient protected lazy val leftIsFloat = left.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  @transient protected lazy val rightIsFloat = right.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
}

/** `cosine(a, b)` = dot(a,b) / (||a||·||b||) in one pass over the two arrays.
  * Null out (like Spark's `Divide`) when either norm is zero; null when the
  * arrays differ in length or contain a null element (what the `zip_with`
  * formulation yields in those cases).
  */
case class CosineSim(left: Expression, right: Expression) extends PairwiseVectorExpr {

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorMath.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      leftIsFloat, rightIsFloat)

  // result can be null even for non-null inputs (zero norm / length mismatch)
  override def nullable: Boolean = true

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val resultTerm = ctx.freshName("cosResult")
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      Double $resultTerm = graft.functions.VectorMath.cosine($a, $b, $leftIsFloat, $rightIsFloat);
      if ($resultTerm == null) { ${ev.isNull} = true; } else { ${ev.value} = $resultTerm.doubleValue(); }
    """)
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSim =
    copy(left = l, right = r)
}

/** Per-row Σx² — the norm accumulator of [[CosineSim]] hoisted out of the
  * pair loop: same element casts (float → double), same strict
  * left-to-right accumulation, null on a null element, 0.0 on an empty
  * array. A pair kernel that receives both rows' precomputed Σx²
  * ([[CosineSimNormed]]) does ONE array pass per pair instead of three —
  * the quadratic tiers evaluate cosine per candidate PAIR, so the two
  * norm passes dominate once the dot is all that's left.
  */
case class NormSq(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"expects array<float|double>, got ${t.simpleString}")
  }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  @transient private lazy val isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def nullSafeEval(a: Any): Any =
    VectorMath.normSq(a.asInstanceOf[ArrayData], isFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val resultTerm = ctx.freshName("normSqResult")
    nullSafeCodeGen(ctx, ev, a => s"""
      Double $resultTerm = graft.functions.VectorMath.normSq($a, $isFloat);
      if ($resultTerm == null) { ${ev.isNull} = true; } else { ${ev.value} = $resultTerm.doubleValue(); }
    """)
  }

  override protected def withNewChildInternal(newChild: Expression): NormSq =
    copy(child = newChild)
}

/** `cosine(a, b)` given both rows' precomputed Σx² ([[NormSq]]) — dot-only
  * pair pass, then `dot / (sqrt(naSq)·sqrt(nbSq))`: the identical
  * expression tree [[CosineSim]] evaluates (its interleaved loop keeps
  * separate accumulators, so hoisting the norm sums preserves every IEEE
  * operation and its order — bit-identical results, pinned in
  * SqlFunctionsSpec). Null conventions match too, PROVIDED naSq/nbSq are
  * [[NormSq]] of exactly the paired arrays: a null element nulls the
  * row's NormSq (→ null result, as CosineSim nulls the pair), a length
  * mismatch nulls here, and a zero denom nulls like Spark's Divide.
  */
case class CosineSimNormed(first: Expression, second: Expression,
                           third: Expression, fourth: Expression)
    extends org.apache.spark.sql.catalyst.expressions.QuaternaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType, fourth.dataType) match {
      case (ArrayType(FloatType | DoubleType, _), ArrayType(FloatType | DoubleType, _),
            DoubleType, DoubleType) => TypeCheckResult.TypeCheckSuccess
      case (a, b, na, nb) => TypeCheckResult.TypeCheckFailure(
        s"expects (array<float|double>, array<float|double>, double, double), " +
          s"got (${a.simpleString}, ${b.simpleString}, ${na.simpleString}, ${nb.simpleString})")
    }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  @transient private lazy val aIsFloat = first.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  @transient private lazy val bIsFloat = second.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def nullSafeEval(a: Any, b: Any, na: Any, nb: Any): Any =
    VectorMath.cosineNormed(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      aIsFloat, bIsFloat, na.asInstanceOf[Double], nb.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val resultTerm = ctx.freshName("cosNormedResult")
    nullSafeCodeGen(ctx, ev, (a, b, na, nb) => s"""
      Double $resultTerm = graft.functions.VectorMath.cosineNormed($a, $b, $aIsFloat, $bIsFloat, $na, $nb);
      if ($resultTerm == null) { ${ev.isNull} = true; } else { ${ev.value} = $resultTerm.doubleValue(); }
    """)
  }

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression, q: Expression): CosineSimNormed =
    copy(first = f, second = s, third = t, fourth = q)
}

/** `dotInt8(a, b)` — exact integer dot product of two int8 code arrays
  * (`array<int>`, values in [-127, 127] from
  * [[graft.functions.VectorOps.quantizeInt8]]). The HOF formulation
  * `aggregate(zip_with(a,b,(x,y)=>(x*y).cast("long")), 0L, _+_)`
  * allocates a zipped array and interprets two lambdas per element PER
  * CANDIDATE PAIR — at an 800M-pair query batch the interpreter, not the
  * arithmetic, was the int8 path's cost (measured: the int8 batch wall
  * EXCEEDED float's 1M-index wall despite 4× less data). Arithmetic is
  * bit-identical to the HOF form: int multiply (cannot overflow at
  * ±127²), long accumulation in index order; null on length mismatch or
  * a null element — so the exact-integer DuckDB replays are unaffected.
  */
case class DotProductInt8(left: Expression, right: Expression) extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(org.apache.spark.sql.types.IntegerType, _),
          ArrayType(org.apache.spark.sql.types.IntegerType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"expects (array<int>, array<int>), got (${l.simpleString}, ${r.simpleString})")
  }
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorMath.dotInt8(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  // Inline primitive loop — the boxed-kernel form (`Long r = dotInt8(a,b)`)
  // allocated one java.lang.Long per evaluation, i.e. per candidate PAIR on
  // the ANN hot path (~800M pairs per 100k×1M query batch), undercutting
  // the kernel's no-interpreter purpose (ADVICE r14). Same null contract:
  // null on length mismatch or any null element; the common non-null path
  // computes a primitive long with zero allocation. The interpreted
  // nullSafeEval keeps the boxed kernel so both paths share one convention.
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val n = ctx.freshName("dotI8N")
    val i = ctx.freshName("dotI8I")
    val acc = ctx.freshName("dotI8Acc")
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      final int $n = $a.numElements();
      if ($b.numElements() != $n) {
        ${ev.isNull} = true;
      } else {
        long $acc = 0L;
        int $i = 0;
        while ($i < $n) {
          if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
          $acc += (long) ($a.getInt($i) * $b.getInt($i));
          $i++;
        }
        ${ev.value} = $acc;
      }
    """)
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotProductInt8 =
    copy(left = l, right = r)
}

/** `normalizeVector(a)` — `a / ||a||` as `array<double>`, one codegen'd
  * pass. The Column formulation (`SqlFunctionsSpec.normalizedHof`, kept
  * in the tests as the reference form) is
  * `when(l2 === 0, null).otherwise(transform(cast, _ / l2))` — FOUR
  * interpreted HOF passes per row (dot's zip_with+aggregate inside the
  * norm, the cast transform, the divide transform), which made
  * `buildIvfIndex(normalize = true)` at 1M vectors cost 301 s where the
  * same build over a pre-normalized corpus cost 21 s (r14; SCALING.md
  * "Streaming maintenance at a 1M-vector store"). Semantics are
  * BIT-identical to the HOF form, element for element:
  *
  *  - norm = sqrt of the index-order sum of squared double-cast elements
  *    (the [[VectorMath.cosine]] accumulation), each output element =
  *    `element.toDouble / norm` — same IEEE ops, same order;
  *  - zero norm → NULL result (the `when` guard; zero-norm vectors can
  *    never clear a cosine bar);
  *  - an array CONTAINING a null element: the HOF's norm is null, its
  *    `when(null === 0)` falls to otherwise, and the divide maps every
  *    element to null — an all-null array of the input's length, which
  *    this kernel reproduces;
  *  - null input → null (nullSafeEval); empty array → norm 0 → null.
  */
case class NormalizeVector(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"expects array<float|double>, got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def nullable: Boolean = true

  @transient private lazy val isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def nullSafeEval(v: Any): Any =
    VectorMath.normalize(v.asInstanceOf[ArrayData], isFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val resultTerm = ctx.freshName("normResult")
    nullSafeCodeGen(ctx, ev, a => s"""
      org.apache.spark.sql.catalyst.util.ArrayData $resultTerm =
        graft.functions.VectorMath.normalize($a, $isFloat);
      if ($resultTerm == null) { ${ev.isNull} = true; } else { ${ev.value} = $resultTerm; }
    """)
  }

  override protected def withNewChildInternal(c: Expression): NormalizeVector =
    copy(child = c)
  override def prettyName: String = "normalize_vector"
}

/** `nearestCells(vec)` — the IVF coarse-routing kernel: the `n` cell ids
  * whose pinned centroids sit at the smallest squared-L2 distance from the
  * row's vector, ascending by `(distance, cell)`. ONE expression
  * evaluation per row over the whole k×dim centroid matrix (a tight
  * primitive loop, [[VectorMath.nearestCells]]), replacing the
  * `array_min(array(struct(aggregate(zip_with(...)), cell), ...))` literal
  * formulation whose k×dim interpreted lambda evaluations dominated index
  * builds (measured r14: 1M rows × nlist=1000 = 709 s HOF vs seconds
  * here) and whose ~100 KB plan strings bloated every task binary.
  * Arithmetic is bit-identical to the HOF form (per-element double cast,
  * index-order accumulation, lowest-cell tie-break), so replay oracles
  * that re-derive the routing are unaffected. Null for a null/empty
  * vector, a null element, or a dimension mismatch — the cases the HOF
  * form yielded a null/indeterminate distance for.
  *
  * The centroid matrix rides a `Broadcast` handle, not the expression
  * object: embedded in the expression it would serialize k×dim×8 B into
  * EVERY task binary — fine through nlist ≈ 10³ (~0.5 MB at dim 64), but
  * at the 10M–1B-vector rungs (nlist 3k–30k) tens of MB per task where
  * the broadcast ships once per executor (VERDICT r14 wrong #3). The
  * handle itself serializes as a few bytes; `bc.value` reads the
  * executor-local block. Broadcast identity is reference equality — plan
  * canonicalization may miss subexpression reuse across separately-built
  * instances, never a correctness issue.
  */
case class NearestCellsBcast(child: Expression,
    bc: org.apache.spark.broadcast.Broadcast[(Array[Int], Array[Array[Double]])],
    n: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  require(n >= 1, "NearestCellsBcast: n must be >= 1")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"expects array<float|double>, got ${other.simpleString}")
  }
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.IntegerType, containsNull = false)
  override def nullable: Boolean = true

  @transient private lazy val isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def nullSafeEval(v: Any): Any = {
    val m = bc.value
    VectorMath.nearestCells(v.asInstanceOf[ArrayData], isFloat, m._1, m._2, n)
  }

  override protected def withNewChildInternal(c: Expression): NearestCellsBcast =
    copy(child = c)
  override def toString: String = s"nearest_cells_bcast($child, bcast=${bc.id}, n=$n)"
  override def prettyName: String = "nearest_cells_bcast"
}

/** `nearestCosineCell(vec)` — the SemDeDup assignment kernel: argmax-cosine
  * centroid over a pinned (cell, float-centroid) model, ONE evaluation per
  * row ([[VectorMath.nearestCosineCell]]), returning `struct(cluster int,
  * centroid_sim double)`. Replaces the
  * `array_max(transform(literalArray, c => struct(cosineSim(...), -cid)))`
  * formulation ([[graft.operators.Dedup.assignSemanticClusters]]) whose
  * per-centroid struct allocations + boxed HOF evaluations dominate
  * assignment at k in the hundreds. Semantics are BIT-IDENTICAL to the
  * struct-max form, which replay oracles re-derive:
  *
  *  - per-centroid cosine = [[VectorMath.cosine]] (double casts,
  *    index-order accumulation, null on length mismatch / null element /
  *    zero denom);
  *  - argmax by (cosine, lowest cell) under Spark's struct ordering:
  *    null cosine sorts below every real one
  *    (`SQLOrderingUtil.compareDoubles` — ±0.0 equal, NaN greatest);
  *  - a vector with NULL cosine to every centroid (null/empty/degenerate
  *    vector, zero norm) lands in the LOWEST cell with null sim — never
  *    a null row, matching the struct-max's all-null-cs behavior.
  *
  * The model rides a `Broadcast` handle (see [[NearestCellsBcast]] for the
  * task-binary-size rationale).
  */
case class NearestCosineCellBcast(child: Expression,
    bc: org.apache.spark.broadcast.Broadcast[(Array[Int], Array[Array[Float]])])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"expects array<float|double>, got ${other.simpleString}")
  }
  override def dataType: DataType = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("cluster",
      org.apache.spark.sql.types.IntegerType, nullable = false),
    org.apache.spark.sql.types.StructField("centroid_sim", DoubleType, nullable = true)))
  override def nullable: Boolean = false

  @transient private lazy val isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  // one block-manager read + min per task, not per degenerate row
  @transient private lazy val model = bc.value
  @transient private lazy val minCell = model._1.min

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    val res = if (v == null) null
      else VectorMath.nearestCosineCell(v.asInstanceOf[ArrayData], isFloat,
        model._1, model._2)
    if (res == null)
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](minCell, null))
    else res
  }

  override protected def withNewChildInternal(c: Expression): NearestCosineCellBcast =
    copy(child = c)
  override def toString: String = s"nearest_cosine_cell_bcast($child, bcast=${bc.id})"
  override def prettyName: String = "nearest_cosine_cell_bcast"
}

object VectorMath {
  import org.apache.spark.sql.graft.Bridge

  def cosineSim(a: Column, b: Column): Column =
    Bridge.column(CosineSim(Bridge.expression(a), Bridge.expression(b)))

  /** Per-row Σx² for [[cosineSimNormed]]'s hoisted-norm pair kernel. */
  def normSqCol(a: Column): Column = Bridge.column(NormSq(Bridge.expression(a)))

  /** [[cosineSim]] with both rows' [[normSqCol]] precomputed — bit-identical
    * values, one array pass per pair instead of three. naSq/nbSq MUST be
    * `normSqCol` of exactly a/b.
    */
  def cosineSimNormed(a: Column, b: Column, naSq: Column, nbSq: Column): Column =
    Bridge.column(CosineSimNormed(Bridge.expression(a), Bridge.expression(b),
      Bridge.expression(naSq), Bridge.expression(nbSq)))

  def dotProductInt8(a: Column, b: Column): Column =
    Bridge.column(DotProductInt8(Bridge.expression(a), Bridge.expression(b)))

  def normalizeVector(a: Column): Column =
    Bridge.column(NormalizeVector(Bridge.expression(a)))

  /** Ship a `(cell, centroid)` model to the executors once; pair with
    * [[nearestCellsBcastCol]]. The Broadcast stays live while any plan
    * referencing it is reachable (the expression holds the handle);
    * explicitly `unpersist` after an EAGER consumer (a materialized
    * build/append/probe) to release executor blocks early.
    */
  def broadcastCells(spark: org.apache.spark.sql.SparkSession,
                     centroids: Seq[(Int, Seq[Double])])
      : org.apache.spark.broadcast.Broadcast[(Array[Int], Array[Array[Double]])] = {
    // validate at construction — an empty model would otherwise fail
    // per-row inside the kernel
    require(centroids.nonEmpty, "broadcastCells: empty centroid set")
    spark.sparkContext.broadcast(
      (centroids.map(_._1).toArray, centroids.map(_._2.toArray).toArray))
  }

  /** [[NearestCellsBcast]] — broadcast-resident centroid matrix. */
  def nearestCellsBcastCol(vec: Column,
      bc: org.apache.spark.broadcast.Broadcast[(Array[Int], Array[Array[Double]])],
      n: Int): Column =
    Bridge.column(NearestCellsBcast(Bridge.expression(vec), bc, n))

  /** [[broadcastCells]]'s float-centroid counterpart for the SemDeDup model. */
  def broadcastCosineCells(spark: org.apache.spark.sql.SparkSession,
                           centroids: Seq[(Int, Seq[Float])])
      : org.apache.spark.broadcast.Broadcast[(Array[Int], Array[Array[Float]])] = {
    require(centroids.nonEmpty, "broadcastCosineCells: empty centroid set")
    spark.sparkContext.broadcast(
      (centroids.map(_._1).toArray, centroids.map(_._2.toArray).toArray))
  }

  /** [[NearestCosineCellBcast]] — broadcast-resident assignment model. */
  def nearestCosineCellBcastCol(vec: Column,
      bc: org.apache.spark.broadcast.Broadcast[(Array[Int], Array[Array[Float]])]): Column =
    Bridge.column(NearestCosineCellBcast(Bridge.expression(vec), bc))

  @inline private def elem(v: ArrayData, i: Int, isFloat: Boolean): Double =
    if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)

  private def hasNullElement(v: ArrayData, n: Int): Boolean = {
    var i = 0
    while (i < n) { if (v.isNullAt(i)) return true; i += 1 }
    false
  }

  /** [[NormalizeVector]]'s kernel — see its scaladoc for the exact HOF
    * semantics it reproduces (incl. the all-null-array case).
    */
  def normalize(a: ArrayData, aFloat: Boolean): ArrayData = {
    val n = a.numElements()
    if (hasNullElement(a, n)) {
      // the HOF form maps every element to null when the norm is null
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        new Array[Any](n))
    }
    var acc = 0.0
    var i = 0
    while (i < n) { val x = elem(a, i, aFloat); acc += x * x; i += 1 }
    val norm = math.sqrt(acc)
    if (norm == 0.0) return null
    val out = new Array[Double](n)
    i = 0
    while (i < n) { out(i) = elem(a, i, aFloat) / norm; i += 1 }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** [[DotProductInt8]]'s kernel — exact long sum of int products. */
  def dotInt8(a: ArrayData, b: ArrayData): java.lang.Long = {
    val n = a.numElements()
    if (b.numElements() != n) return null // zip_with pads with null → null sum
    if (hasNullElement(a, n) || hasNullElement(b, n)) return null
    var acc = 0L
    var i = 0
    while (i < n) { acc += (a.getInt(i) * b.getInt(i)).toLong; i += 1 }
    java.lang.Long.valueOf(acc)
  }

  /** [[NormSq]]'s kernel: Σx² with [[cosine]]'s exact element casts and
    * accumulation order; null on a null element, 0.0 for empty arrays.
    */
  def normSq(a: ArrayData, aFloat: Boolean): java.lang.Double = {
    val n = a.numElements()
    if (hasNullElement(a, n)) return null
    var acc = 0.0
    var i = 0
    while (i < n) { val x = elem(a, i, aFloat); acc += x * x; i += 1 }
    java.lang.Double.valueOf(acc)
  }

  /** [[CosineSimNormed]]'s kernel — dot-only pair pass over precomputed
    * Σx² values. Bit-identical to [[cosine]]: the dot accumulator there
    * receives the same x·y sequence regardless of the interleaved norm
    * accumulators, and the `sqrt(na)·sqrt(nb)` denominator is the same
    * expression. Null-element handling is the CALLER's contract: naSq/nbSq
    * must be [[normSq]] of exactly a/b, so a null element arrives as a
    * null norm and short-circuits in the expression's null-safe wrapper.
    */
  def cosineNormed(a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean,
                   naSq: Double, nbSq: Double): java.lang.Double = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var dot = 0.0
    var i = 0
    while (i < n) { dot += elem(a, i, aFloat) * elem(b, i, bFloat); i += 1 }
    val denom = math.sqrt(naSq) * math.sqrt(nbSq)
    if (denom == 0.0) null else java.lang.Double.valueOf(dot / denom)
  }

  def cosine(a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean): java.lang.Double = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    if (hasNullElement(a, n) || hasNullElement(b, n)) return null
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = elem(a, i, aFloat)
      val y = elem(b, i, bFloat)
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) null else java.lang.Double.valueOf(dot / denom) // Divide-by-zero → null, like Spark SQL
  }

  /** [[NearestCellsBcast]]'s kernel: top-`n` cells by ascending `(sqdist, cell)`
    * via one k×dim primitive loop + insertion into a ≤n sorted prefix
    * (O(k·(dim + n)); n ≤ 64 in practice). Returns null on dimension
    * mismatch or a null element — the "can't route" answer.
    */
  def nearestCells(a: ArrayData, aFloat: Boolean, cells: Array[Int],
                   centroids: Array[Array[Double]], n: Int): ArrayData = {
    val d = a.numElements()
    if (d == 0 || centroids(0).length != d) return null
    if (hasNullElement(a, d)) return null
    val m = cells.length
    val keep = math.min(n, m)
    val topD = new Array[Double](keep)
    val topC = new Array[Int](keep)
    var filled = 0
    var j = 0
    while (j < m) {
      val c = centroids(j)
      var s = 0.0
      var i = 0
      while (i < d) { val t = elem(a, i, aFloat) - c(i); s += t * t; i += 1 }
      val cid = cells(j)
      def beats(p: Int): Boolean =
        topD(p) > s || (topD(p) == s && topC(p) > cid)
      if (filled < keep) {
        var p = filled
        while (p > 0 && beats(p - 1)) { topD(p) = topD(p - 1); topC(p) = topC(p - 1); p -= 1 }
        topD(p) = s; topC(p) = cid; filled += 1
      } else if (beats(keep - 1)) {
        var p = keep - 1
        while (p > 0 && beats(p - 1)) { topD(p) = topD(p - 1); topC(p) = topC(p - 1); p -= 1 }
        topD(p) = s; topC(p) = cid
      }
      j += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(java.util.Arrays.copyOf(topC, filled))
  }

  /** [[NearestCosineCellBcast]]'s kernel: argmax cosine over the pinned float
    * centroids under Spark's struct-max ordering — per-centroid cosine
    * exactly as [[cosine]] computes it (the norm of `a` is the same value
    * whichever centroid it pairs with, so hoisting it out of the loop is
    * bit-neutral), nulls smallest, `SQLOrderingUtil.compareDoubles` on
    * ties of value, lower cell wins equal cosines. Returns null when NO
    * centroid yields a real cosine (caller substitutes the lowest cell).
    */
  def nearestCosineCell(a: ArrayData, aFloat: Boolean, cells: Array[Int],
                        centroids: Array[Array[Float]]): Any = {
    import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
    val d = a.numElements()
    if (d == 0 || hasNullElement(a, d)) return null
    var na = 0.0
    var i = 0
    while (i < d) { val x = elem(a, i, aFloat); na += x * x; i += 1 }
    val sqrtNa = math.sqrt(na)
    var bestCs = 0.0
    var bestCid = 0
    var found = false
    var j = 0
    while (j < cells.length) {
      val c = centroids(j)
      if (c.length == d) {
        var dot = 0.0
        var nb = 0.0
        i = 0
        while (i < d) {
          val x = elem(a, i, aFloat)
          val y = c(i).toDouble
          dot += x * y
          nb += y * y
          i += 1
        }
        val denom = sqrtNa * math.sqrt(nb)
        if (denom != 0.0) {
          val cs = dot / denom
          val cmp = if (found) SQLOrderingUtil.compareDoubles(cs, bestCs) else 1
          if (cmp > 0 || (cmp == 0 && cells(j) < bestCid)) {
            bestCs = cs; bestCid = cells(j); found = true
          }
        }
      }
      j += 1
    }
    if (!found) null
    else new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](bestCid, bestCs))
  }
}
