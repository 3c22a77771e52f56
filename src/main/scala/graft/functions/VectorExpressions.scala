package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the vector hot path.
  *
  * Why custom expressions (SURVEY §4 said "decide after measuring"; we
  * measured): Spark's higher-order functions (`zip_with`, `aggregate`,
  * `transform`) evaluate their lambdas on the INTERPRETED path — one
  * closure dispatch per element. For 64-dim embeddings that is ~200
  * interpreted calls per row in the cosine kernel. These expressions emit a
  * tight primitive loop via doGenCode inside whole-stage codegen instead —
  * measured ~10× on a 1M-row scan (VectorFunctionsSpec prints both).
  *
  * Both evaluate in double precision with index-order accumulation, exactly
  * matching the zip_with/aggregate formulation and the DuckDB oracle — they
  * are drop-in replacements with identical results. All binary kernels
  * return NULL on a length mismatch (the HOF chain null-poisons there via
  * zip_with padding) rather than silently truncating to the shorter vector.
  */
trait FloatVectorBinary extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  // ExpectsInputTypes is unavailable outside org.apache.spark.sql
  // (AbstractDataType is private[sql]) — check array<float> inputs directly
  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<float> arguments, got " +
        s"${left.dataType.catalogString}, ${right.dataType.catalogString}")
  }
}

/** cosine_sim(a, b): Σaᵢbᵢ / (√Σaᵢ² · √Σbᵢ²); NULL on zero-norm input. */
case class CosineSimilarity(left: Expression, right: Expression)
    extends FloatVectorBinary {

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements()) return null
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    if (na == 0.0 || nb == 0.0) null
    else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val dot = ctx.freshName("dot"); val na = ctx.freshName("na")
      val nb = ctx.freshName("nb"); val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
         |int $n = $a.numElements();
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |if ($n == $b.numElements()) {
         |  for (int $i = 0; $i < $n; $i++) {
         |    double $x = (double) $a.getFloat($i);
         |    double $y = (double) $b.getFloat($i);
         |    $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |  }
         |}
         |if ($n != $b.numElements() || $na == 0.0 || $nb == 0.0) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression)
      : CosineSimilarity = copy(left = l, right = r)
  override def prettyName: String = "cosine_sim"
}

/** sig_match(a, b): number of agreeing positions between two array<bigint>
  * minhash signatures — the Jaccard-estimate kernel of the LSH candidate
  * path. The zip_with + filter + size formulation it replaces runs its
  * lambdas interpreted (one closure dispatch per signature position per
  * candidate pair); this is a tight primitive loop inside whole-stage
  * codegen with identical results.
  */
case class SignatureMatchCount(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<bigint> arguments, got " +
        s"${left.dataType.catalogString}, ${right.dataType.catalogString}")
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements()) return null
    var m = 0; var i = 0
    while (i < n) { if (a.getLong(i) == b.getLong(i)) m += 1; i += 1 }
    m
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val m = ctx.freshName("m")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $m = 0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.getLong($i) == $b.getLong($i)) $m++;
         |  }
         |  ${ev.value} = $m;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression)
      : SignatureMatchCount = copy(left = l, right = r)
  override def prettyName: String = "sig_match"
}

/** sq_l2(a, b): Σ(aᵢ−bᵢ)² over two array<bigint> fixed-point vectors —
  * the integer squared-L2 metric of the gated semantic-dedup family. Same
  * measured rationale as the float kernels: the `aggregate(zip_with(...))`
  * formulation dispatches an interpreted closure per element (~128 calls
  * per 64-dim pair), which dominates the within-cell pair scans once the
  * corpus grows (the multi-probe 10× decade runs ~10⁸ pair distances).
  * Exact integer arithmetic in a primitive loop — bit-identical to the
  * HOF chain and the DuckDB oracle, drop-in under the hash gate. A
  * length mismatch yields NULL, mirroring the HOF chain (zip_with
  * null-pads the shorter array and acc+null poisons the fold) instead of
  * silently truncating to the shorter vector.
  */
case class SquaredL2Long(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<bigint> arguments, got " +
        s"${left.dataType.catalogString}, ${right.dataType.catalogString}")
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements()) return null
    var s = 0L; var i = 0
    while (i < n) {
      val d = a.getLong(i) - b.getLong(i)
      s += d * d; i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val s = ctx.freshName("s"); val d = ctx.freshName("d")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $s = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    long $d = $a.getLong($i) - $b.getLong($i);
         |    $s += $d * $d;
         |  }
         |  ${ev.value} = $s;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression)
      : SquaredL2Long = copy(left = l, right = r)
  override def prettyName: String = "sq_l2"
}

/** hyperplane_bands(v): the 4 LSH band buckets of a float vector's 32-bit
  * random-hyperplane signature, in ONE pass over the vector. Bit j is the
  * sign of ⟨v, plane_j⟩ (double accumulation over float values — exactly
  * `dot_f(v, plane_j) > 0.0`); band b packs bits [8b, 8b+8) little-endian.
  * Replaces 32 separate dot_f projections (32 passes over every vector, 32
  * columns through the optimizer) with a single expression — ~32× less
  * arithmetic and one projection. Planes are deterministic (seeded Gaussian,
  * same values on every executor via object init).
  */
case class HyperplaneBands(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array<float> argument, got ${other.catalogString}")
  }

  override def nullSafeEval(v: Any): Any =
    HyperplaneKernel.bands(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.functions.HyperplaneKernel.bands($v);")

  override protected def withNewChildInternal(c: Expression): HyperplaneBands =
    copy(child = c)
  override def prettyName: String = "hyperplane_bands"
}

/** Static kernel + the deterministic hyperplane table (32 planes × 64 dims,
  * seed 42 — bit-compatible with the former per-plane typedLit literals:
  * same Random draw order, same double→float cast).
  */
object HyperplaneKernel {
  val NumPlanes = 32
  val BandBits = 8
  val NumBands: Int = NumPlanes / BandBits

  private val planes: Array[Array[Float]] = {
    val rnd = new scala.util.Random(42)
    Array.fill(NumPlanes)(Array.fill(64)(rnd.nextGaussian().toFloat))
  }

  def bands(v: ArrayData): ArrayData = {
    val out = new Array[Long](NumBands)
    var j = 0
    while (j < NumPlanes) {
      val p = planes(j)
      val n = math.min(v.numElements(), p.length)
      var dot = 0.0
      var i = 0
      while (i < n) {
        dot += v.getFloat(i).toDouble * p(i).toDouble
        i += 1
      }
      if (dot > 0.0) out(j / BandBits) |= 1L << (j % BandBits)
      j += 1
    }
    new GenericArrayData(out)
  }
}

/** dot_f(a, b): plain double-precision dot product of two float vectors. */
case class DotProductF(left: Expression, right: Expression)
    extends FloatVectorBinary {

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements()) return null
    var dot = 0.0; var i = 0
    while (i < n) { dot += a.getFloat(i).toDouble * b.getFloat(i).toDouble; i += 1 }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $dot += ((double) $a.getFloat($i)) * ((double) $b.getFloat($i));
         |  }
         |  ${ev.value} = $dot;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression)
      : DotProductF = copy(left = l, right = r)
  override def prettyName: String = "dot_f"
}

/** vec_sum_q(v): elementwise SUM of array<bigint> vectors over a group —
  * the k-means centroid-mean kernel. One aggregate expression with a
  * primitive long-array buffer replaces either 64 separate `sum(qv[i])`
  * aggregate columns (the r15 one-agg shape — ~200 expression nodes per
  * Lloyd's round, multiplied into every copy of the r15 carry fit's
  * 2^rounds lineage, which is what regressed the fit family's wall) or the
  * posexplode → groupBy(cid,pos) → collect_list chain (dim× row fan-out
  * plus two exchanges per round). Exact integer addition is associative
  * and commutative, so partial (map-side) + final aggregation is
  * order-independent — bit-identical to both prior shapes.
  *
  * Width adapts to the DATA (buffer sized by the first non-null input
  * row), so a corpus whose embedding width differs from the static
  * EmbDim can never null-poison centroids (the r15 ADVICE hazard); a
  * length mismatch WITHIN a group throws instead of silently truncating.
  * NULL inputs are skipped (SQL sum semantics); an all-NULL group yields
  * NULL. A NULL element inside a vector throws rather than counting as 0.
  */
case class VecSumLong(child: Expression,
                      mutableAggBufferOffset: Int = 0,
                      inputAggBufferOffset: Int = 0)
    extends org.apache.spark.sql.catalyst.expressions.aggregate
      .TypedImperativeAggregate[Array[Long]]
    with org.apache.spark.sql.catalyst.trees.UnaryLike[Expression] {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array<bigint> argument, got ${other.catalogString}")
  }

  override def createAggregationBuffer(): Array[Long] = null

  override def update(buf: Array[Long],
                      input: org.apache.spark.sql.catalyst.InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v == null) return buf
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val b = if (buf == null) new Array[Long](n) else buf
    if (b.length != n)
      throw new IllegalArgumentException(
        s"$prettyName: vector width mismatch in group (${b.length} vs $n)")
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i))
        throw new IllegalArgumentException(
          s"$prettyName: NULL vector element at position $i")
      b(i) += arr.getLong(i); i += 1
    }
    b
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    if (a == null) return b
    if (b == null) return a
    if (a.length != b.length)
      throw new IllegalArgumentException(
        s"$prettyName: vector width mismatch in merge (${a.length} vs ${b.length})")
    var i = 0
    while (i < a.length) { a(i) += b(i); i += 1 }
    a
  }

  override def eval(buf: Array[Long]): Any =
    if (buf == null) null else new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    if (buf == null) return Array.emptyByteArray
    val bb = java.nio.ByteBuffer.allocate(8 * buf.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.asLongBuffer().put(buf)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    if (bytes.isEmpty) return null
    val out = new Array[Long](bytes.length / 8)
    java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).asLongBuffer().get(out)
    out
  }

  override def withNewMutableAggBufferOffset(offset: Int): VecSumLong =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): VecSumLong =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildInternal(c: Expression): VecSumLong =
    copy(child = c)
  override def prettyName: String = "vec_sum_q"
}

/** dot_q(a, b): EXACT integer dot product of two array<bigint> vectors —
  * the quantized-cosine kernel ([[graft.operators.Similarity.cosSimHist]]
  * discipline) at codegen speed: the zip_with/aggregate HOF chain it
  * replaces runs on Catalyst's interpreted path (measured unusable at
  * the 25M-pair mining fan-out), while this is one primitive long loop
  * inside whole-stage codegen, bit-identical to the HOF fold and to a
  * DuckDB `sum(a.q*b.q)` over exact integers. Norms are `dot_q(v, v)`.
  * Length mismatch yields NULL (the zip_with null-poisoning contract).
  */
case class DotProductLong(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<bigint> arguments, got " +
        s"${left.dataType.catalogString}, ${right.dataType.catalogString}")
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements()) return null
    var s = 0L; var i = 0
    while (i < n) { s += a.getLong(i) * b.getLong(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $s = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $s += $a.getLong($i) * $b.getLong($i);
         |  }
         |  ${ev.value} = $s;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression)
      : DotProductLong = copy(left = l, right = r)
  override def prettyName: String = "dot_q"
}
