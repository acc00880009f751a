package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim.shim
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the vector-similarity hot loops.
  *
  * The composable forms (`aggregate(zip_with(...))` for the dot
  * product, a dim×planes unrolled `element_at` tree for the SRP
  * signature) are correct but pay per-row allocation (zip_with builds
  * an intermediate array per pair) or per-term expression-tree
  * overhead. At 10^12-scale ANN sweeps the pair-scoring dot product is
  * THE hot loop of the engine, so these get tight codegen'd loops with
  * `doGenCode` — while computing bit-for-bit the same double sequence
  * as the composable forms (sequential left-fold, same cast points),
  * so every DuckDB oracle that models them stays green.
  *
  * Reference provenance: the reference scores embedding similarity
  * row-at-a-time in numpy (single-threaded pandas); here the same math
  * is a whole-stage-codegen expression.
  */
object VectorExprs {

  /** dot(a, b) over two array<float> columns in double precision,
    * sequential fold — bit-identical to
    * `aggregate(zip_with(a,b,(x,y)=>x*y), 0.0, _+_)`. Null array, a
    * length mismatch, or any null element yields null (the HOF form's
    * semantics: a null element poisons the running sum). */
  case class FloatDot(left: Expression, right: Expression)
      extends BinaryExpression {

    override def checkInputDataTypes(): TypeCheckResult =
      if (Seq(left, right).forall(_.dataType match {
        case ArrayType(FloatType, _) => true
        case _ => false
      })) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs two array<float> inputs, got " +
          s"${left.dataType.simpleString}, ${right.dataType.simpleString}")
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    override def prettyName: String = "float_dot"

    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val n = x.numElements()
      if (n != y.numElements()) return null
      var acc = 0.0
      var i = 0
      while (i < n) {
        if (x.isNullAt(i) || y.isNullAt(i)) return null
        acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
        i += 1
      }
      acc
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val n = ctx.freshName("n")
        val i = ctx.freshName("i")
        val acc = ctx.freshName("acc")
        s"""
           |final int $n = $a.numElements();
           |if ($n != $b.numElements()) {
           |  ${ev.isNull} = true;
           |} else {
           |  double $acc = 0.0;
           |  for (int $i = 0; $i < $n; $i++) {
           |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
           |    $acc += ((double) $a.getFloat($i)) * ((double) $b.getFloat($i));
           |  }
           |  if (!${ev.isNull}) ${ev.value} = $acc;
           |}
         """.stripMargin
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** Sign-random-projection signature: bit p of the result is the sign
    * of `emb · plane(p + table*nPlanes)`, planes drawn from the fixed
    * integer mix `pmod((d+1)*2654435761 + (p'+1)*40503, 2^20)/2^19 - 1`
    * — the same portable formula the DuckDB oracles rebuild. Matches
    * its Column form (Knn.srpSignatureHof) bit-for-bit: per-plane
    * projections are sequential folds over d; a NaN projection sets no
    * bit; any null element nullifies every projection, so the
    * signature is 0. */
  case class SrpSig(child: Expression, nPlanes: Int, table: Int)
      extends UnaryExpression {

    require(nPlanes >= 1 && nPlanes <= 62, s"nPlanes out of range: $nPlanes")

    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs an array<float> input, got ${other.simpleString}")
    }
    override def dataType: DataType = LongType
    override def prettyName: String = "srp_sig"

    override def nullSafeEval(e: Any): Any = {
      val x = e.asInstanceOf[ArrayData]
      val dim = x.numElements()
      var d = 0
      while (d < dim) { // null element => every projection null => sig 0
        if (x.isNullAt(d)) return 0L
        d += 1
      }
      var sig = 0L
      var p = 0
      while (p < nPlanes) {
        val pp = p + table * nPlanes
        var proj = 0.0
        d = 0
        while (d < dim) {
          val mixed = ((d + 1).toLong * 2654435761L + (pp + 1).toLong * 40503L) % 1048576L
          proj += x.getFloat(d).toDouble * (mixed.toDouble / 524288.0 - 1.0)
          d += 1
        }
        if (proj >= 0) sig |= 1L << p
        p += 1
      }
      sig
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a => {
        val dim = ctx.freshName("dim")
        val d = ctx.freshName("d")
        val p = ctx.freshName("p")
        val pp = ctx.freshName("pp")
        val proj = ctx.freshName("proj")
        val mixed = ctx.freshName("mixed")
        val sig = ctx.freshName("sig")
        val nul = ctx.freshName("hasNull")
        s"""
           |final int $dim = $a.numElements();
           |boolean $nul = false;
           |for (int $d = 0; $d < $dim; $d++) {
           |  if ($a.isNullAt($d)) { $nul = true; break; }
           |}
           |long $sig = 0L;
           |if (!$nul) {
           |  for (int $p = 0; $p < $nPlanes; $p++) {
           |    final int $pp = $p + ${table * nPlanes};
           |    double $proj = 0.0;
           |    for (int $d = 0; $d < $dim; $d++) {
           |      final long $mixed =
           |        (($d + 1L) * 2654435761L + ($pp + 1L) * 40503L) % 1048576L;
           |      $proj += ((double) $a.getFloat($d)) * ($mixed / 524288.0 - 1.0);
           |    }
           |    if ($proj >= 0) $sig |= 1L << $p;
           |  }
           |}
           |${ev.value} = $sig;
         """.stripMargin
      })

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Squared-L2 distances from `emb` (array<float>, length dim) to each
    * of C centroids — the IVF coarse-quantizer kernel. The unrolled
    * Column form is C×dim `(element_at - lit)²` terms (≈5000 expression
    * nodes at C=80, dim=64 — analysis- and codegen-quadratic); here the
    * centroid matrix rides along as a flat reference object and the
    * whole distance array is one fused loop. Float order matches the
    * unrolled form exactly: per-centroid sequential fold over d.
    * A null element or a short array yields a null result array. */
  case class CentroidDists(child: Expression, cents: Array[Array[Double]])
      extends UnaryExpression {

    require(cents.nonEmpty && cents.forall(_.length == cents(0).length),
      "centroid matrix must be rectangular and non-empty")
    private val dim = cents(0).length
    private val nC = cents.length
    // flattened row-major: cents(c)(d) == flat(c*dim + d)
    private lazy val flat: Array[Double] = {
      val a = new Array[Double](nC * dim)
      var c = 0
      while (c < nC) {
        System.arraycopy(cents(c), 0, a, c * dim, dim); c += 1
      }
      a
    }

    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs an array<float> input, got ${other.simpleString}")
    }
    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
    override def nullable: Boolean = true
    override def prettyName: String = s"centroid_dists_${nC}x$dim"

    override def nullSafeEval(e: Any): Any = {
      val x = e.asInstanceOf[ArrayData]
      if (x.numElements() < dim) return null
      var d = 0
      while (d < dim) {
        if (x.isNullAt(d)) return null
        d += 1
      }
      val out = new Array[Double](nC)
      var c = 0
      while (c < nC) {
        var acc = 0.0
        val base = c * dim
        d = 0
        while (d < dim) {
          val diff = x.getFloat(d).toDouble - flat(base + d)
          acc += diff * diff
          d += 1
        }
        out(c) = acc
        c += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val flatRef = ctx.addReferenceObj("centsFlat", flat, "double[]")
      val gad = classOf[org.apache.spark.sql.catalyst.util.GenericArrayData].getName
      nullSafeCodeGen(ctx, ev, a => {
        val d = ctx.freshName("d")
        val c = ctx.freshName("c")
        val acc = ctx.freshName("acc")
        val diff = ctx.freshName("diff")
        val out = ctx.freshName("out")
        val bad = ctx.freshName("bad")
        val base = ctx.freshName("base")
        s"""
           |boolean $bad = $a.numElements() < $dim;
           |if (!$bad) {
           |  for (int $d = 0; $d < $dim; $d++) {
           |    if ($a.isNullAt($d)) { $bad = true; break; }
           |  }
           |}
           |if ($bad) {
           |  ${ev.isNull} = true;
           |} else {
           |  double[] $out = new double[$nC];
           |  for (int $c = 0; $c < $nC; $c++) {
           |    double $acc = 0.0;
           |    final int $base = $c * $dim;
           |    for (int $d = 0; $d < $dim; $d++) {
           |      final double $diff = ((double) $a.getFloat($d)) - $flatRef[$base + $d];
           |      $acc += $diff * $diff;
           |    }
           |    $out[$c] = $acc;
           |  }
           |  ${ev.value} = new $gad($out);
           |}
         """.stripMargin
      })
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)

    // the matrix is payload, not identity-relevant beyond its values
    override def equals(o: Any): Boolean = o match {
      case CentroidDists(c2, m2) =>
        child == c2 && m2.length == cents.length &&
          cents.indices.forall(i => java.util.Arrays.equals(cents(i), m2(i)))
      case _ => false
    }
    override def hashCode(): Int =
      31 * child.hashCode() + java.util.Arrays.deepHashCode(
        cents.asInstanceOf[Array[AnyRef]])
  }

  /** Exact integer dot product of two array<byte> SQ8 code columns —
    * the quantized-cosine scoring kernel. Same motivation and
    * null/length semantics as [[FloatDot]] (the composable
    * `aggregate(zip_with(...))` form interprets one lambda step per
    * element per candidate); exact integers make the fold order
    * irrelevant, so "bit-identical" here is simply "equal". */
  case class ByteDot(left: Expression, right: Expression)
      extends BinaryExpression {

    override def checkInputDataTypes(): TypeCheckResult =
      if (Seq(left, right).forall(_.dataType match {
        case ArrayType(ByteType, _) => true
        case _ => false
      })) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs two array<tinyint> inputs, got " +
          s"${left.dataType.simpleString}, ${right.dataType.simpleString}")
    override def dataType: DataType = LongType
    override def nullable: Boolean = true
    override def prettyName: String = "byte_dot"

    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val n = x.numElements()
      if (n != y.numElements()) return null
      var acc = 0L
      var i = 0
      while (i < n) {
        if (x.isNullAt(i) || y.isNullAt(i)) return null
        acc += x.getByte(i).toLong * y.getByte(i).toLong
        i += 1
      }
      acc
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val n = ctx.freshName("n")
        val i = ctx.freshName("i")
        val acc = ctx.freshName("acc")
        s"""
           |final int $n = $a.numElements();
           |if ($n != $b.numElements()) {
           |  ${ev.isNull} = true;
           |} else {
           |  long $acc = 0L;
           |  for (int $i = 0; $i < $n; $i++) {
           |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
           |    $acc += ((long) $a.getByte($i)) * ((long) $b.getByte($i));
           |  }
           |  if (!${ev.isNull}) ${ev.value} = $acc;
           |}
         """.stripMargin
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** Asymmetric (ADC) squared-L2 distance between a full-precision
    * query vector and the closed-form-codebook reconstruction of a PQ
    * code array — the IVF-PQ candidate-scoring kernel. The composable
    * form (`aggregate(sequence(0, nDims-1), 0.0, ...)` in
    * Quant.adcDistHof) interprets one lambda step per global dimension
    * per candidate — at millions of coarse-probe candidates that
    * interpretation dominated q_knn_pq. This kernel computes the
    * bit-identical sequential fold (same codebook integer mix, same
    * acc + d·d order) in one fused loop. Null array or null element
    * yields null (the HOF's poisoned-accumulator semantics). */
  case class AdcDist(left: Expression, right: Expression,
                     subDim: Int, nDims: Int) extends BinaryExpression {

    require(subDim >= 1 && nDims >= 1 && nDims % subDim == 0,
      s"bad PQ geometry: subDim=$subDim nDims=$nDims")

    override def checkInputDataTypes(): TypeCheckResult =
      (left.dataType, right.dataType) match {
        case (ArrayType(FloatType, _), ArrayType(IntegerType, _)) =>
          TypeCheckResult.TypeCheckSuccess
        case (l, r) => TypeCheckResult.TypeCheckFailure(
          s"$prettyName needs (array<float>, array<int>), got " +
            s"${l.simpleString}, ${r.simpleString}")
      }
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    override def prettyName: String = s"adc_dist_${nDims}_$subDim"

    override def nullSafeEval(a: Any, b: Any): Any = {
      val q = a.asInstanceOf[ArrayData]
      val code = b.asInstanceOf[ArrayData]
      if (q.numElements() < nDims || code.numElements() < nDims / subDim)
        return null
      var acc = 0.0
      var gd = 0
      while (gd < nDims) {
        val m = gd / subDim
        if (q.isNullAt(gd) || code.isNullAt(m)) return null
        val j = code.getInt(m).toLong
        val cv = (((gd + 1).toLong * 2654435761L + j * 40503L) % 1048576L)
          .toDouble / 524288.0 - 1.0
        val d = q.getFloat(gd).toDouble - cv
        acc += d * d
        gd += 1
      }
      acc
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val gd = ctx.freshName("gd")
        val m = ctx.freshName("m")
        val j = ctx.freshName("j")
        val cv = ctx.freshName("cv")
        val d = ctx.freshName("d")
        val acc = ctx.freshName("acc")
        s"""
           |if ($a.numElements() < $nDims ||
           |    $b.numElements() < ${nDims / subDim}) {
           |  ${ev.isNull} = true;
           |} else {
           |  double $acc = 0.0;
           |  for (int $gd = 0; $gd < $nDims; $gd++) {
           |    final int $m = $gd / $subDim;
           |    if ($a.isNullAt($gd) || $b.isNullAt($m)) { ${ev.isNull} = true; break; }
           |    final long $j = (long) $b.getInt($m);
           |    final double $cv =
           |      ((($gd + 1L) * 2654435761L + $j * 40503L) % 1048576L) / 524288.0 - 1.0;
           |    final double $d = ((double) $a.getFloat($gd)) - $cv;
           |    $acc += $d * $d;
           |  }
           |  if (!${ev.isNull}) ${ev.value} = $acc;
           |}
         """.stripMargin
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** Column wrappers. */
  def floatDot(a: Column, b: Column): Column =
    shim.column(FloatDot(shim.expression(a), shim.expression(b)))

  def adcDist(q: Column, code: Column, subDim: Int, nDims: Int): Column =
    shim.column(AdcDist(shim.expression(q), shim.expression(code), subDim, nDims))

  def byteDot(a: Column, b: Column): Column =
    shim.column(ByteDot(shim.expression(a), shim.expression(b)))

  def srpSig(emb: Column, nPlanes: Int, table: Int): Column =
    shim.column(SrpSig(shim.expression(emb), nPlanes, table))

  def centroidDists(emb: Column, cents: Array[Array[Double]]): Column =
    shim.column(CentroidDists(shim.expression(emb), cents))
}
