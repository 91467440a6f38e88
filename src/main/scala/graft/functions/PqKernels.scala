package graft.functions

import graft.route.GraftColumns
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.GraftBridge.AbstractDataType
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/**
 * Product-quantization kernels (Jégou et al. 2011, the FAISS `PQ`
 * design): the vector splits into `m` subspaces of `dim/m` dims; each
 * subspace is vector-quantized against its own `ksub`-entry codebook.
 *
 * Both kernels take the codebooks as ONE flat reference object
 * (`m * ksub * dsub` doubles, laid out [s][code][dim]) — the same
 * reference-object pattern as [[CentroidNegCosines]], so the matrix
 * is not inlined as literals and rides codegen once per task.
 *
 * Float discipline (oracle parity): every distance is a sequential
 * left-fold of squared differences from +0.0 in dim order; argmin
 * scans codes in index order with strict `<` so ties keep the LOWEST
 * code — exactly `ORDER BY dist, code` in SQL.
 */
object PqKernels {

  /** `pq_codes(vec)`: the vector's `m` nearest sub-codebook entries —
    * array<int> of length m, PQ's encode step. NULL on dim mismatch
    * or null element. */
  def pq_codes(vec: Column, codebooks: Seq[Double], m: Int, ksub: Int,
               dim: Int): Column =
    GraftColumns.of(PqCodes(GraftColumns.expr(vec), codebooks, m, ksub, dim))

  /** `pq_adc_table(vec)`: the vector's squared-L2 distance to EVERY
    * sub-codebook entry — array<double> of length m*ksub (slot
    * s*ksub + code), the per-query lookup table ADC scoring reads so
    * scoring a corpus row costs m lookups, never a vector pass. */
  def pq_adc_table(vec: Column, codebooks: Seq[Double], m: Int, ksub: Int,
                   dim: Int): Column =
    GraftColumns.of(PqAdcTable(GraftColumns.expr(vec), codebooks, m, ksub, dim))

  /** The `pq_adc_table` kernel on a plain vector of length `dim` — the
    * driver-side form, the same fold as the expression's. */
  def adcTable(v: Array[Double], cb: Array[Double], m: Int, ksub: Int,
               dim: Int): Array[Double] = {
    val dsub = dim / m
    val out = new Array[Double](m * ksub)
    var s = 0
    while (s < m) {
      var c = 0
      while (c < ksub) {
        var d = 0.0
        val off = (s * ksub + c) * dsub
        var k = 0
        while (k < dsub) {
          val x = v(s * dsub + k) - cb(off + k)
          d += x * x
          k += 1
        }
        out(s * ksub + c) = d
        c += 1
      }
      s += 1
    }
    out
  }
}

case class PqCodes(child: Expression, codebooks: Seq[Double],
                   m: Int, ksub: Int, dim: Int)
    extends UnaryExpression with ImplicitCastInputTypes {
  private val dsub = dim / m
  require(m > 0 && dim % m == 0, s"dim $dim not divisible into $m subspaces")
  require(codebooks.length == m * ksub * dsub,
    s"codebooks has ${codebooks.length} values for $m x $ksub x $dsub")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true

  @transient private lazy val cb: Array[Double] = codebooks.toArray

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    if (arr.numElements() != dim) return null
    var j = 0
    while (j < dim) { if (arr.isNullAt(j)) return null; j += 1 }
    val out = new Array[Int](m)
    var s = 0
    while (s < m) {
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < ksub) {
        var d = 0.0
        val off = (s * ksub + c) * dsub
        var k = 0
        while (k < dsub) {
          val x = arr.getDouble(s * dsub + k) - cb(off + k)
          d += x * x
          k += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      out(s) = best
      s += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("pqCodebooks", cb, "double[]")
    nullSafeCodeGen(ctx, ev, v => {
      val s = ctx.freshName("s"); val c = ctx.freshName("c")
      val k = ctx.freshName("k"); val d = ctx.freshName("d")
      val x = ctx.freshName("x"); val off = ctx.freshName("off")
      val best = ctx.freshName("best"); val bestD = ctx.freshName("bestD")
      val out = ctx.freshName("out"); val j = ctx.freshName("j")
      s"""
         |if ($v.numElements() != $dim) {
         |  ${ev.isNull} = true;
         |} else {
         |  for (int $j = 0; $j < $dim; $j++) {
         |    if ($v.isNullAt($j)) { ${ev.isNull} = true; break; }
         |  }
         |  if (!${ev.isNull}) {
         |    int[] $out = new int[$m];
         |    for (int $s = 0; $s < $m; $s++) {
         |      int $best = 0;
         |      double $bestD = Double.MAX_VALUE;
         |      for (int $c = 0; $c < $ksub; $c++) {
         |        double $d = 0.0;
         |        int $off = ($s * $ksub + $c) * $dsub;
         |        for (int $k = 0; $k < $dsub; $k++) {
         |          double $x = $v.getDouble($s * $dsub + $k) - $cbRef[$off + $k];
         |          $d += $x * $x;
         |        }
         |        if ($d < $bestD) { $bestD = $d; $best = $c; }
         |      }
         |      $out[$s] = $best;
         |    }
         |    ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
         |  }
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "pq_codes"
}

case class PqAdcTable(child: Expression, codebooks: Seq[Double],
                      m: Int, ksub: Int, dim: Int)
    extends UnaryExpression with ImplicitCastInputTypes {
  private val dsub = dim / m
  require(m > 0 && dim % m == 0, s"dim $dim not divisible into $m subspaces")
  require(codebooks.length == m * ksub * dsub,
    s"codebooks has ${codebooks.length} values for $m x $ksub x $dsub")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true

  @transient private lazy val cb: Array[Double] = codebooks.toArray

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    if (arr.numElements() != dim) return null
    var j = 0
    while (j < dim) { if (arr.isNullAt(j)) return null; j += 1 }
    new GenericArrayData(PqKernels.adcTable(arr.toDoubleArray(), cb, m, ksub, dim))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("pqCodebooks", cb, "double[]")
    nullSafeCodeGen(ctx, ev, v => {
      val s = ctx.freshName("s"); val c = ctx.freshName("c")
      val k = ctx.freshName("k"); val d = ctx.freshName("d")
      val x = ctx.freshName("x"); val off = ctx.freshName("off")
      val out = ctx.freshName("out"); val j = ctx.freshName("j")
      s"""
         |if ($v.numElements() != $dim) {
         |  ${ev.isNull} = true;
         |} else {
         |  for (int $j = 0; $j < $dim; $j++) {
         |    if ($v.isNullAt($j)) { ${ev.isNull} = true; break; }
         |  }
         |  if (!${ev.isNull}) {
         |    double[] $out = new double[$m * $ksub];
         |    for (int $s = 0; $s < $m; $s++) {
         |      for (int $c = 0; $c < $ksub; $c++) {
         |        double $d = 0.0;
         |        int $off = ($s * $ksub + $c) * $dsub;
         |        for (int $k = 0; $k < $dsub; $k++) {
         |          double $x = $v.getDouble($s * $dsub + $k) - $cbRef[$off + $k];
         |          $d += $x * $x;
         |        }
         |        $out[$s * $ksub + $c] = $d;
         |      }
         |    }
         |    ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
         |  }
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "pq_adc_table"
}
