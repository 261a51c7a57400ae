package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.sqrt
import org.apache.spark.sql.types._

/** Whole-stage-codegen distance kernels over ARRAY<FLOAT> columns.
  *
  * These are the Spark-native analog of the reference's SIMD distance kernels
  * (squared L2: /root/reference/filter/hnsw/space_l2.h:6-204 and the integer
  * variant space_l2.h:376-413; inner product: space_ip.h:6-345; the AVX-512
  * uint8 kernel: filter/uint8_knn_file/uint8_knn.hpp:9-37). Instead of
  * hand-written intrinsics we emit a tight scalar Java loop inside
  * whole-stage codegen; the JIT auto-vectorizes it. Accumulation is in
  * double for deterministic, oracle-matching results.
  */
abstract class FloatVecBinaryExpression extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(FloatType, _) => true
      case _                       => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects two ARRAY<FLOAT> inputs, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }
}

/** Squared L2 distance: sum_i (a_i - b_i)^2, double accumulator. */
case class VecL2Sq(left: Expression, right: Expression) extends FloatVecBinaryExpression {
  override def prettyName: String = "vec_l2sq"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      val d = a.getFloat(i).toDouble - b.getFloat(i).toDouble
      acc += d * d
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      s"""
         |final int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  final double $d = (double) $a.getFloat($i) - (double) $b.getFloat($i);
         |  $acc += $d * $d;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecL2Sq =
    copy(left = newLeft, right = newRight)
}

/** Inner product: sum_i a_i * b_i, double accumulator (MIPS scoring). */
case class VecDot(left: Expression, right: Expression) extends FloatVecBinaryExpression {
  override def prettyName: String = "vec_dot"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += a.getFloat(i).toDouble * b.getFloat(i).toDouble
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
         |final int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecDot =
    copy(left = newLeft, right = newRight)
}

/** Integer squared L2 over ARRAY<SHORT> (uint8 stored widened — Spark has no
  * unsigned types), long result with pure integer accumulation. Matches the
  * reference's integer kernel semantics exactly (L2SqrI:
  * /root/reference/filter/hnsw/space_l2.h:376-413, int32 distances selected
  * at :415-430; AVX-512 VNNI variant filter/uint8_knn_file/uint8_knn.hpp:9-19)
  * so exact-oracle equality holds with no float rounding anywhere. */
case class VecL2SqInt(left: Expression, right: Expression) extends BinaryExpression {
  override def prettyName: String = "vec_l2sq_int"
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(ShortType, _) => true
      case _                       => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects two ARRAY<SHORT> inputs, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      val d = (a.getShort(i) - b.getShort(i)).toLong
      acc += d * d
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      s"""
         |final int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  final long $d = (long) $a.getShort($i) - (long) $b.getShort($i);
         |  $acc += $d * $d;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecL2SqInt =
    copy(left = newLeft, right = newRight)
}

/** Product-quantization ADC (asymmetric distance computation) kernel:
  * `left` is a per-QUERY lookup table flattened to ARRAY<DOUBLE> of size
  * m·ksub (entry j·ksub+c = the query's partial distance to centroid c of
  * subspace j), `right` is a row's PQ codes ARRAY<SHORT>; result =
  * Σ_j lut[j·ksub + codes[j]]. This is the table-gather loop every PQ
  * scanner runs per candidate (the faiss IVFPQ scan shape the reference's
  * baseline config builds on, /root/reference/filter/faiss/config.yaml:50-53
  * picks SQ8, PQ is its sibling); O(m) per pair instead of O(d), inside
  * whole-stage codegen. The LUT is computed once per query (narrow
  * projection), so scan cost is independent of vector dimension. */
case class PqAdcDist(left: Expression, right: Expression, ksub: Int)
    extends BinaryExpression {
  override def prettyName: String = "pq_adc_dist"
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(ShortType, _)) if ksub > 0 =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (ARRAY<DOUBLE> lut, ARRAY<SHORT> codes) and ksub > 0, got " +
          s"${left.dataType.simpleString}, ${right.dataType.simpleString}, ksub=$ksub")
    }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val lut = l.asInstanceOf[ArrayData]
    val codes = r.asInstanceOf[ArrayData]
    val m = codes.numElements()
    var acc = 0.0
    var j = 0
    while (j < m) {
      acc += lut.getDouble(j * ksub + codes.getShort(j))
      j += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (lut, codes) => {
      val m = ctx.freshName("m")
      val j = ctx.freshName("j")
      val acc = ctx.freshName("acc")
      s"""
         |final int $m = $codes.numElements();
         |double $acc = 0.0;
         |for (int $j = 0; $j < $m; $j++) {
         |  $acc += $lut.getDouble($j * $ksub + $codes.getShort($j));
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqAdcDist =
    copy(left = newLeft, right = newRight)
}

/** Sign binarization: ARRAY<FLOAT> → ARRAY<BIGINT> of packed sign bits
  * (bit i of word i/64 set iff x_i > 0) — the binary-hash vector form
  * (faiss IndexBinaryFlat's input contract; the sign-hash rows of the
  * hyperplane-LSH family already used by
  * [[graft.operators.Dedup.embedNearDups]]). 32× smaller than the float
  * row, one 64-d vector = ONE long. Runs once per row in a projection,
  * never in the join loop. */
case class VecSignPack(child: Expression) extends UnaryExpression {
  override def prettyName: String = "vec_sign_pack"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects ARRAY<FLOAT>, got ${other.simpleString}")
  }

  override def nullSafeEval(input: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      VecSignPack.pack(input.asInstanceOf[ArrayData].toFloatArray()))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"""${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.functions.VecSignPack.pack($a.toFloatArray()));""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): VecSignPack =
    copy(child = newChild)
}

object VecSignPack {
  /** The packing rule, shared by both eval paths and by client-side query
    * prep: bit i set iff `v(i) > 0f`, one long per 64 components. */
  def pack(v: Array[Float]): Array[Long] = {
    val w = new Array[Long]((v.length + 63) >>> 6)
    var i = 0
    while (i < v.length) {
      if (v(i) > 0.0f) w(i >>> 6) |= 1L << (i & 63)
      i += 1
    }
    w
  }
}

/** Hamming distance between packed sign codes (ARRAY<BIGINT> from
  * [[VecSignPack]]): Σ popcount(a_w ⊕ b_w), long result — pure integer,
  * oracle-exact. XOR+popcount is the entire per-pair kernel (one fused
  * instruction pair per 64 dims vs 64 FMAs on the float path), which is
  * why binary sign codes are the cheapest brute-scan serving tier. */
case class VecHamming(left: Expression, right: Expression) extends BinaryExpression {
  override def prettyName: String = "vec_hamming"
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(LongType, _) => true
      case _                      => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects two ARRAY<BIGINT> packed codes, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      acc += java.lang.Long.bitCount(a.getLong(i) ^ b.getLong(i))
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
         |final int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += java.lang.Long.bitCount($a.getLong($i) ^ $b.getLong($i));
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecHamming =
    copy(left = newLeft, right = newRight)
}

/** Column-level API for the vector kernels. */
object vectors {
  private def toCol(e: Expression): Column = GraftBridge.column(e)
  private def toExpr(c: Column): Expression = GraftBridge.expression(c)

  /** Squared L2 distance between two ARRAY<FLOAT> columns (double). */
  def vecL2Sq(a: Column, b: Column): Column = toCol(VecL2Sq(toExpr(a), toExpr(b)))

  /** Dot product of two ARRAY<FLOAT> columns (double). */
  def vecDot(a: Column, b: Column): Column = toCol(VecDot(toExpr(a), toExpr(b)))

  /** Squared L2 norm. Materialize at ingest for the `‖x‖²−2x·q` rewrite
    * (reference: filter/uint8_knn_file/uint8_knn.hpp:40-72). */
  def vecNorm2(a: Column): Column = vecDot(a, a)

  /** Integer squared L2 between two ARRAY<SHORT> columns (long) — the uint8
    * path of the reference, exact in integer arithmetic. */
  def vecL2SqInt(a: Column, b: Column): Column = toCol(VecL2SqInt(toExpr(a), toExpr(b)))

  /** Cosine similarity. The reference normalizes at ingest for its float path
    * (filter/hnsw/bindings.cpp:1114-1121); we compute it directly. */
  def vecCosine(a: Column, b: Column): Column =
    vecDot(a, b) / sqrt(vecNorm2(a) * vecNorm2(b))

  /** PQ ADC distance: per-query flattened LUT (ARRAY<DOUBLE>, stride ksub)
    * gathered by a row's codes (ARRAY<SHORT>) — O(m) per candidate. */
  def pqAdcDist(lut: Column, codes: Column, ksub: Int): Column =
    toCol(PqAdcDist(toExpr(lut), toExpr(codes), ksub))

  /** Sign-binarize ARRAY<FLOAT> into packed ARRAY<BIGINT> codes (bit set
    * iff the component is > 0). */
  def vecSignPack(a: Column): Column = toCol(VecSignPack(toExpr(a)))

  /** Hamming distance between two packed sign-code columns (long). */
  def vecHamming(a: Column, b: Column): Column =
    toCol(VecHamming(toExpr(a), toExpr(b)))
}
