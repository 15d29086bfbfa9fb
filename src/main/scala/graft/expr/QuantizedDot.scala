package graft.expr

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/** Quantized integer dot product of two float vectors as a NATIVE Catalyst
  * expression: `qdot(a, b) = Σ floor(a_i*1000 + 0.5) * floor(b_i*1000 + 0.5)`.
  *
  * Same cross-engine-deterministic semantics as `Exprs.qdot` (the
  * higher-order-function formulation mirrored in DuckDB), but with
  * `doGenCode`: the whole-stage-codegen'd loop reads the Tungsten array
  * buffers directly — no per-element boxing, no lambda dispatch — which is
  * the preference order the engine follows for custom scalar work: native
  * Expression > composed built-ins > UDF.
  *
  * Deterministic parity note: float→double widening is exact, products of
  * quantized values (|q| ≤ ~131k for |x| ≤ 131) stay far below 2^63 for
  * any realistic dimensionality, and integer addition is associative — the
  * result is bit-identical to the DuckDB oracle formula regardless of
  * evaluation order.
  */
case class QuantizedDot(left: Expression, right: Expression)
    extends BinaryExpression {

  // ExpectsInputTypes is off-limits outside org.apache.spark.sql
  // (AbstractDataType is private[sql]) — check array inputs manually.
  // Each side may independently be array<float> (stored embeddings) or
  // array<double> (derived vectors, e.g. trained k-means centroids —
  // float→double widening is exact, so the quantization agrees).
  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects two array<float|double> arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_qdot"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): QuantizedDot =
    copy(left = newLeft, right = newRight)

  @inline private def q(d: Double): Long =
    math.floor(d * 1000.0 + 0.5).toLong

  private def isDoubleArr(dt: DataType): Boolean = dt match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val ld = isDoubleArr(left.dataType); val rd = isDoubleArr(right.dataType)
    val n = math.min(x.numElements(), y.numElements())
    var s = 0L
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i)) {
        val xv = if (ld) x.getDouble(i) else x.getFloat(i).toDouble
        val yv = if (rd) y.getDouble(i) else y.getFloat(i).toDouble
        s += q(xv) * q(yv)
      }
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      // element type is static per side — emit the matching accessor
      def get(arr: String, double: Boolean) =
        if (double) s"$arr.getDouble($i)" else s"((double) $arr.getFloat($i))"
      val av = get(a, isDoubleArr(left.dataType))
      val bv = get(b, isDoubleArr(right.dataType))
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $s = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && !$b.isNullAt($i)) {
         |    $s += (long) java.lang.Math.floor($av * 1000.0 + 0.5)
         |        * (long) java.lang.Math.floor($bv * 1000.0 + 0.5);
         |  }
         |}
         |${ev.value} = $s;
       """.stripMargin
    })
}

object GraftFunctions {
  val QDotName = "graft_qdot"
  val QCosName = "graft_qcos"
  val LCosName = "graft_lcos"
  val ISqName = "graft_isq"
  val FSqName = "graft_fsq"
  val BloomAggName = "graft_bloom_agg"
  val MightContainName = "graft_might_contain"
  val MinHashName = "graft_minhash"

  /** The catalog of graft-registered functions: SQL name → (impl class for
    * ExpressionInfo, builder). `graft_bloom_agg(xxhash64(keys), n)` and
    * `graft_might_contain(bloom, xxhash64(keys))` reuse Spark's own
    * runtime-filter expression pair — building and probing through the
    * SAME hash pipeline, so the pre-filter can never produce a false
    * negative (see [[graft.ops.BloomJoin]]).
    */
  private[graft] def entries: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    (QDotName, classOf[QuantizedDot], { children: Seq[Expression] =>
      require(children.length == 2, s"$QDotName expects 2 arguments")
      QuantizedDot(children.head, children(1))
    }),
    (QCosName, classOf[QuantizedCos], { children: Seq[Expression] =>
      require(children.length == 2, s"$QCosName expects 2 arguments")
      QuantizedCos(children.head, children(1))
    }),
    (LCosName, classOf[LongArrayCos], { children: Seq[Expression] =>
      require(children.length == 2, s"$LCosName expects 2 arguments")
      LongArrayCos(children.head, children(1))
    }),
    (ISqName, classOf[QuantizedSliceL2], { children: Seq[Expression] =>
      QuantizedSliceL2(children)
    }),
    (FSqName, classOf[QuantizedFloatL2], { children: Seq[Expression] =>
      QuantizedFloatL2(children)
    }),
    (MinHashName, classOf[MinHashSig], { children: Seq[Expression] =>
      require(children.length == 1, s"$MinHashName expects 1 argument")
      MinHashSig(children.head)
    }),
    (BloomAggName,
      classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate],
      { children: Seq[Expression] =>
        require(children.length == 2, s"$BloomAggName expects (value, estimatedItems)")
        // SQL integer literals arrive as INT; the aggregate demands BIGINT
        new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
          children.head,
          org.apache.spark.sql.catalyst.expressions.Cast(children(1), LongType))
      }),
    (MightContainName,
      classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain],
      { children: Seq[Expression] =>
        require(children.length == 2, s"$MightContainName expects (bloom, value)")
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
          children.head, children(1))
      }))

  /** The single per-session install of everything graft adds to Spark:
    * the SQL functions above, the [[graft.plans.GraftStrategies]] planner
    * strategy and the [[graft.plans.PushFilterThroughAsof]] optimizer rule.
    * Idempotent. Called at the catalog boundary ([[graft.ops.Catalog]]) and
    * by the public APIs used outside it.
    */
  def register(spark: SparkSession): Unit = {
    entries.foreach { case (name, cls, builder) =>
      if (!spark.catalog.functionExists(name))
        spark.sessionState.functionRegistry.registerFunction(
          FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), builder)
    }
    val ex = spark.experimental
    if (!ex.extraStrategies.contains(graft.plans.GraftStrategies))
      ex.extraStrategies = ex.extraStrategies :+ graft.plans.GraftStrategies
    if (!ex.extraOptimizations.contains(graft.plans.PushFilterThroughAsof))
      ex.extraOptimizations = ex.extraOptimizations :+ graft.plans.PushFilterThroughAsof
  }
}
