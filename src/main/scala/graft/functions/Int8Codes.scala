package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** Native Catalyst expression for symmetric per-vector int8
  * quantization (`int8_codes(array<double>) -> array<int>`): codes
  * `round(v / (max|v| / 127))`, all-zero when the max is 0 or any
  * element is NaN — exactly [[graft.ext.Similarity.int8Quant]]'s
  * arithmetic (scale NULL -> zero codes), as one fused two-pass
  * codegen loop.
  *
  * Why it exists: the composed `transform(emb, v -> ... scale ...)`
  * form re-inlines the `scale` alias into the per-element lambda after
  * projection collapse, so `array_max(transform(emb, abs))` is
  * re-evaluated for EVERY element — O(dim²) interpreted work per row
  * (measured: the quantized ANN scan spent ~20s of its 23.7s
  * wall at ×10 replication quantizing 20k vectors of dim 64). The scan
  * stage of the quantized tier must be a codegen loop, or the
  * bandwidth saving it exists for is drowned by evaluation overhead.
  *
  * Null ELEMENTS quantize to 0 (testdata has none; the whole-array
  * null case follows the usual null-propagation).
  */
case class Int8Codes(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "int8_codes"

  override def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val n = a.numElements()
    var mx = 0.0; var nan = false
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i)) {
        val av = math.abs(a.getDouble(i))
        if (java.lang.Double.isNaN(av)) nan = true
        else if (av > mx) mx = av
      }
      i += 1
    }
    val out = new Array[Int](n)
    if (!nan && mx > 0) {
      val scale = mx / 127.0
      i = 0
      while (i < n) {
        if (!a.isNullAt(i))
          out(i) = math.floor(a.getDouble(i) / scale + 0.5).toInt
        i += 1
      }
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val mx = ctx.freshName("mx"); val nan = ctx.freshName("nan")
      val av = ctx.freshName("av"); val out = ctx.freshName("out")
      val scale = ctx.freshName("scale")
      s"""
         |int $n = $a.numElements();
         |double $mx = 0.0; boolean $nan = false;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i)) {
         |    double $av = java.lang.Math.abs($a.getDouble($i));
         |    if (java.lang.Double.isNaN($av)) $nan = true;
         |    else if ($av > $mx) $mx = $av;
         |  }
         |}
         |int[] $out = new int[$n];
         |if (!$nan && $mx > 0) {
         |  double $scale = $mx / 127.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if (!$a.isNullAt($i))
         |      $out[$i] = (int) java.lang.Math.floor($a.getDouble($i) / $scale + 0.5);
         |  }
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
         |  .fromPrimitiveArray($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Int8Codes {
  def builder(exprs: Seq[Expression]): Expression = {
    FnArgs.arity("int8_codes", exprs, Seq(1))
    Int8Codes(Cast(exprs(0), ArrayType(DoubleType)))
  }

  def int8_codes(a: Column): Column = call_function("int8_codes", a)
}
