package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** k-permutation MinHash signature over a hashed-shingle array in ONE
  * codegen'd pass: sig[i] = min over shingles of (h·aᵢ + bᵢ), over an
  * odd-multiplier affine family — the k `array_min(transform(...))`
  * formulation walks the array k times through interpreted lambdas;
  * this walks it once.
  */
case class MinHash64(child: Expression, k: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash64"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    // containsNull inputs are rejected: the eval/codegen loops read
    // elements with getLong and would silently treat a null slot as 0,
    // corrupting the signature. Callers filter nulls first.
    case ArrayType(LongType, false) => TypeCheckResult.TypeCheckSuccess
    case ArrayType(LongType, true) => TypeCheckResult.TypeCheckFailure(
      "minhash64 requires array<bigint> with non-null elements — apply array_compact " +
        "first (filter() keeps containsNull=true and would be rejected again)")
    case t => TypeCheckResult.TypeCheckFailure(s"minhash64 requires array<bigint>, got $t")
  }

  private def aCoef(i: Int): Long = 0x9E3779B97F4A7C15L * (2 * i + 1)
  private def bCoef(i: Int): Long = 0xC2B2AE3D27D4EB4FL * (i + 1)

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val sig = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < arr.numElements()) {
      val h = arr.getLong(i)
      var j = 0
      while (j < k) {
        val v = h * aCoef(j) + bCoef(j)
        if (v < sig(j)) sig(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val sig = ctx.freshName("sig")
      val as = ctx.freshName("as")
      val bs = ctx.freshName("bs")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val h = ctx.freshName("h")
      val v = ctx.freshName("v")
      val aInit = (0 until k).map(i => s"${aCoef(i)}L").mkString(", ")
      val bInit = (0 until k).map(i => s"${bCoef(i)}L").mkString(", ")
      s"""
         |long[] $sig = new long[$k];
         |java.util.Arrays.fill($sig, Long.MAX_VALUE);
         |final long[] $as = new long[] { $aInit };
         |final long[] $bs = new long[] { $bInit };
         |for (int $i = 0; $i < $a.numElements(); $i++) {
         |  long $h = $a.getLong($i);
         |  for (int $j = 0; $j < $k; $j++) {
         |    long $v = $h * $as[$j] + $bs[$j];
         |    if ($v < $sig[$j]) $sig[$j] = $v;
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($sig);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): MinHash64 =
    copy(child = newChild)
}

object MinHash64 {
  def minhash64(hashes: Column, k: Int): Column =
    ColumnBridge.column(MinHash64(ColumnBridge.expression(hashes), k))
}
