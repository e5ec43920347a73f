package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** LSH band keys straight from the hashed-shingle array in ONE pass:
  * the k-slot MinHash signature (same affine family as [[MinHash64]])
  * followed by one chained hash per r-slot band.
  *
  * Exists because composing a [[MinHash64]] signature + per-band key
  * expressions through a projection lets Catalyst's project-collapse
  * inline the signature into EVERY band expression — the k×|shingles|
  * signature pass re-runs `bands` times per row (measured 12× at
  * k=48/b=16, exactly the inflation factor). Fusing signature and
  * banding into one expression makes that collapse impossible and
  * drops the per-row work back to k×|shingles| + bands×r.
  *
  * Band keys: equal r-slot slices hash equal; unequal slices collide
  * with ~2⁻⁶⁴ probability — the same bucket semantics as hashing the
  * slice's string form, minus the string building.
  */
case class MinHashBands(child: Expression, k: Int, bands: Int) extends UnaryExpression {
  require(bands >= 1 && k % bands == 0, s"bands ($bands) must divide k ($k)")
  private val r = k / bands

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_bands"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, false) => TypeCheckResult.TypeCheckSuccess
    case ArrayType(LongType, true) => TypeCheckResult.TypeCheckFailure(
      "minhash_bands requires array<bigint> with non-null elements")
    case t => TypeCheckResult.TypeCheckFailure(s"minhash_bands requires array<bigint>, got $t")
  }

  private def aCoef(i: Int): Long = 0x9E3779B97F4A7C15L * (2 * i + 1)
  private def bCoef(i: Int): Long = 0xC2B2AE3D27D4EB4FL * (i + 1)

  def compute(arr: ArrayData): ArrayData = {
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
    val keys = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = XXH64.hashLong(b.toLong, 42L)
      var j = 0
      while (j < r) { h = XXH64.hashLong(sig(b * r + j), h); j += 1 }
      keys(b) = h
      b += 1
    }
    new GenericArrayData(keys)
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("minhashBands", this, classOf[MinHashBands].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.compute($a);")
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashBands =
    copy(child = newChild)
}

object MinHashBands {
  def minhashBands(hashes: Column, k: Int, bands: Int): Column =
    ColumnBridge.column(MinHashBands(ColumnBridge.expression(hashes), k, bands))
}
