package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Reference forms the fused LSH keying in [[Similarity]] is checked
  * against. */
object LshReference {

  /** Random-hyperplane LSH bucket key for one hash table: `nBits` sign
    * bits of dot products against the same literal hyperplanes
    * [[Similarity]] derives, or-reduced per table. `nBits = 0` is the
    * degenerate-but-legal 2⁰ = 1 bucket per table — full coverage. */
  def lshKey(vec: Column, nBits: Int, table: Int, dim: Int): Column = {
    if (nBits == 0) return lit(0L)
    val bits = (0 until nBits).map { b =>
      val plane = Array.tabulate(dim)(i => Similarity.planeComponent(table, b, i))
      when(Similarity.dot(vec, typedlit(plane)) >= 0, shiftleft(lit(1L), b)).otherwise(0L)
    }
    bits.reduce((a, b) => a.bitwiseOR(b))
  }
}
