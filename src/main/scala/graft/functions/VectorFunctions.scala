package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Dense-vector math over `array<float|double>` columns, built from Spark's
  * higher-order array functions (no UDFs — stays inside Catalyst, null-safe,
  * and distributable). Inputs are cast element-wise to double first so results
  * are bit-comparable with a double-precision oracle.
  */
object VectorFunctions {

  /** Element-wise widen to double (float widens exactly). */
  def toDouble(a: Column): Column = transform(a, x => x.cast("double"))

  /** Dot product: sum_i a_i * b_i, sequential left-to-right accumulation. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  /** L2 norm. */
  def l2Norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0), (acc, v) => acc + v * v))

  /** Cosine similarity in double precision. */
  def cosine(a: Column, b: Column): Column = {
    val ad = toDouble(a)
    val bd = toDouble(b)
    dot(ad, bd) / (l2Norm(ad) * l2Norm(bd))
  }

  /** Squared euclidean distance. */
  def sqDist(a: Column, b: Column): Column =
    aggregate(zip_with(toDouble(a), toDouble(b), (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, v) => acc + v)

  /** Element-wise mean of an array column within a group is expressed by the
    * caller as posexplode + groupBy(pos) + avg — see Llm.q_label_centroids —
    * because that shape keeps the aggregation distributed (no driver collect)
    * and skew-free (one reducer key per (group, dim)).
    */
}
