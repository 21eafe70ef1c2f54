package graft.functions

import org.apache.spark.sql.{Encoder, TypedColumn}
import org.apache.spark.sql.expressions.Aggregator

/** Per-group MinHash sketch union as a typed Aggregator: merges row-level
  * signatures elementwise-min into one signature per group. q56 once ran
  * this shape; it now runs the codegen'd posexplode min-fold
  * (`StreamingBatchQueries.sketchUnionMinFold`), and this formulation is
  * kept only as R22OptimizationSpec's parity oracle for that fold.
  */
object MinHashUnion extends Aggregator[Seq[Long], Array[Long], Seq[Long]] {

  override def zero: Array[Long] = Array.empty

  override def reduce(buf: Array[Long], sig: Seq[Long]): Array[Long] =
    if (buf.isEmpty) sig.toArray
    else {
      var i = 0
      while (i < buf.length && i < sig.length) { if (sig(i) < buf(i)) buf(i) = sig(i); i += 1 }
      buf
    }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] =
    if (a.isEmpty) b
    else if (b.isEmpty) a
    else {
      var i = 0
      while (i < a.length && i < b.length) { if (b(i) < a(i)) a(i) = b(i); i += 1 }
      a
    }

  override def finish(buf: Array[Long]): Seq[Long] = buf.toSeq

  override def bufferEncoder: Encoder[Array[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  override def outputEncoder: Encoder[Seq[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()

  /** Column form for DataFrame `.agg(...)`. */
  def column: TypedColumn[Seq[Long], Seq[Long]] = MinHashUnion.toColumn
}
