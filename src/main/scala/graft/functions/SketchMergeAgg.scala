package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Typed Aggregator folding serialized sketches of one family into one.
  * Distributive (reduce == merge), so Spark runs it partial-aggregate
  * style and each buffer is one sketch, never the raw rows. A null or
  * empty array is the identity; a subclass supplies only the merge of two
  * non-empty sketches. */
abstract class SketchMergeAgg extends Aggregator[Array[Byte], Array[Byte], Array[Byte]] {

  protected def mergeNonEmpty(a: Array[Byte], b: Array[Byte]): Array[Byte]

  private def mergeBytes(a: Array[Byte], b: Array[Byte]): Array[Byte] =
    if (a == null || a.isEmpty) b
    else if (b == null || b.isEmpty) a
    else mergeNonEmpty(a, b)

  def zero: Array[Byte] = Array.empty
  def reduce(buf: Array[Byte], in: Array[Byte]): Array[Byte] = mergeBytes(buf, in)
  def merge(b1: Array[Byte], b2: Array[Byte]): Array[Byte] = mergeBytes(b1, b2)
  def finish(r: Array[Byte]): Array[Byte] = r
  def bufferEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
}
