package graft.functions

import org.apache.spark.util.sketch.CountMinSketch

/** Merges serialized Count-Min sketches (the binary output of Spark's
  * `count_min_sketch` aggregate). CMS merge is EXACT: same (depth, width,
  * seed) sketches merge by cell-wise counter addition, so a merge of
  * per-group sketches is bit-equivalent to one global sketch over the
  * union of their inputs — the property Round11OpsSpec asserts. Each
  * buffer is the ~KB sketch; `count_min_sketch` never emits the empty
  * identity for a non-empty group. */
object CmsMergeAgg extends SketchMergeAgg {

  protected def mergeNonEmpty(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    val s = CountMinSketch.readFrom(a)
    s.mergeInPlace(CountMinSketch.readFrom(b))
    s.toByteArray
  }
}
