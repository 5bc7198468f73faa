package graft.functions

import org.apache.datasketches.memory.Memory
import org.apache.datasketches.theta.{SetOperation, Sketches}

/** Unions serialized Datasketches THETA sketches (compact form). Theta is
  * the distinct-count sketch family with a full SET ALGEBRA — union
  * (here), intersection, and A-NOT-B — which HLL fundamentally lacks (HLL
  * unions only); that algebra is what makes cross-segment overlap
  * questions answerable from per-segment sketches at 100 TB. Inputs are
  * per-partition compact sketches (built in one mapPartitions pass — the
  * union never sees raw rows), so this merge runs over sketch-count
  * cardinality, not row cardinality. */
object ThetaUnionAgg extends SketchMergeAgg {

  protected def mergeNonEmpty(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    val u = SetOperation.builder().buildUnion()
    u.union(Memory.wrap(a))
    u.union(Memory.wrap(b))
    u.getResult.toByteArray
  }

  /** Estimate helper for consumers of the merged bytes. */
  def estimate(bytes: Array[Byte]): Double =
    if (bytes == null || bytes.isEmpty) 0.0
    else Sketches.heapifyCompactSketch(Memory.wrap(bytes)).getEstimate
}
