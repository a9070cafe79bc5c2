package graft.tensor

/** C13 — the slice→slab assignment (SURVEY.md §2.11).
  *
  * Mode-1 slices X(i,:,:) are grouped into `numSlabs` slabs so that the
  * total nonzero count per slab is balanced even when slice sizes are
  * heavily skewed — the published PARAslice contribution for dense, skewed
  * tensors. Placement is greedy LPT (longest-processing-time): slices
  * sorted by descending nonzero count, each placed on the currently
  * lightest slab. LPT guarantees max-load ≤ 4/3 · optimal.
  *
  * Held in primitive arrays: the placed slice ids, sorted, beside their
  * slabs. Every other slice goes to slab `i % numSlabs`. [[CPALS.pack]]
  * places every slice while I fits the driver, and above that only the
  * heaviest slices, onto slabs preloaded with the other slices' per-slab
  * loads, so heavy slices compensate any imbalance of the hashed tail.
  * Skew lives in the head by definition, so the greedy bound (max ≤
  * start-max + ideal-share + largest placed) carries over —
  * property-checked in TensorSpec.
  */
private[graft] final class SlabAssignment private (
    placedIds: Array[Long], placedSlabs: Array[Int], numSlabs: Int) extends Serializable {
  def slabOf(i: Long): Int = {
    val p = java.util.Arrays.binarySearch(placedIds, i)
    if (p >= 0) placedSlabs(p) else (i % numSlabs).toInt
  }
}

private[graft] object SlabAssignment {

  /** Deterministic greedy LPT of the slices `placed` (id, weight) onto
    * slabs preloaded with `loads`, which it updates in place: heaviest
    * first, ties by slice id, each on the currently lightest slab (the
    * lowest-numbered among equals).
    */
  def lpt(placed: Seq[(Long, Long)], loads: Array[Long]): SlabAssignment = {
    val numSlabs = loads.length
    require(numSlabs > 0)
    val order = placed.toArray.sortWith { case ((i, w), (i2, w2)) => w > w2 || (w == w2 && i < i2) }
    val slabs = new Array[Int](order.length)
    var n = 0
    while (n < order.length) {
      var best = 0
      var s = 1
      while (s < numSlabs) { if (loads(s) < loads(best)) best = s; s += 1 }
      loads(best) += order(n)._2
      slabs(n) = best
      n += 1
    }
    val byId = order.indices.toArray.sortBy(n => order(n)._1)
    new SlabAssignment(byId.map(n => order(n)._1), byId.map(slabs), numSlabs)
  }
}
