package graft.core

import scala.collection.mutable.LongMap

/** In-memory union-find over long ids whose root is always the MINIMUM id
  * of its set — the label contract of every graft connectivity kernel
  * (`cid = min member id`), so `find` returns the final component label
  * with no relabeling pass. Path compression on `find`; union links the
  * larger root under the smaller one. State is ~16 bytes per node, so
  * callers bound the node count themselves: [[graft.operators.Dedup]]'s
  * partition pre-pass and one-task path by the 4M-edge loop budget,
  * [[graft.streaming.ClusterStream.foldBatch]] by the batch's pair delta.
  * Not thread-safe (one instance per task or per call). */
private[graft] final class UnionFind {
  private val parent = LongMap.empty[Long]

  /** Register `x` as a node (a singleton until a union reaches it). */
  def add(x: Long): Unit = if (!parent.contains(x)) parent.update(x, x)

  /** The minimum id of `x`'s set; an id never added is its own root. */
  def find(x: Long): Long = {
    var r = x
    while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
    var c = x
    while (c != r) { val n = parent.getOrElse(c, c); parent.update(c, r); c = n }
    r
  }

  /** Merge the sets of `a` and `b` (adding either if new). */
  def union(a: Long, b: Long): Unit = {
    add(a); add(b)
    val ra = find(a); val rb = find(b)
    if (ra < rb) parent.update(rb, ra)
    else if (rb < ra) parent.update(ra, rb)
  }

  /** Every node with its label, roots included. The node set is
    * snapshotted first: `find` compresses paths while this iterates. */
  def labels: Iterator[(Long, Long)] =
    parent.keysIterator.toArray.iterator.map(x => (x, find(x)))
}
