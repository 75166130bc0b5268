package graft.graph

/** Driver-side union-find with path compression — the small-side leg of
  * the documented size-adaptive connectivity pattern ("the check is not
  * the operator"): when an edge set is under a few million rows it is
  * far cheaper to pull it to the driver and label components in
  * microseconds than to run the iterative distributed CC dataflow whose
  * every round is a shuffle. Callers gate on a row-count threshold and
  * fall back to [[Algorithms.connectedComponents]] above it.
  *
  * Roots are the MIN member id (larger roots are parented to smaller),
  * matching the distributed CC's labelling exactly — the two legs are
  * interchangeable row-for-row.
  */
final class UnionFind {
  private val parent = scala.collection.mutable.LongMap.empty[Long]

  /** The root (least member) of `x`'s set; an unseen id is its own set.
    * Iterative, so a long chain cannot overflow the stack. */
  def find(x: Long): Long = {
    var r = x
    while (parent.getOrElse(r, r) != r) r = parent(r)
    var c = x // path compression
    while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
    r
  }

  /** Merge the sets of `a` and `b`; false when they were already one. */
  def union(a: Long, b: Long): Boolean = {
    val (ra, rb) = (find(a), find(b))
    if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    ra != rb
  }
}

object UnionFind {

  /** (node, min-member-of-its-component) for every node incident to an
    * edge. Nodes not appearing in `edges` are absent (callers coalesce
    * singletons to their own id). */
  def componentsLocal(edges: Array[(Long, Long)]): Array[(Long, Long)] = {
    val uf = new UnionFind
    edges.foreach { case (a, b) => uf.union(a, b) }
    val ids = edges.flatMap(e => Seq(e._1, e._2)).distinct
    ids.map(id => (id, uf.find(id)))
  }
}
