package graft

/** Driver-side connected-components reference for the graph specs:
  * union-find over collected edges. Returns node → the minimum node id
  * of its component, for the nodes of the non-self-loop edges (the
  * `GraphOps.connectedComponentsStar` contract). */
object UnionFind {
  def components(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    // union by minimum root: every root stays its set's minimum id
    for ((a, b) <- edges if a != b) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.toList.map(n => n -> find(n)).toMap
  }
}
