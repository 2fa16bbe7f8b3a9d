package graft

/** Independent oracle for `Dedup.connectedComponents`: classic union-find
  * on the driver. Every node is labeled by the minimum id of its
  * component; every edge endpoint must be one of `nodes`.
  */
object UnionFindOracle {

  def components(nodes: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = parent.getOrElseUpdate(x, x)
      while (parent(r) != r) r = parent(r)
      r
    }
    // a root always points at the smaller root, so each root is its
    // component's minimum
    for ((a, b) <- edges) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    nodes.map(x => x -> find(x)).toMap
  }
}
