package graft.canon

import scala.collection.mutable

/** THE driver-side union-find: the small-graph solve of
  * [[ConnectedComponents]] and the driver replay in
  * `Pipeline.dynamicCanonMapGated` both label components here, with the
  * same labeling the distributed star rounds converge to (component =
  * lexicographic min member). `Vocab.canonicalOf` keeps its own copy on
  * purpose: it is the independent reference the gold corpus and the
  * canon specs compare against. */
private[graft] object UnionFind {

  /** node -> min member of its component, for every node of `edges`
    * (nodes that appear in no edge get no entry). The result is
    * independent of edge order.
    *
    * Union is min-ward (the smaller root becomes the parent), so every
    * root IS its component's min member. There is no rank, so an
    * unluckily ordered edge set (a path given leaf-first) builds a
    * parent chain as deep as the edge count: `find` is ITERATIVE (walk
    * to the root, second pass compresses) — a recursive find would
    * overflow the driver stack on its first walk. */
  def minLabels(edges: Iterator[(String, String)]): collection.Map[String, String] = {
    val parent = mutable.HashMap[String, String]()
    def find(x: String): String = {
      var r = parent.getOrElseUpdate(x, x)
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val next = parent(c); parent(c) = r; c = next }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    // keys materialized first: find path-compresses `parent`, and
    // mutating a map while iterating it is undefined
    val nodes = parent.keys.toArray
    val label = mutable.HashMap[String, String]()
    nodes.foreach(n => label(n) = find(n))
    label
  }
}
