package graft

import graft.canon.UnionFind
import org.scalatest.funsuite.AnyFunSuite

/** The driver union-find shared by the CC small-graph solve and the
  * dynamic-canon driver replay: deep chains and edge-order
  * independence. No Spark. */
class UnionFindSpec extends AnyFunSuite {

  // zero-padded ids: lexicographic order == numeric order
  private def id(i: Int) = f"n$i%07d"

  test("a 200k-edge path chain given leaf-first solves without stack overflow") {
    val n = 200000
    // (n-1, n), (n-2, n-1), ...: every union hangs the previous root
    // under a smaller one, so the parent chain grows to n deep
    val edges = (n - 1 to 0 by -1).iterator.map(i => (id(i), id(i + 1)))
    val label = UnionFind.minLabels(edges)
    assert(label.size == n + 1)
    assert(label.valuesIterator.forall(_ == id(0)),
      "every node of the chain must be labeled with its min member")
  }

  test("labels are independent of edge order and equal the min member") {
    val rnd = new scala.util.Random(7)
    // 40 components of random trees over 2000 nodes
    val comp = (0 until 2000).map(i => i -> rnd.nextInt(40)).toMap
    val byComp = comp.toSeq.groupBy(_._2).values.map(_.map(_._1).sorted)
    val edges = byComp.toSeq.flatMap { ms =>
      ms.indices.drop(1).map(k => (id(ms(rnd.nextInt(k))), id(ms(k))))
    }
    // a singleton component has no edge, so no label
    val want = byComp.filter(_.size > 1)
      .flatMap(ms => ms.map(m => id(m) -> id(ms.head))).toMap
    val a = UnionFind.minLabels(edges.iterator)
    val b = UnionFind.minLabels(rnd.shuffle(edges).iterator)
    val c = UnionFind.minLabels(edges.reverseIterator.map(_.swap))
    assert(a.toMap == want)
    assert(b.toMap == want && c.toMap == want)
  }
}
