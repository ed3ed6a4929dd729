package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.core.UnionFind

/** The min-root union-find shared by `Dedup`'s partition pre-pass and
  * one-task path and by `ClusterStream.foldBatch`'s in-memory solve. */
class UnionFindSpec extends AnyFunSuite {

  test("roots are the minimum id of each set, whatever the union order") {
    val uf = new UnionFind
    // a chain built from its large end, a star centered on a large id, a
    // self-loop and a lone node
    Seq((9L, 8L), (8L, 7L), (7L, 5L)).foreach { case (a, b) => uf.union(a, b) }
    (21L to 25L).foreach(uf.union(30L, _))
    uf.union(40L, 40L)
    uf.add(50L)
    assert(uf.labels.toMap === Map(5L -> 5L, 7L -> 5L, 8L -> 5L, 9L -> 5L,
      21L -> 21L, 22L -> 21L, 23L -> 21L, 24L -> 21L, 25L -> 21L,
      30L -> 21L, 40L -> 40L, 50L -> 50L))
    // bridging two sets relabels the larger one's members on find
    uf.union(25L, 9L)
    assert((Seq(5L, 9L, 21L, 30L).map(uf.find)).distinct === Seq(5L))
    // an id never added is its own root and is not a node
    assert(uf.find(99L) === 99L && !uf.labels.exists(_._1 == 99L))
  }

  test("labels equal a breadth-first component search on random graphs, " +
      "negative ids included") {
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 25) {
      val n = 1 + rnd.nextInt(60)
      val edges = Seq.fill(rnd.nextInt(80)) {
        (rnd.nextInt(n).toLong - n / 2, rnd.nextInt(n).toLong - n / 2)
      }
      val uf = new UnionFind
      edges.foreach { case (a, b) => uf.union(a, b) }
      val adj = (edges ++ edges.map(_.swap)).groupBy(_._1)
        .map { case (k, v) => k -> v.map(_._2) }
      val want = adj.keys.map { x =>
        var seen = Set(x); var frontier = List(x)
        while (frontier.nonEmpty) {
          val next = frontier.flatMap(adj(_)).filterNot(seen)
          seen ++= next; frontier = next.distinct
        }
        x -> seen.min
      }.toMap
      assert(uf.labels.toMap === want, edges)
    }
  }
}
