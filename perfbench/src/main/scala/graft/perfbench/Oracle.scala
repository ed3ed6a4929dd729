package graft.perfbench

import scala.collection.mutable

/** Driver-side reference answers the engine's outputs are checked
  * against: plain union-find over a collected pair list, independent of
  * the engine's distributed connected-components code. */
object Oracle {
  /** Cluster state over `nodes`: every node's label is the minimum id of
    * its connected component in `pairs`; every label's canonical is the
    * member with the highest score, ties to the smaller id. Returns
    * (id -> label, label -> (canonical, member count)). */
  def clusters(nodes: Iterable[Long], pairs: Iterable[(Long, Long)],
      score: Long => Double): (Map[Long, Long], Map[Long, (Long, Long)]) = {
    val parent = mutable.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var y = x
      while (parent(y) != r) { val n = parent(y); parent(y) = r; y = n }
      r
    }
    nodes.foreach(n => parent(n) = n)
    pairs.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    // the union keeps the smaller root, so every root is its component's
    // minimum id
    val label = nodes.iterator.map(n => n -> find(n)).toMap
    val canon = label.groupBy(_._2).map { case (cid, members) =>
      val keep = members.keys.maxBy(id => (score(id), -id))
      cid -> (keep, members.size.toLong)
    }
    (label, canon)
  }

  /** Win/Lose counts of the first `rows` rolls of the reference's dice
    * stream, folded on the driver: roll = ((i * 48271 + 11) mod
    * 2147483647) mod 6 + 1 for i = 0, 1, ..., and a 3 wins. */
  def dice(rows: Long): Map[String, Long] = {
    var win = 0L
    var i = 0L
    while (i < rows) {
      if ((i * 48271L + 11L) % 2147483647L % 6L + 1L == 3L) win += 1
      i += 1
    }
    Map("Win" -> win, "Lose" -> (rows - win))
  }

  /** Order-independent digest of result rows. */
  def digest(lines: Iterable[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.toSeq.sorted.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().take(8).map(b => f"${b & 0xff}%02x").mkString
  }
}
