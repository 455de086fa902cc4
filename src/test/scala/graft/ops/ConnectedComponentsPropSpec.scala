package graft.ops

import graft.SparkSpec

/** Property: the distributed min-label propagation agrees with a driver-side
  * union-find on arbitrary small graphs — chains, stars, cliques, forests,
  * self-contained cycles, whatever the seeded generator produces. The oracle
  * query (x21) checks one concrete graph; this covers the shape space. */
class ConnectedComponentsPropSpec extends SparkSpec {

  /** Reference union-find: component = min node id. */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    def union(a: Long, b: Long): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    edges.foreach { case (a, b) => union(a, b) }
    edges.flatMap(e => Seq(e._1, e._2)).distinct.map(n => n -> find(n)).toMap
  }

  test("min-label propagation == union-find on 25 seeded random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260812L)
    val random = (1 to 25).map { _ =>
      val n = 2 + rnd.nextInt(23)  // node universe
      val m = 1 + rnd.nextInt(30)  // edge attempts
      (1 to m).flatMap { _ =>
        val a = rnd.nextInt(n).toLong
        val b = rnd.nextInt(n).toLong
        if (a == b) None else Some((math.min(a, b), math.max(a, b)))
      }.distinct
    }
    // A star through a LARGER hub plus a reversed duplicate edge: labels
    // must flow down through 9 to 2, and (9, 1) must not double-count.
    val messy = Seq((1L, 9L), (2L, 9L), (9L, 1L), (20L, 21L))
    for ((edges, trial) <- (random :+ messy).zipWithIndex if edges.nonEmpty) {
      val expected = unionFind(edges)
      val got = Dedup.connectedComponents(edges.toDF("id1", "id2"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      graft.util.PersistScope.releaseAll()
      assert(got == expected, s"trial $trial (edges=$edges)")
    }
  }

  test("deep chain converges within the iteration cap (pointer jumping)") {
    import spark.implicits._
    // a 40-node path has diameter 39: plain neighbor propagation moves the
    // min ONE hop per round and silently truncated chains like this at the
    // cap (the bug this spec caught); pointer jumping covers 2^15 diameter
    val chain = (0L until 39L).map(i => (i, i + 1))
    val got = Dedup.connectedComponents(chain.toDF("id1", "id2"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    graft.util.PersistScope.releaseAll()
    assert(got == (0L to 39L).map(_ -> 0L).toMap)
  }
}
