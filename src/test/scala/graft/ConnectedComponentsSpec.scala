package graft

import graft.cluster.ConnectedComponents
import graft.util.PersistScope

class ConnectedComponentsSpec extends SparkSpec {
  import spark.implicits._

  private def cc(verts: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val v = verts.toDF("file_id")
    val e = edges.toDF("a", "b")
    PersistScope.using(s => ConnectedComponents.run(v, e, s).as[(Long, Long)].collect().toMap)
  }

  test("two components + singleton") {
    val got = cc(Seq(1L, 2L, 3L, 4L, 5L, 9L), Seq((1L, 2L), (2L, 3L), (4L, 5L)))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 9L -> 9L))
  }

  test("long chain converges to the min id") {
    val n = 20L
    val verts = (1L to n)
    val edges = (1L until n).map(i => (i, i + 1))
    val got = cc(verts, edges)
    assert(got.values.toSet == Set(1L) && got.size == n)
  }

  test("edge orientation is irrelevant") {
    val got = cc(Seq(1L, 2L, 3L), Seq((3L, 1L), (2L, 3L)))
    assert(got.values.toSet == Set(1L))
  }

  test("adversarial 600-node chain: correct labels in logarithmic rounds") {
    // diameter-599 component — hash-min label propagation needs 599 rounds
    // (and at any round cap below that silently returns WRONG labels);
    // alternating star must converge in O(log^2 n)
    val n = 600L
    val verts = (1L to n).toDF("file_id")
    val edges = (1L until n).map(i => (i, i + 1)).toDF("a", "b")
    val r = ConnectedComponents.runWithStats(verts, edges)
    info(s"600-chain converged in ${r.rounds} alternating-star rounds")
    assert(r.converged)
    assert(r.rounds <= 12, s"not logarithmic: ${r.rounds} rounds")
    val got = r.labels.as[(Long, Long)].collect().toMap
    assert(got.size == n && got.values.toSet == Set(1L))
  }

  test("maxIter exhaustion is DETECTABLE, and partial labels stay one-per-vertex") {
    // a too-small round cap must be visible programmatically: run() throws
    // unless the caller opts into partial results (a silent partial label
    // set poisons every downstream cluster expansion)
    val n = 64L
    val verts = (1L to n).toDF("file_id")
    val edges = (1L until n).map(i => (i, i + 1)).toDF("a", "b")
    intercept[IllegalStateException] {
      PersistScope.using(s => ConnectedComponents.run(verts, edges, s, maxIter = 1))
    }
    val r = ConnectedComponents.runWithStats(verts, edges, maxIter = 1)
    assert(!r.converged && r.rounds == 1)
    // opted-in partial labels never duplicate conflicting rows per vertex —
    // downstream cluster expansions would silently double-count members
    val labels = PersistScope.using(s => ConnectedComponents.run(verts, edges, s,
      maxIter = 1, allowPartial = true).as[(Long, Long)].collect())
    assert(labels.length == n, s"expected $n rows, got ${labels.length}")
    assert(labels.map(_._1).distinct.length == n)
  }

  test("iteration checkpoints are freed as rounds supersede them") {
    // Every alternating-star round eagerly localCheckpoints the new edge
    // set; the blocks of superseded rounds must be RELEASED, or an N-round
    // run retains N x O(E) dead storage for the rest of the session (the
    // round-5 session-aging regression: clusters 39.8 s fresh -> 107.3 s
    // after earlier runs starved execution memory). Only the final round's
    // frame may stay live — the returned labels plan reads it.
    graft.util.Blocks.sweep(spark)
    val n = 600L
    val verts = (1L to n).toDF("file_id")
    val edges = (1L until n).map(i => (i, i + 1)).toDF("a", "b")
    val r = ConnectedComponents.runWithStats(verts, edges)
    assert(r.converged && r.rounds >= 5, s"want a multi-round run, got ${r.rounds}")
    r.labels.count()
    val retained = spark.sparkContext.getPersistentRDDs.size
    assert(retained <= 1,
      s"$retained persisted RDDs after a ${r.rounds}-round CC run — " +
        "superseded iteration checkpoints are leaking")
    graft.util.Blocks.sweep(spark)
  }

  test("random graph matches a union-find oracle") {
    // deterministic pseudo-random graph: 400 nodes, 300 edges
    val n = 400
    val edges = (0 until 300).map { i =>
      val a = (i * 2654435761L) % n
      val b = (i * 40503L + 7) % n
      (math.min(a, b), math.max(a, b))
    }.filter { case (a, b) => a != b }
    // union-find oracle
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = (0 until n).map(i => i.toLong -> find(i).toLong).toMap
    val got = cc((0L until n.toLong), edges)
    assert(got == want)
  }
}
