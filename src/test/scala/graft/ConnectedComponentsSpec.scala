package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => Check}
import graft.cluster.ConnectedComponents
import graft.cluster.ConnectedComponents.LocalEdges
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
    // alternating star must converge in O(log^2 n). The chain is under the
    // driver-finish bound, so the star rounds are called directly.
    val n = 600L
    val verts = (1L to n).toDF("file_id")
    val edges = (1L until n).map(i => (i, i + 1)).toDF("a", "b")
    val r = ConnectedComponents.starRounds(verts, edges)
    info(s"600-chain converged in ${r.rounds} alternating-star rounds")
    assert(r.converged)
    assert(r.rounds <= 12, s"not logarithmic: ${r.rounds} rounds")
    val got = r.labels.as[(Long, Long)].collect().toMap
    assert(got.size == n && got.values.toSet == Set(1L))
  }

  test("maxIter exhaustion is DETECTABLE, and partial labels stay one-per-vertex") {
    // a too-small round cap must be visible programmatically: run() throws
    // unless the caller opts into partial results (a silent partial label
    // set poisons every downstream cluster expansion). Only the star rounds
    // have a cap, so run() sees the chain's edges repeated past the bound.
    val n = 64L
    val verts = (1L to n).toDF("file_id")
    val edges = (1L until n).map(i => (i, i + 1)).toDF("a", "b")
    val repeated = spark.range(LocalEdges + 1L)
      .select((col("id") % (n - 1) + 1).as("a"), (col("id") % (n - 1) + 2).as("b"))
    intercept[IllegalStateException] {
      PersistScope.using(s => ConnectedComponents.run(verts, repeated, s, maxIter = 1))
    }
    val r = ConnectedComponents.starRounds(verts, edges, maxIter = 1)
    assert(!r.converged && r.rounds == 1)
    // partial labels never duplicate conflicting rows per vertex —
    // downstream cluster expansions would silently double-count members
    val labels = r.labels.as[(Long, Long)].collect()
    graft.util.Blocks.free(r.forest)
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
    val r = ConnectedComponents.starRounds(verts, edges)
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
    val want = naive(0L until n.toLong, edges)
    val got = cc((0L until n.toLong), edges)
    assert(got == want)
  }

  /** Min reachable id per vertex by union-find over a map, union toward the
    * smaller root: the reference both CC paths must equal. */
  private def naive(verts: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    verts.map(v => v -> find(v)).toMap
  }

  private def labelsOf(r: ConnectedComponents.CcResult): Map[Long, Long] = {
    val got = r.labels.as[(Long, Long)].collect()
    graft.util.Blocks.free(r.forest)
    assert(got.map(_._1).distinct.length == got.length, "a vertex labelled twice")
    got.toMap
  }

  /** Compares label maps without rendering them: scalatest's diff of two
    * 10^5-entry maps runs for minutes. */
  private def assertLabels(got: Map[Long, Long], want: Map[Long, Long]): Unit = {
    val wrong = want.iterator.filter { case (v, c) => !got.get(v).contains(c) }.take(5).toList
    val (n, m) = (got.size, want.size)
    assert(n == m && wrong.isEmpty, s"$n labels for $m vertices; first wrong: $wrong")
  }

  /** Disjoint unions of chains, stars and random sparse graphs over ids that
    * are small, negative or above 2^40, their edges reversed, repeated and
    * mixed with self-loops, plus isolated vertices. */
  private val graph: Gen[(Seq[Long], Seq[(Long, Long)])] = {
    val id = Gen.frequency(3 -> Gen.choose(-40L, 40L),
      1 -> Gen.choose(-(1L << 62), -(1L << 40)), 1 -> Gen.choose(1L << 40, 1L << 62))
    def shape(ids: IndexedSeq[Long]): Gen[Seq[(Long, Long)]] =
      if (ids.size < 2) Gen.const(Nil)
      else Gen.oneOf(
        Gen.const(ids.zip(ids.tail)),
        Gen.choose(0, ids.size - 1).map(h => ids.filter(_ != ids(h)).map(ids(h) -> _)),
        Gen.listOfN(ids.size, Gen.zip(Gen.oneOf(ids), Gen.oneOf(ids))))
    for {
      ids <- Gen.choose(0, 60).flatMap(Gen.listOfN(_, id)).map(_.distinct.toIndexedSeq)
      cuts <- Gen.listOfN(3, Gen.choose(0, ids.size)).map(c => (0 +: c.sorted :+ ids.size).distinct)
      parts <- Gen.sequence[List[Seq[(Long, Long)]], Seq[(Long, Long)]](
        cuts.zip(cuts.tail).map { case (x, y) => shape(ids.slice(x, y)) })
      noisy <- Gen.sequence[List[Seq[(Long, Long)]], Seq[(Long, Long)]](parts.flatten.map(e =>
        Gen.frequency(4 -> Gen.const(Seq(e)), 1 -> Gen.const(Seq(e.swap)), 1 -> Gen.const(Seq(e, e.swap, e)))))
      loops <- Gen.someOf(ids).map(_.map(v => (v, v)))
    } yield (ids, noisy.flatten ++ loops)
  }

  private def agreesWithNaive(cases: Int, seed: Long)(cc: (DataFrame, DataFrame) => ConnectedComponents.CcResult): Unit = {
    val prop = Prop.forAllNoShrink(graph) { case (verts, edges) =>
      val got = labelsOf(cc(verts.toDF("file_id"), edges.toDF("a", "b")))
      Prop(got == naive(verts, edges)) :| s"${verts.size} vertices, ${edges.size} edges"
    }
    val res = Check.check(Check.Parameters.default.withMinSuccessfulTests(cases)
      .withInitialSeed(seed).withWorkers(1), prop)
    assert(res.passed, res.status.toString)
    assert(res.succeeded >= cases)
  }

  test("property: the driver finish equals a naive union-find") {
    agreesWithNaive(100, 1201L) { (v, e) =>
      val r = ConnectedComponents.runWithStats(v, e)
      assert(r.rounds == 0 && r.converged)
      r
    }
  }

  test("property: the star rounds equal a naive union-find") {
    agreesWithNaive(20, 1202L) { (v, e) =>
      val r = ConnectedComponents.starRounds(v, e)
      assert(r.converged)
      r
    }
  }

  test("hub of degree 10^5 and a giant component: both paths equal the naive labels") {
    val rnd = new scala.util.Random(1203L)
    val hub = (0L until 100001L).filter(_ != 50000L).map(50000L -> _)
    // a random tree over 20k vertices (one giant component) plus 300 pairs
    val giant = (1L until 20000L).map(i => (i + 200000L, rnd.nextLong(i) + 200000L))
    val pairs = (0L until 300L).map(i => (-(i << 41) - 1L, -(i << 41) - 2L))
    val edges = hub ++ giant ++ pairs
    val verts = edges.flatMap(e => Seq(e._1, e._2)).distinct :+ (7L << 50)
    val want = naive(verts, edges)
    val (v, e) = (verts.toDF("file_id"), edges.toDF("a", "b"))
    val local = ConnectedComponents.runWithStats(v, e)
    assert(local.rounds == 0)
    assertLabels(labelsOf(local), want)
    val rounds = ConnectedComponents.starRounds(v, e)
    info(s"hub + giant component: ${rounds.rounds} star rounds")
    assert(rounds.converged)
    assertLabels(labelsOf(rounds), want)
  }

  test("boundary: LocalEdges edges finish on the driver, one more runs star rounds") {
    // the bound counts the raw edges read: a star of 2^16 leaves centered at
    // its largest id, each spoke repeated in both orientations up to the
    // edge count wanted, so the graph past the bound stays cheap to round
    val leaves = 1L << 16
    val verts = spark.range(leaves + 1).toDF("file_id")
    def star(edges: Long): DataFrame = {
      val out = floor(col("id") / leaves) % 2 === 0
      spark.range(edges).select(
        when(out, lit(leaves)).otherwise(col("id") % leaves).as("a"),
        when(out, col("id") % leaves).otherwise(lit(leaves)).as("b"))
    }
    val local = ConnectedComponents.runWithStats(verts, star(LocalEdges))
    assert(local.rounds == 0)
    val rounds = ConnectedComponents.runWithStats(verts, star(LocalEdges + 1L))
    info(s"a star of ${LocalEdges + 1L} edges: ${rounds.rounds} star rounds")
    assert(rounds.converged && rounds.rounds >= 1)
    val want = (0L to leaves).map(_ -> 0L).toMap
    assertLabels(labelsOf(local), want)
    assertLabels(labelsOf(rounds), want)
  }
}
