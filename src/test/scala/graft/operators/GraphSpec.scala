package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

import graft.SparkTestBase

class GraphSpec extends SparkTestBase with Matchers {

  private def sym(pairs: Seq[(String, String)]) = {
    val ss = spark
    import ss.implicits._
    (pairs ++ pairs.map(_.swap)).toDF("src", "dst")
  }

  test("pageRank: symmetric K3 stays uniform; ranks sum to ~1") {
    val e = sym(Seq(("a", "b"), ("b", "c"), ("a", "c")))
    val out = Graph.pageRank(e, "src", "dst", iters = 3)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getAs[Double]("rank"))).toMap
    assert(out.size == 3)
    out.values.foreach { case (d, _) => assert(d == 2L) }
    // full symmetry: every node's rank program is identical
    assert(out.values.map(_._2).toSet.size == 1)
    assert(math.abs(out.values.map(_._2).sum - 1.0) < 1e-6)
  }

  test("pageRank: the result plan does not grow with iterations") {
    // each round's ranks are a Share.once leaf, so round r's plan never
    // embeds rounds 1..r-1
    val e = sym(Seq(("a", "b"), ("b", "c"), ("c", "d"), ("a", "d")))
    def nodes(iters: Int) = Graph.pageRank(e, "src", "dst", iters)
      .queryExecution.analyzed.collect { case n => n }.size
    nodes(8) shouldBe nodes(2)
  }

  test("pageRank: a star's center outranks its leaves") {
    val e = sym(Seq(("hub", "l1"), ("hub", "l2"), ("hub", "l3")))
    val out = Graph.pageRank(e, "src", "dst", iters = 3)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getAs[Double]("rank"))).toMap
    assert(out("hub")._1 == 3L && out("l1")._1 == 1L)
    assert(out("hub")._2 > out("l1")._2)
    // leaves are symmetric
    assert(out("l1")._2 == out("l2")._2 && out("l2")._2 == out("l3")._2)
    assert(math.abs(out.values.map(_._2).sum - 1.0) < 1e-6)
  }

  test("pageRank: duplicate input edges collapse; disconnected " +
    "components keep their own mass") {
    val ss = spark
    import ss.implicits._
    val e = (Seq(("a", "b"), ("a", "b"), ("b", "a"), ("c", "d"), ("d", "c")))
      .toDF("src", "dst")
    val out = Graph.pageRank(e, "src", "dst", iters = 2)
      .collect().map(r => r.getString(0) -> r.getAs[Double]("rank")).toMap
    // two symmetric 2-cliques: all four nodes identical by symmetry
    assert(out.values.toSet.size == 1)
    assert(math.abs(out.values.sum - 1.0) < 1e-6)
  }

  test("pageRankWeighted: w=1 equals the unweighted rank; heavy edges " +
    "pull rank") {
    val ss = spark
    import ss.implicits._
    val base = sym(Seq(("a", "b"), ("b", "c"), ("a", "c")))
    val unw = Graph.pageRank(base, "src", "dst", iters = 2)
      .collect().map(r => r.getString(0) -> r.getAs[Double]("rank")).toMap
    val w1 = Graph.pageRankWeighted(base.withColumn("w", lit(1L)),
        "src", "dst", "w", iters = 2)
      .collect().map(r => r.getString(0) -> r.getAs[Double]("rank")).toMap
    w1 shouldBe unw

    // path a-b-c, but a-b carries weight 9 vs b-c weight 1: b sends
    // 90% of its mass to a, so a outranks c (unweighted they'd tie)
    val we = Seq(("a", "b", 9L), ("b", "a", 9L), ("b", "c", 1L),
      ("c", "b", 1L)).toDF("src", "dst", "w")
    val out = Graph.pageRankWeighted(we, "src", "dst", "w", iters = 3)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getAs[Double]("rank"))).toMap
    assert(out("b")._1 == 10L) // out-weight, not degree
    assert(out("a")._2 > out("c")._2)
  }

  test("triangles: K4 counts, pendant node, clustering values") {
    val ss = spark
    import ss.implicits._
    // K4 on {a,b,c,d} (4 triangles, 3 per node, clustering 1) plus a
    // pendant e attached to a (degree 1: clustering NULL). Edges given
    // in mixed orientations + one duplicate to exercise canonicalize.
    val e = Seq(("a", "b"), ("b", "a"), ("a", "c"), ("a", "d"),
      ("c", "b"), ("b", "d"), ("d", "c"), ("e", "a")).toDF("s", "d")
    val out = Graph.triangles(e, "s", "d")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2),
          Option(r.getAs[java.lang.Double]("clustering")))).toMap
    assert(out("b") == ((3L, 3L, Some(1.0))))
    assert(out("c") == ((3L, 3L, Some(1.0))))
    assert(out("d") == ((3L, 3L, Some(1.0))))
    // a has degree 5's worth? no: a-b, a-c, a-d, a-e = 4; 3 triangles
    // among {b,c,d}: clustering = 2*3/(4*3) = 0.5
    assert(out("a") == ((4L, 3L, Some(0.5))))
    assert(out("e") == ((1L, 0L, None)))
  }

  test("markovStationary: 5 exact power-iteration rounds on a hand " +
    "2-state chain; absorbing state gets a self-loop and keeps mass") {
    val ss = spark
    import ss.implicits._
    // a->b always; b->a and b->b equally. True stationary (1/3, 2/3);
    // five rounds from uniform land exactly at (0.328125, 0.671875)
    // (all values are exact binary fractions, so round-12 is a no-op
    // and the trajectory is exact).
    val t = Seq(("a", "b", 2L), ("b", "a", 1L), ("b", "b", 1L))
      .toDF("f", "t", "n")
    val out = Graph.markovStationary(t, "f", "t", "n", iters = 5)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(out("a") == 0.328125)
    assert(out("b") == 0.671875)
    // absorbing: a->b only; b self-loops and absorbs everything
    val t2 = Seq(("a", "b", 1L)).toDF("f", "t", "n")
    val out2 = Graph.markovStationary(t2, "f", "t", "n", iters = 3)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(out2("a") == 0.0)
    assert(out2("b") == 1.0)
    assert(out2.size == 2)
  }

  test("degreeAssortativity: hand moments; degenerate side is NULL") {
    val ss = spark
    import ss.implicits._
    // edges (a,p),(a,q),(b,p): ks a=2,b=1; kd p=2,q=1 -> pairs
    // (2,2),(2,1),(1,2): n=3, num=3*8-25=-1, vx=vy=2 -> r=-0.5.
    val e = Seq(("a", "p"), ("a", "q"), ("b", "p")).toDF("s", "d")
    val out = Graph.degreeAssortativity(e, "s", "d").collect()(0)
    assert(out.getLong(0) == 3L)
    assert(out.getDouble(1) == -0.5)
    // all source degrees equal -> vx = 0 -> NULL
    val e2 = Seq(("a", "p"), ("b", "p"), ("c", "q")).toDF("s", "d")
    val out2 = Graph.degreeAssortativity(e2, "s", "d").collect()(0)
    assert(out2.getLong(0) == 3L)
    assert(out2.isNullAt(1))
  }

  test("kHopReach: path-graph frontier growth, duplicate/self edges " +
    "ignored") {
    val ss = spark
    import ss.implicits._
    // path 1-2-3-4-5 with noise: a reversed duplicate and a self-loop
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (2L, 1L),
      (3L, 3L)).toDF("s", "d")
    val out = Graph.kHopReach(e, "s", "d", hops = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) == ((1L, 2L, 3L)))
    assert(out(2L) == ((2L, 3L, 4L)))
    assert(out(3L) == ((2L, 4L, 4L))) // hop2 already reaches everyone
    assert(out(4L) == ((2L, 3L, 4L)))
    assert(out(5L) == ((1L, 2L, 3L)))
  }

  test("kCore: cascading peel, canonicalization, loud non-convergence") {
    val ss = spark
    import ss.implicits._
    // triangle {1,2,3} + tail 3-4-5: peel drops 5 (deg 1), THEN 4
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L),
      (2L, 1L), (1L, 1L)) // reversed dup + self-loop must be ignored
      .toDF("a", "b")
    val out = Graph.kCore(edges, "a", "b", k = 2, maxRounds = 3)
      .collect().map(r => r.getAs[Long]("id") ->
        ((r.getAs[Long]("degree"), r.getAs[Long]("n_core")))).toMap
    out shouldBe Map(1L -> ((2L, 3L)), 2L -> ((2L, 3L)), 3L -> ((2L, 3L)))
    // the same peel needs 2 rounds — maxRounds = 1 must fail loudly
    an[IllegalArgumentException] should be thrownBy
      Graph.kCore(edges, "a", "b", k = 2, maxRounds = 1).collect()
  }
}
