package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Share

/**
 * Graph analytics over edge lists — the PageRank-style importance
 * scores a corpus pipeline uses for URL/domain authority weighting
 * (the OPIC/Common-Crawl-rank idea: sample or weight documents by the
 * link importance of their source). Distributed Pregel-shape: every
 * iteration is one edge⋈rank join + one aggregate on the EDGE list —
 * the corpus never enters the loop. No reference counterpart;
 * builder's-brief analytics axis.
 */
object Graph {

  /**
   * Fixed-iteration PageRank with deterministic, engine-replayable
   * arithmetic: per-node share = round(rank/outdeg, 12) (one double
   * division, correctly rounded, then quantized), incoming shares sum
   * EXACTLY in DECIMAL(28,12), and the update
   * rank' = round(teleport/N + damping·double(Σshares), 12) is a
   * fixed-order double program — so an oracle unrolling the same
   * iterations lands on identical bits. `teleport` and `damping` are
   * SEPARATE literals (not 1−damping computed at runtime: 1.0 − 0.85
   * and the literal 0.15 differ by an ulp).
   *
   * Contract: every node must have outdegree ≥ 1 (true for symmetric/
   * undirected edge lists — pass both directions); dangling-mass
   * redistribution is deliberately out of scope. Nodes are the
   * distinct sources; ranks sum to ~1.
   *
   * Output: (`id`, `degree`, `rank`) — rank at 12 dp.
   *
   * Scale shape: edges and degrees materialize once
   * (`Share.once`) and every iteration joins them by source key —
   * rank state is node-cardinality, the join is edge-cardinality, and
   * N arrives as a ONE-ROW broadcast (the documented no-collect scalar
   * pattern). Iterations are a fixed constant; convergence-to-epsilon
   * loops belong to the caller if wanted.
   */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int, damping: Double = 0.85,
               teleport: Double = 0.15): DataFrame =
    pageRankImpl(edges, srcCol, dstCol, None, iters, damping, teleport)

  /**
   * Weighted PageRank: shares split ∝ edge weight instead of evenly —
   * the variant a co-occurrence or link-count graph actually wants
   * (a 1000-order brand tie should carry more authority than a
   * 2-order one). Per edge, share = round(rank·w / W_src, 12) with
   * W_src the source's exact BIGINT out-weight; everything else —
   * DECIMAL share sums, the fixed-order update, the contracts —
   * matches [[pageRank]] (which is this with w ≡ 1, per-node shares).
   * Weights must be positive integers (exact out-weight sums).
   */
  def pageRankWeighted(edges: DataFrame, srcCol: String, dstCol: String,
                       weightCol: String, iters: Int,
                       damping: Double = 0.85,
                       teleport: Double = 0.15): DataFrame =
    pageRankImpl(edges, srcCol, dstCol, Some(weightCol), iters, damping,
      teleport)

  private def pageRankImpl(edges: DataFrame, srcCol: String, dstCol: String,
                           weightCol: Option[String], iters: Int,
                           damping: Double, teleport: Double): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    require(damping > 0 && teleport > 0, "damping and teleport must be > 0")
    // Unweighted: distinct edges, per-node even split (w ≡ 1).
    // Weighted: per-edge BIGINT weights summed over duplicates; the
    // per-edge share divides by the source's exact out-weight.
    val e = Share.once(weightCol match {
      case None =>
        edges.select(col(srcCol).as("__src"), col(dstCol).as("__dst"))
          .where(col("__src").isNotNull && col("__dst").isNotNull)
          .distinct()
          .withColumn("__w", lit(1L))
      case Some(wc) =>
        edges.select(col(srcCol).as("__src"), col(dstCol).as("__dst"),
            col(wc).cast("long").as("__w"))
          .where(col("__src").isNotNull && col("__dst").isNotNull &&
            col("__w") > 0L)
          .groupBy("__src", "__dst").agg(sum(col("__w")).as("__w"))
    }, "pageRank.edges")
    val deg = Share.once(e.groupBy("__src").agg(sum(col("__w")).as("__d")),
      "pageRank.deg")
    // loop-invariant hoist (r16): every iteration used to re-join the
    // edge list to the out-degree table; (__w, __d) never change, so
    // attach them once and each round pays ONE join (edges ⋈ ranks).
    // The share arithmetic is untouched (still __r · __w / __d on the
    // original columns), so rounding replays bit-for-bit.
    val ed = Share.once(e.join(deg, "__src")
      .select(col("__src"), col("__dst"), col("__w"), col("__d")),
      "pageRank.ed")
    val nn = deg.agg(count(lit(1)).as("__nn"))
    var ranks = deg.select(col("__src").as("__id"))
      .crossJoin(broadcast(nn))
      .select(col("__id"), round(lit(1.0d) / col("__nn"), 12).as("__r"))
    for (_ <- 1 to iters) {
      val contrib = ed.join(ranks, ed("__src") === ranks("__id"))
        .select(ed("__dst").as("__id"),
          round(col("__r") * col("__w") / col("__d"), 12)
            .cast("decimal(28,12)").as("__c"))
        .groupBy("__id").agg(sum(col("__c")).as("__s"))
      ranks = Share.once(deg.select(col("__src").as("__id"))
        .join(contrib, Seq("__id"), "left")
        .crossJoin(broadcast(nn))
        .select(col("__id"),
          round(lit(teleport) / col("__nn") +
            lit(damping) * coalesce(col("__s").cast("double"), lit(0.0d)), 12)
            .as("__r")), "pageRank.ranks")
    }
    ranks.join(deg, ranks("__id") === deg("__src"))
      .select(col("__id").as("id"), col("__d").as("degree"),
        col("__r").as("rank"))
  }

  /**
   * Per-node triangle counts and local clustering coefficients over an
   * UNDIRECTED edge list (pass each edge once or both ways — edges
   * canonicalize to src < dst first). The density/cohesion statistic
   * behind community detection and spam-farm link analysis.
   *
   * Classic compact-forward enumeration: each triangle {a<b<c} is
   * found EXACTLY once by joining canonical edges (a,b)⋈(b,c) on the
   * middle node and probing (a,c) with a semi-ish equi-join; per-node
   * counts explode each triangle to its three corners. Clustering
   * coefficient = round(2·t / (d·(d−1)), 6) from the full undirected
   * degree, NULL for degree < 2.
   *
   * Output: (id, degree, n_triangles, clustering), one row per node
   * (nodes in no triangle get 0).
   *
   * Scale shape: everything is edge-list-bound — two equi-joins on
   * node keys and one on the (a,c) pair; the wedge fan-out
   * Σ d(b)²/4 is the algorithm's intrinsic cost, and hub-node wedge
   * skew is AQE's skew-join case (the standard refinement — orient
   * wedges by degree instead of id — drops in here if a corpus graph
   * ever needs it).
   */
  def triangles(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    // the degree count and all three join sides read `canon` in one
    // plan: exchange reuse runs its distinct once
    val canon = edges
      .select(least(col(srcCol), col(dstCol)).as("__a"),
        greatest(col(srcCol), col(dstCol)).as("__b"))
      .where(col("__a").isNotNull && col("__b").isNotNull &&
        col("__a") =!= col("__b"))
      .distinct()
    val deg = canon.select(col("__a").as("__id"))
      .unionAll(canon.select(col("__b").as("__id")))
      .groupBy("__id").agg(count(lit(1)).as("__d"))
    val tri = canon.alias("e1")
      .join(canon.alias("e2"), col("e1.__b") === col("e2.__a"))
      .join(canon.alias("e3"),
        col("e1.__a") === col("e3.__a") && col("e2.__b") === col("e3.__b"))
      .select(col("e1.__a").as("x"), col("e1.__b").as("y"),
        col("e2.__b").as("z"))
    val perNode = tri.select(explode(array(col("x"), col("y"), col("z")))
        .as("__id"))
      .groupBy("__id").agg(count(lit(1)).as("__t"))
    deg.join(perNode, Seq("__id"), "left")
      .select(col("__id").as("id"), col("__d").as("degree"),
        coalesce(col("__t"), lit(0L)).as("n_triangles"),
        when(col("__d") >= 2,
          round(lit(2.0d) * coalesce(col("__t"), lit(0L)) /
            (col("__d") * (col("__d") - 1)), 6))
          .otherwise(lit(null).cast("double")).as("clustering"))
  }

  /**
   * Stationary distribution of an empirical Markov chain by fixed
   * power iteration — where does a session SETTLE: feed
   * `Behavior.transitionMatrix`'s (from, to, n) counts and read the
   * long-run occupancy of each state. States with no outgoing
   * transitions (absorbing in the empirical data) get an explicit
   * unit self-loop so their mass persists instead of silently
   * vanishing from the distribution.
   *
   * Exactness (the [[pageRank]] contract): transition probabilities
   * stay exact rationals n_ij / out_i (BIGINT counts); each
   * per-edge share is round(π·n/out, 12), shares sum in
   * DECIMAL(28,12), and each round's π re-rounds to 12 — every
   * iteration replays bit-for-bit in an external oracle (unrolled
   * CTEs). Output: (`state`, `stationary` round 6), one row per
   * state.
   *
   * Scale shape: state²-bounded edge table, one broadcast state
   * count; per round, one vocab-bounded join + aggregation; each
   * round's π is a `Share.once` so round r+1 does not recompute
   * rounds 1..r.
   */
  def markovStationary(trans: DataFrame, fromCol: String, toCol: String,
                       nCol: String, iters: Int): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    val t0 = trans.select(col(fromCol).as("__f"), col(toCol).as("__t"),
        col(nCol).cast("long").as("__n"))
      .where(col("__f").isNotNull && col("__t").isNotNull && col("__n") > 0L)
    val states = Share.once(t0.select(col("__f").as("__id"))
      .unionByName(t0.select(col("__t").as("__id"))).distinct(),
      "markovStationary.states")
    val absorbing = states.join(t0.select(col("__f").as("__id")).distinct(),
      Seq("__id"), "left_anti")
    val t = Share.once(t0.unionByName(absorbing.select(col("__id").as("__f"),
      col("__id").as("__t"), lit(1L).as("__n"))), "markovStationary.t")
    val outW = t.groupBy(col("__f")).agg(sum(col("__n")).as("__out"))
    val nn = states.agg(count(lit(1)).as("__nn"))
    var pi = states
      .crossJoin(broadcast(nn))
      .select(col("__id"), round(lit(1.0d) / col("__nn"), 12).as("__p"))
    for (_ <- 1 to iters) {
      val contrib = t.join(pi, t("__f") === pi("__id"))
        .join(outW, "__f")
        .select(t("__t").as("__id"),
          round(col("__p") * col("__n") / col("__out"), 12)
            .cast("decimal(28,12)").as("__c"))
        .groupBy("__id").agg(sum(col("__c")).as("__s"))
      pi = Share.once(states.join(contrib, Seq("__id"), "left")
        .select(col("__id"),
          round(coalesce(col("__s").cast("double"), lit(0.0d)), 12)
            .as("__p")), "markovStationary.pi")
    }
    pi.select(col("__id").as("state"), round(col("__p"), 6).as("stationary"))
  }

  /**
   * Degree assortativity over a (directed or bipartite) edge list —
   * the one-number graph-health readout beside [[pageRank]]'s
   * per-node scores: the Pearson correlation, across edges, between
   * the source's out-degree and the destination's in-degree.
   * Positive = hubs link to hubs (dense-core risk for sampling);
   * negative = hub-and-spoke.
   *
   * Exactness: degrees are exact BIGINT counts, the five moment sums
   * accumulate in DECIMAL(38,0) (the [[Eval.spearman]] program), and
   * the correlation is ONE fixed-order double program rounded 6dp;
   * degenerate graphs (all equal degrees on either side) emit NULL.
   * Output: one row (n_edges, assortativity).
   *
   * Scale shape: two vocab-bounded degree aggregations from one edge
   * pass, two degree-keyed joins back to the edges (broadcastable
   * while the node sets are small, plan-switching to shuffle joins
   * when they aren't), one map-side-combined moment aggregation. No
   * pairwise anything.
   */
  def degreeAssortativity(edges: DataFrame, srcCol: String,
                          dstCol: String): DataFrame = {
    val e = edges.where(col(srcCol).isNotNull && col(dstCol).isNotNull)
      .select(col(srcCol).as("__s"), col(dstCol).as("__d"))
    val ds = e.groupBy("__s").agg(count(lit(1)).as("__ks"))
    val dd = e.groupBy("__d").agg(count(lit(1)).as("__kd"))
    val m = e.join(ds, "__s").join(dd, "__d")
      .agg(count(lit(1)).as("n_edges"),
        sum(col("__ks").cast("decimal(38,0)")).as("__sx"),
        sum(col("__kd").cast("decimal(38,0)")).as("__sy"),
        sum((col("__ks") * col("__ks")).cast("decimal(38,0)")).as("__sxx"),
        sum((col("__kd") * col("__kd")).cast("decimal(38,0)")).as("__syy"),
        sum((col("__ks") * col("__kd")).cast("decimal(38,0)")).as("__sxy"))
    val nd = col("n_edges").cast("double")
    def d(c: String): Column = col(c).cast("double")
    val num = nd * d("__sxy") - d("__sx") * d("__sy")
    val vx = nd * d("__sxx") - d("__sx") * d("__sx")
    val vy = nd * d("__syy") - d("__sy") * d("__sy")
    m.select(col("n_edges"),
      when(vx > 0d && vy > 0d, round(num / (sqrt(vx) * sqrt(vy)), 6))
        .otherwise(lit(null).cast("double")).as("assortativity"))
  }

  /**
   * Bounded k-hop reach per node — how many distinct nodes each node
   * can touch within 1, 2, …, `hops` undirected steps: the
   * neighborhood-growth profile behind link-graph authority spread,
   * contamination blast radius ("if this domain is poisoned, how much
   * of the crawl is ≤ 3 clicks away"), and small-world diagnostics
   * (reach saturating by hop 2 ⇒ a near-clique). Exact BFS as
   * frontier JOINS — set semantics, no float, deterministic by
   * construction.
   *
   * Self-pairs are excluded (a node does not reach itself); the edge
   * list is symmetrized and de-duplicated first.
   *
   * Output: (`id`, `n_hop1`, …, `n_hop<hops>`) — cumulative distinct
   * reach counts; rows only for nodes with ≥ 1 edge.
   *
   * Scale shape: hop k materializes the ≤k-neighborhood PAIR set —
   * bounded by the true reach size, not n², but growing with the
   * graph's expansion; `hops` is capped at 4 because on a
   * small-diameter web graph hop 5 IS the transitive closure. Each
   * round is one hash join + distinct on (node, node) pairs.
   */
  def kHopReach(edges: DataFrame, srcCol: String, dstCol: String,
                hops: Int = 3): DataFrame = {
    require(hops >= 1 && hops <= 4, "hops must be in [1, 4]")
    val und = edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
      .where(col("a").isNotNull && col("b").isNotNull &&
        col("a") =!= col("b"))
      .distinct()
    val sym = Share.once(und
      .union(und.select(col("b").as("a"), col("a").as("b")))
      .distinct(), "kHopReach.sym")
    var reach = sym
    var result = reach.groupBy("a").agg(count(lit(1)).as("n_hop1"))
    for (k <- 2 to hops) {
      reach = reach.alias("r")
        .join(sym.alias("e"), col("r.b") === col("e.a"))
        .select(col("r.a").as("a"), col("e.b").as("b"))
        .union(reach)
        .where(col("a") =!= col("b"))
        .distinct()
      result = result.join(
        reach.groupBy("a").agg(count(lit(1)).as(s"n_hop$k")), Seq("a"))
    }
    result.select((col("a").as("id") +:
      (1 to hops).map(k => col(s"n_hop$k"))): _*)
  }

  /**
   * k-core extraction — the standard "dense backbone" filter for
   * entity/co-occurrence graphs (community seeds, spam-farm cores,
   * tokenizer merge neighborhoods): iteratively peel every node whose
   * degree in the REMAINING graph is below k, until nothing peels.
   * What survives is the maximal subgraph where every node has ≥ k
   * in-core neighbors — a property no single degree filter gives
   * (removing one node can drag its neighbors below k).
   *
   * Runs exactly `maxRounds` peel rounds (idempotent once converged
   * — replaying extra rounds is a no-op, so an external engine
   * replays the identical fixed unrolling), then VERIFIES the
   * fixpoint and fails loudly if the peel needed more rounds. Edges
   * canonicalize to undirected distinct (x < y); self-loops drop.
   *
   * Output: one row per surviving node — `id`, `degree` (within the
   * core), and `n_core` (the core's node count, same on every row).
   *
   * Scale shape: per round, one edge-list-bound degree aggregation
   * and two semi-joins keyed on node ids, shared once (the
   * [[pageRankImpl]] iteration posture). Peel depth, not data size,
   * bounds the rounds; the verify is ONE count action.
   */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
            maxRounds: Int = 6): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(maxRounds >= 1, "maxRounds must be >= 1")
    val und = Share.once(edges
      .select(col(srcCol).as("__a"), col(dstCol).as("__b"))
      .where(col("__a").isNotNull && col("__b").isNotNull &&
        col("__a") =!= col("__b"))
      .select(least(col("__a"), col("__b")).as("__x"),
        greatest(col("__a"), col("__b")).as("__y"))
      .distinct(), "kCore.und")
    def degrees(e: DataFrame): DataFrame =
      e.select(col("__x").as("id"))
        .unionAll(e.select(col("__y").as("id")))
        .groupBy("id").agg(count(lit(1)).as("d"))
    val peeled = (1 to maxRounds).foldLeft(und) { (e, _) =>
      // both semi-joins read `keep` in one plan: exchange reuse runs its
      // degree aggregation once
      val keep = degrees(e).where(col("d") >= k.toLong).select("id")
      Share.once(e
        .join(keep.withColumnRenamed("id", "__x"), Seq("__x"), "left_semi")
        .join(keep.withColumnRenamed("id", "__y"), Seq("__y"), "left_semi"),
        "kCore.edges")
    }
    val deg = Share.once(degrees(peeled), "kCore.deg")
    val unconverged = deg.where(col("d") < k.toLong).count()
    require(unconverged == 0L,
      s"kCore: peel not converged after $maxRounds rounds " +
        s"($unconverged nodes still below k = $k); raise maxRounds")
    val n = deg.agg(count(lit(1)).as("n_core"))
    deg.crossJoin(broadcast(n))
      .select(col("id"), col("d").as("degree"), col("n_core"))
  }
}
