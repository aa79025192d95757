package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Share

/**
 * Similarity search over an embedding column (SURVEY.md §7 step 7):
 * brute-force cosine top-k as the baseline, and a *provably exact*
 * two-phase pruned kNN as the scale path. Pure Catalyst array programs
 * (`zip_with`/`aggregate`/`slice`) — no UDFs.
 *
 * Why not bucketed LSH for the correctness-gated query? Approximate
 * candidate generation (sign-LSH / IVF probing) trades recall for
 * pruning; on unstructured data its output is not guaranteed to equal
 * the brute-force top-k, so it cannot sit behind an exact-match oracle.
 * The two-phase bound below prunes with a Cauchy–Schwarz upper bound
 * and rescreens exactly, so its result equals brute force *by
 * construction* on any dataset — while still touching only the
 * candidate subset `ub ≥ threshold` in the expensive phase.
 */
object Similarity {

  /** Codegen'd dot product of two array<double> columns — the native
    * expression (graft.functions.DotProduct): one fused loop inside
    * whole-stage codegen, same left-to-right accumulation from +0.0 as
    * the `aggregate(zip_with(...))` lambda form and DuckDB's
    * `list_dot_product`, so cross-engine rounding agrees exactly. */
  def dot(a: Column, b: Column): Column = graft.functions.DotProduct(a, b)

  /** Cosine similarity of two raw (unnormalized) vectors. Computed as
    * dot/(|a|·|b|) — operand-for-operand the formulation DuckDB's
    * `list_dot_product`-based oracle uses, so 4-decimal rounding agrees
    * across engines. */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** The (single-row, broadcastable) target vector for `targetId`,
    * reduced via MIN so absence/duplication of the id degrades
    * deterministically instead of changing the row multiplicity. */
  private def targetRow(emb: DataFrame, idCol: String, vecCol: String,
                        targetId: Long): DataFrame =
    emb.filter(col(idCol) === targetId)
      .agg(min(col(vecCol)).as("__t"))

  /**
   * Brute-force cosine top-k of `targetId` over all other vectors:
   * the O(N) baseline and the oracle for everything else here.
   * Output: (idCol, score) with score rounded to 4 decimals, ordered
   * (score desc, id asc).
   */
  def cosineTopK(emb: DataFrame, idCol: String, vecCol: String,
                 targetId: Long, k: Int): DataFrame =
    emb.filter(col(idCol) =!= targetId)
      .crossJoin(broadcast(targetRow(emb, idCol, vecCol, targetId)))
      .select(col(idCol),
        round(cosine(col(vecCol), col("__t")), 4).as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)

  /**
   * Batch kNN join — exact cosine top-k neighbors for EVERY probe
   * vector at once (the training-data-pipeline shape: score a query
   * batch, not one target id). Output one row per (probe, neighbor)
   * with `rank` 1..k, self-matches excluded.
   *
   * Scale shape: the probe set broadcasts (its vectors never shuffle),
   * scoring is one map-side scan of the corpus — |probes| dot products
   * per corpus row inside whole-stage codegen — and the only shuffle is
   * the per-probe ranking, carrying bare (probe_id, id, score) triples
   * (~24 B × N × |probes|), never a vector. For probe batches too large
   * to broadcast, chunk the probe set and union — each chunk keeps this
   * plan; at 100 TB the candidate scan drops in for an LSH/IVF-pruned
   * one (`lshTopK`/`ivfTopK`) with the same ranking tail.
   *
   * Ranking is deterministic: (raw score desc, neighbor id asc). The raw
   * cosine operand tree matches `cosineTopK`'s, so an external oracle
   * reproduces the exact ranking.
   *
   * @param probes subset of rows carrying (idCol, vecCol) to query for
   */
  def knnJoin(emb: DataFrame, probes: DataFrame, idCol: String, vecCol: String,
              k: Int): DataFrame = {
    val p = probes.select(col(idCol).as("probe_id"), col(vecCol).as("__pv"))
    // width guard (the requireVecDims discipline, pairwise form — zero
    // extra jobs): zip_with over unequal lengths yields NULL
    // coordinates that flow through the dot fold as silently wrong
    // scores; a (corpus, probe) pair of unequal widths fails loudly
    // instead. NULL vectors keep their legacy null-score degrade.
    val raw = when(col(vecCol).isNull || col("__pv").isNull ||
        size(col(vecCol)) === size(col("__pv")),
        cosine(col(vecCol), col("__pv")))
      .otherwise(raise_error(concat(
        lit("knnJoin: corpus vector width "), size(col(vecCol)).cast("string"),
        lit(" != probe vector width "), size(col("__pv")).cast("string"),
        lit(" — mixed encoder versions? filter or re-embed before scoring"))))
    val scored = emb
      .crossJoin(broadcast(p))
      .filter(col(idCol) =!= col("probe_id"))
      .select(col("probe_id"), col(idCol).as("neighbor_id"), raw.as("__raw"))
    Relational.topKPerGroup(scored, Seq("probe_id"),
        Seq(col("__raw").desc, col("neighbor_id").asc), k, rankCol = Some("rank"))
      .select(col("probe_id"), col("neighbor_id"),
        round(col("__raw"), 4).as("score"), col("rank"))
  }

  /** Seeded ±1 random-hyperplane coefficients for sign-LSH: `planes`
    * rows × `dim` columns. Deterministic (fixed seed) so the same
    * planes can be inlined into an external oracle's SQL. */
  def hyperplanes(planes: Int, dim: Int, seed: Long): Array[Array[Int]] = {
    val rng = new scala.util.Random(seed)
    Array.fill(planes, dim)(if (rng.nextBoolean()) 1 else -1)
  }

  /** Integer-quantized vector image: round(x·1024), carried as exact
    * integers in doubles. Sign decisions computed from these are
    * bit-identical across engines — float summation order can never
    * flip a bucket bit, unlike projecting the raw floats. */
  // NOTE (r16): kept as the HOF column program — some callers quantize
  // raw array<float> embeddings, whose float-typed round semantics the
  // oracles pin (a fused double-only expression broke q196); the fused
  // codegen path exists where it matters: [[signCode]]'s
  // graft.functions.SignCode quantizes inline over array<double>.
  def quantize(vec: Column): Column = transform(vec, x => round(x * 1024))

  /** Packed sign-LSH bucket code: bit p set iff ⟨quantized vec,
    * plane_p⟩ ≥ 0.
    *
    * Width-guarded (the [[requireVecDims]] discipline, derived from
    * the planes — zero extra jobs): the hyperplanes index fixed dims,
    * so a vector of any OTHER width would silently mis-code into a
    * wrong bucket (mixed encoder versions); such a row fails the scan
    * loudly instead. A NULL vector keeps its legacy deterministic
    * degrade (all sign decisions null-reject to 0), matching the
    * `targetRow` absent-id contract. This guard wires every sign-LSH
    * entry point at once: [[lshTopK]] and the
    * `Dedup.embeddingNearDup*` / `Dedup.crossEmbeddingNearDupPairs`
    * blocking family. */
  def signCode(vec: Column, planes: Array[Array[Int]]): Column = {
    val dim = planes.head.length
    // fused codegen'd quantize + plane loop (graft.functions.SignCode,
    // r16): bit-identical to the Σ when(dot(quantize(vec), p) ≥ 0, 2^p)
    // column program it replaces (DotProductSpec pins equality); a NULL
    // vector keeps the legacy all-bits-0 degrade via the when-wrapper
    val code = graft.functions.SignCode(vec, planes)
    when(vec.isNull, lit(0L))
      .when(size(vec) === dim, code)
      .otherwise(raise_error(concat(
        lit(s"signCode: vector must be exactly $dim wide (the hyperplane " +
          "dim), found "), size(vec).cast("string"),
        lit(" — mixed encoder versions? filter or re-embed before coding"))))
  }

  /**
   * LSH-bucketed approximate kNN — the multi-probe scale path
   * (SURVEY §4's declared rewrite for Q27): candidates are vectors
   * whose bucket code is within `radius` Hamming bits of the target's,
   * exact cosine rescoring on candidates only.
   *
   * The contract is explicitly approximate: the result is the exact
   * top-k OF THE CANDIDATE SET, which the quantized integer projections
   * make deterministic and engine-independent — an oracle can replicate
   * the candidate set exactly. Recall depends on data geometry: high on
   * clustered real-world embeddings (neighbors agree on most sign
   * bits), poor on uniform random vectors (no structure to hash).
   * `boundedExactKnn` is the exact alternative when recall must be 1.
   *
   * Scale shape: code assignment is one scan (planes × dim multiplies);
   * candidate filtering is a broadcast of the 1-row target code + a
   * `bit_count(xor)` filter — no shuffle at all until the final top-k.
   * With a bucket-partitioned layout the filter becomes partition
   * pruning.
   */
  def lshTopK(emb: DataFrame, idCol: String, vecCol: String, targetId: Long,
              k: Int, planes: Array[Array[Int]], radius: Int): DataFrame = {
    val coded = emb.withColumn("__code", signCode(col(vecCol), planes))
    val t = coded.filter(col(idCol) === targetId)
      .agg(min(col(vecCol)).as("__t"))
      .withColumn("__tcode", signCode(col("__t"), planes))
    coded.filter(col(idCol) =!= targetId)
      .crossJoin(broadcast(t))
      .filter(bit_count(col("__code").bitwiseXOR(col("__tcode"))) <= radius)
      .select(col(idCol),
        round(cosine(col(vecCol), col("__t")), 4).as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /**
   * IVF (inverted-file) approximate kNN — the coarse-quantizer scale
   * path beside sign-LSH (`lshTopK`): partition the vector space by a
   * centroid set, search only the `nprobe` cells nearest the target.
   *
   * Centroids are a deterministic data sample (every `centroidStride`-th
   * id) rather than k-means — the standard random-sample coarse
   * quantizer, made reproducible so an external oracle can replay the
   * exact cell assignment. All assignment arithmetic runs on
   * integer-quantized vectors (`quantize`): squared-L2 distances are
   * exact integers in doubles, so argmin decisions are bit-identical in
   * any engine, and ties break on the centroid id.
   *
   * The contract is approximate by construction (recall < 1 when a true
   * neighbor's cell is not probed): the result is the exact top-k OF THE
   * CANDIDATE SET, which is deterministic.
   *
   * Scale shape (N vectors, C = N/stride centroids, stride ≈ √N):
   * assignment is a broadcast of the centroid set + one map-side
   * partial-min, shuffling one 24-byte (id, cell) row per vector — the
   * corpus-wide O(N·C) distance work is the standard IVF build cost and
   * embarrassingly parallel; the probe phase touches ~nprobe/C of the
   * data. At 100 TB the assignment is computed once and persisted as a
   * bucketed layout (cell id = bucket key), turning every later probe
   * into partition pruning instead of a scan.
   */
  /**
   * The √N centroid-count discipline as a derived stride: id-stride
   * seeding yields C ≈ N/stride centroids, so a FIXED stride makes C
   * grow linearly with the corpus and the O(N·C) assignment quadratic
   * — the r13 full-registry sweep measured exactly that (q76 at 36×
   * on 10× data). stride = N div ⌈√N⌉ keeps C ≈ ⌈√N⌉, the standard
   * IVF balance point where assignment work and per-probe cell size
   * both grow as N^1.5/√N = N. One count() action; the ceil is an
   * integer decision (floor-sqrt double, one exact s² ≥ N adjust) any
   * engine replays. Assumes roughly dense ids (the id-stride seeding
   * contract).
   */
  def sqrtStride(emb: DataFrame): Long = sqrtStride(emb.count())

  /** [[sqrtStride]] from a KNOWN corpus size — zero Spark jobs. The
    * count() overload is a convenience for one-off calls; pipelines
    * that already track N (or run several derived-stride operators
    * over one corpus) pass it here / via the entry points' `knownN`
    * so the derivation never costs an extra pass over 100 TB (the
    * r15 derived-parameter-scan finding). */
  def sqrtStride(n: Long): Long = {
    if (n <= 1L) 1L
    else {
      val s0 = math.sqrt(n.toDouble).floor.toLong
      val s = if (s0 * s0 >= n) s0 else s0 + 1L // ceil(sqrt(n)), exact
      math.max(1L, n / s)
    }
  }

  /**
   * LOUD vector-width guard — the centralized fix for the silent
   * mixed-width failure class (the r13 randomProject advisory
   * generalized): `slice`/`element_at` past a short vector's end and
   * `zip_with` over unequal lengths produce NULL coordinates that
   * flow through distance folds as silently wrong numbers. Every
   * declared-dim entry point ([[kmeansCentroids]], [[pqTrain]],
   * [[pqEncode]], [[pqAdcTopK]]) routes its corpus through this: a
   * row whose vector is not exactly `dims` wide (or is NULL) fails
   * the scan with a row-addressed message instead of poisoning the
   * model. [[randomProject]] keeps its documented DROP semantics
   * (the effectiveDim/topComponent convention) — filtering is a
   * declared behavior there, not a silent one.
   */
  def requireVecDims(emb: DataFrame, vecCol: String, dims: Int): DataFrame = {
    require(dims >= 1, "dims must be >= 1")
    emb.withColumn(vecCol,
      when(size(col(vecCol)) === dims, col(vecCol))
        .otherwise(raise_error(concat(
          lit(s"requireVecDims: '$vecCol' must be exactly $dims wide, found "),
          coalesce(size(col(vecCol)).cast("string"), lit("NULL")),
          lit(" — mixed encoder versions? filter or re-embed before indexing")))))
  }

  /** The stride the API DEFAULTS to: `centroidStride` < 0 (the -1
    * default on [[ivfTopK]]/[[ivfKnnJoin]]/[[kmeansCentroids]]/
    * [[pqTrain]]) derives [[sqrtStride]] from the corpus, so a caller
    * who writes the obvious call inherits the scale-safe C ≈ √N
    * discipline, not a quadratic pin. An explicit stride ≥ 1 is the
    * override (small-fixture gates pin 37 so external oracles can
    * replay the exact centroid set without a count). `knownN` ≥ 0
    * skips the derivation's count() job entirely — pass it when the
    * corpus size is already known. */
  private def resolveStride(emb: DataFrame, centroidStride: Long,
                            knownN: Long = -1L): Long = {
    if (centroidStride < 0)
      sqrtStride(if (knownN >= 0) knownN else emb.count())
    else {
      require(centroidStride >= 1, "centroidStride must be >= 1 (or " +
        "negative to derive the scale-safe sqrtStride default)")
      centroidStride
    }
  }

  def ivfTopK(emb: DataFrame, idCol: String, vecCol: String, targetId: Long,
              k: Int, centroidStride: Long = -1L, nprobe: Int = 8,
              knownN: Long = -1L): DataFrame = {
    val stride = resolveStride(emb, centroidStride, knownN)
    require(nprobe >= 1, "nprobe must be >= 1")
    // q·q hoisted per row, c·c carried on the broadcast side (the
    // kmeansCentroids trick, r17): d2 pays ONE d-wide dot per
    // (row, centroid) instead of three — same expressions on the same
    // inputs, so every double is bit-identical
    val q = emb.select(col(idCol).as("__id"), quantize(col(vecCol)).as("__q"))
      .withColumn("__qq", dot(col("__q"), col("__q")))
    val cent = q.filter(pmod(col("__id"), lit(stride)) === 0)
      .select(col("__id").as("__cid"), col("__q").as("__cv"),
        col("__qq").as("__cvv"))
    // exact integer-valued squared L2: d2 = q·q − 2 q·c + c·c
    def d2: Column = col("__qq") -
      lit(2.0) * dot(col("__q"), col("__cv")) +
      col("__cvv")
    val dists = q.crossJoin(broadcast(cent))
      .select(col("__id"), struct(d2.as("d2"), col("__cid").as("cid")).as("__dc"))
    // argmin(d2, cid): lexicographic struct-min — deterministic ties
    val asg = dists.groupBy("__id")
      .agg(min(col("__dc")).as("__m"))
      .select(col("__id"), col("__m.cid").as("__cell"))
    val probes = dists.filter(col("__id") === targetId)
      .select(col("__dc.d2").as("__d2"), col("__dc.cid").as("__cid"))
      .orderBy(col("__d2"), col("__cid"))
      .limit(nprobe)
      .select(col("__cid").as("__cell"))
    val cand = asg.join(broadcast(probes), "__cell")
      .filter(col("__id") =!= targetId)
      .select(col("__id"))
    emb.join(cand, col(idCol) === col("__id"), "left_semi")
      .crossJoin(broadcast(targetRow(emb, idCol, vecCol, targetId)))
      .select(col(idCol),
        round(cosine(col(vecCol), col("__t")), 4).as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /**
   * Exact top-k cosine with candidate pruning — the 100 TB shape.
   *
   * Phase 0 (cheap, per vector): normalize, split into head/tail halves,
   * cache the tail norm. For unit vectors u, v:
   *
   *   cos(u,v) = ⟨u_h,v_h⟩ + ⟨u_t,v_t⟩ ≤ ⟨u_h,v_h⟩ + |u_t|·|v_t| =: ub
   *
   * (Cauchy–Schwarz on the tail). `ub` costs a half-length dot product.
   *
   * Phase 1: exact-score the top `candidateCount` vectors by `ub`; the
   * k-th best exact score is the pruning threshold t.
   *
   * Phase 2: exact top-k over {v : ub ≥ t − margin}. Soundness: any v
   * with cos ≥ t has ub ≥ cos ≥ t > t − margin, so no true top-k member
   * is pruned; the margin (2·10⁻⁴ = two rounding quanta) additionally
   * guarantees that a pruned vector's ROUND(cos,4) is strictly below
   * every survivor's, so the rounded, id-tiebroken output equals the
   * brute-force ordering exactly.
   *
   * Pruning efficacy is data-dependent: on clustered real-world
   * embeddings the bound cuts deep (t is high, ub concentrates); on
   * uniform random vectors nothing can prune (no structure to exploit)
   * and phase 2 degrades to the scan the baseline does anyway. Both
   * phases are single shuffle-free scans + a TakeOrdered; the two
   * 1-row thresholds broadcast (no collect).
   */
  def boundedExactKnn(emb: DataFrame, idCol: String, vecCol: String,
                      targetId: Long, k: Int, candidateCount: Int = 64,
                      margin: Double = 2e-4): DataFrame = {
    require(candidateCount >= k, "candidateCount must be >= k")

    val t = targetRow(emb, idCol, vecCol, targetId)
      .withColumn("__tn", sqrt(dot(col("__t"), col("__t"))))
      .withColumn("__tu", transform(col("__t"), x => x / col("__tn")))
      .withColumn("__th", slice(col("__tu"), lit(1), (size(col("__tu")) / 2).cast("int")))
      .withColumn("__tt", slice(col("__tu"), (size(col("__tu")) / 2 + 1).cast("int"),
        size(col("__tu"))))
      .withColumn("__ttn", sqrt(dot(col("__tt"), col("__tt"))))

    val base = emb.filter(col(idCol) =!= targetId)
      .withColumn("__n", sqrt(dot(col(vecCol), col(vecCol))))
      .filter(col("__n") > 0)
      .withColumn("__u", transform(col(vecCol), x => x / col("__n")))
      .withColumn("__h", slice(col("__u"), lit(1), (size(col("__u")) / 2).cast("int")))
      .withColumn("__tl", slice(col("__u"), (size(col("__u")) / 2 + 1).cast("int"),
        size(col("__u"))))
      .withColumn("__tln", sqrt(dot(col("__tl"), col("__tl"))))
      .crossJoin(broadcast(t))
      .withColumn("__ub", dot(col("__h"), col("__th")) + col("__tln") * col("__ttn"))

    // Exact score on the raw vectors — operand-identical to cosineTopK /
    // the DuckDB oracle, so rounding agrees.
    val exact = cosine(col(vecCol), col("__t"))

    val threshold = base
      .orderBy(col("__ub").desc, col(idCol))
      .limit(candidateCount)
      .withColumn("__s", exact)
      .orderBy(col("__s").desc, col(idCol))
      .limit(k)
      .agg(min(col("__s")).as("__thr"))

    base
      .crossJoin(broadcast(threshold))
      // A null threshold (empty/degenerate target → null scores) must
      // degrade to the brute-force behavior, not filter everything out.
      .filter(col("__thr").isNull || col("__ub") >= col("__thr") - margin)
      .select(col(idCol), round(exact, 4).as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /**
   * IVF search against a SUPPLIED (trained) centroid set — the search
   * half of the train-then-search pipeline (`kmeansCentroids` is the
   * training half; `ivfTopK` remains the zero-training stride variant).
   * `centroids` must carry (__cid, __cv) with __cv on `quantize`'s
   * integer grid — exactly `kmeansCentroids`' output — so cell
   * assignment stays integer-exact and an oracle can replay it.
   *
   * Scale shape improves on `ivfTopK`'s assignment: the centroid set
   * collapses to ONE broadcast row and the argmin is a per-row
   * `aggregate` fold inside the scan, so the corpus never shuffles and
   * no (id, d2) pair materializes per centroid; the probe ranking
   * touches C rows, and the exact rescore reads only the probed cells.
   */
  def ivfTopKWith(emb: DataFrame, idCol: String, vecCol: String,
                  centroids: DataFrame, targetId: Long, k: Int,
                  nprobe: Int): DataFrame = {
    require(nprobe >= 1, "nprobe must be >= 1")
    // loop-invariant hoist (the kmeansCentroids trick, r17): q·q as a
    // column, c·c on the broadcast entries — the interpreted fold pays
    // ONE d-wide dot per centroid; bit-identical arithmetic
    val q = emb.select(col(idCol).as("__id"), quantize(col(vecCol)).as("__q"))
      .withColumn("__qq", dot(col("__q"), col("__q")))
    def d2(cv: Column, cvv: Column): Column = col("__qq") -
      lit(2.0) * dot(col("__q"), cv) + cvv
    val centArr = centroids
      .agg(collect_list(struct(col("__cid"), col("__cv"),
        dot(col("__cv"), col("__cv")).as("__cvv"))).as("__cents"))
    val far = struct(lit(Double.MaxValue).as("d2"), lit(Long.MaxValue).as("cid"))
    val best = aggregate(col("__cents"), far, (acc, c) => {
      val cand = struct(d2(c.getField("__cv"), c.getField("__cvv")).as("d2"),
        c.getField("__cid").as("cid"))
      when(cand < acc, cand).otherwise(acc)
    })
    val asg = q.crossJoin(broadcast(centArr))
      .select(col("__id"), best.getField("cid").as("__cell"))
    val probes = q.filter(col("__id") === targetId)
      .crossJoin(broadcast(centroids))
      .select(struct(
        d2(col("__cv"), dot(col("__cv"), col("__cv"))).as("d2"),
        col("__cid").as("cid")).as("__dc"))
      .orderBy(col("__dc"))
      .limit(nprobe)
      .select(col("__dc.cid").as("__cell"))
    val cand = asg.join(broadcast(probes), "__cell")
      .filter(col("__id") =!= targetId)
      .select(col("__id"))
    emb.join(cand, col(idCol) === col("__id"), "left_semi")
      .crossJoin(broadcast(targetRow(emb, idCol, vecCol, targetId)))
      .select(col(idCol),
        round(cosine(col(vecCol), col("__t")), 4).as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /**
   * Batch IVF-pruned kNN join — `knnJoin`'s exhaustive scoring swapped
   * for IVF cell probing: the batch-ANN shape that holds at 100 TB,
   * where |probes|·N dot products stop being affordable. Approximate by
   * construction (same contract as `ivfTopK`): candidates are the
   * corpus rows assigned to any of a probe's `nprobe` nearest cells;
   * the exact cosine rescore + deterministic (score desc, id asc)
   * ranking runs over that candidate set only.
   *
   * Scale shape: corpus assignment is the in-scan argmin fold (one
   * broadcast centroid row, corpus never shuffles for it); probe-cell
   * ranking touches |probes|·C thin rows; the cell join and the
   * candidate rescore shuffle (probe, id) pairs and candidate vectors
   * keyed by id — output-bounded, never |probes|·N.
   */
  def ivfKnnJoin(emb: DataFrame, probes: DataFrame, idCol: String,
                 vecCol: String, centroidStride: Long = -1L, k: Int,
                 nprobe: Int, knownN: Long = -1L): DataFrame = {
    require(nprobe >= 1, "nprobe must be >= 1")
    val cand = ivfCandidates(emb, probes, idCol, vecCol,
      resolveStride(emb, centroidStride, knownN), nprobe)
    val scored = cand
      .join(emb.select(col(idCol).as("__id"), col(vecCol).as("__v")), "__id")
      .join(broadcast(probes.select(col(idCol).as("probe_id"),
        col(vecCol).as("__pv"))), "probe_id")
      .select(col("probe_id"), col("__id").as("neighbor_id"),
        cosine(col("__v"), col("__pv")).as("__raw"))
    Relational.topKPerGroup(scored, Seq("probe_id"),
        Seq(col("__raw").desc, col("neighbor_id").asc), k, rankCol = Some("rank"))
      .select(col("probe_id"), col("neighbor_id"),
        round(col("__raw"), 4).as("score"), col("rank"))
  }

  /**
   * IVF cell-pruned candidate generation — the shared front half of
   * [[ivfKnnJoin]] and [[hardNegatives]]'s scale path: stride-sampled
   * centroids, in-scan (d2, cid) argmin corpus assignment, per-probe
   * `nprobe` nearest cells, and the (probe_id, __id) pairs whose cell
   * matches. Self-pairs are excluded. Deterministic end to end
   * (quantized grid, lexicographic tie-break), so an external oracle
   * replays the exact candidate set.
   *
   * Scale shape: one broadcast centroid row; the corpus never shuffles
   * for assignment; the cell join output is candidate-bounded —
   * |probes| · (corpus-fraction covered by nprobe cells), never
   * |probes| · N.
   */
  private[operators] def ivfCandidates(emb: DataFrame, probes: DataFrame,
      idCol: String, vecCol: String, centroidStride: Long,
      nprobe: Int): DataFrame = {
    // loop-invariant hoist (the kmeansCentroids trick, r17): one
    // d-wide dot per (row, centroid) in the fold; bit-identical
    val q = emb.select(col(idCol).as("__id"), quantize(col(vecCol)).as("__q"))
      .withColumn("__qq", dot(col("__q"), col("__q")))
    val cent = q.filter(pmod(col("__id"), lit(centroidStride)) === 0)
      .select(col("__id").as("__cid"), col("__q").as("__cv"),
        col("__qq").as("__cvv"))
    val centArr = cent
      .agg(collect_list(struct(col("__cid"), col("__cv"), col("__cvv")))
        .as("__cents"))
    def d2(cv: Column, cvv: Column): Column = col("__qq") -
      lit(2.0) * dot(col("__q"), cv) + cvv
    val far = struct(lit(Double.MaxValue).as("d2"), lit(Long.MaxValue).as("cid"))
    val best = aggregate(col("__cents"), far, (acc, c) => {
      val cand = struct(d2(c.getField("__cv"), c.getField("__cvv")).as("d2"),
        c.getField("__cid").as("cid"))
      when(cand < acc, cand).otherwise(acc)
    })
    val asg = q.crossJoin(broadcast(centArr))
      .select(col("__id"), best.getField("cid").as("__cell"))
    val pq = probes.select(col(idCol).as("probe_id"),
        quantize(col(vecCol)).as("__q"))
      .withColumn("__qq", dot(col("__q"), col("__q")))
    val pcells = Relational.topKPerGroup(
      pq.crossJoin(broadcast(centArr))
        .select(col("probe_id"), col("__q"), col("__qq"),
          explode(col("__cents")).as("__c"))
        .select(col("probe_id"),
          struct(d2(col("__c.__cv"), col("__c.__cvv")).as("d2"),
            col("__c.__cid").as("cid")).as("__dc")),
      Seq("probe_id"), Seq(col("__dc").asc), nprobe)
      .select(col("probe_id"), col("__dc.cid").as("__cell"))
    asg.join(pcells, "__cell")
      .filter(col("__id") =!= col("probe_id"))
      .select(col("probe_id"), col("__id"))
  }

  /**
   * PERSISTABLE IVF cell index — the serving-side half of a trained
   * IVF model (the [[graft.operators.Dedup.embeddingCodeRows]] asset
   * class for ANN): every corpus vector assigned to its nearest
   * trained centroid via the in-scan argmin fold (ONE broadcast
   * centroid row — the corpus never shuffles for assignment), stored
   * with its raw vector and precomputed norm. Persist this next to
   * the [[kmeansCentroids]] output ONCE; [[ivfServe]] /
   * [[ivfServeInRow]] then answer probe batches and probe STREAMS
   * against the pair of assets without re-assigning the corpus per
   * query — the missing embedding-space serving posture (text-space
   * precedent: shingle index → containmentAgainstIndex).
   *
   * `centroids`: (`__cid`, `__cv`) — [[kmeansCentroids]] output (or
   * any quantized-grid centroid set). Output: (`__id`, `__cell`,
   * `__v`, `__n`).
   */
  def ivfCellIndex(emb: DataFrame, idCol: String, vecCol: String,
                   centroids: DataFrame): DataFrame = {
    // loop-invariant hoist (the kmeansCentroids trick, r17)
    val q = emb.select(col(idCol).as("__id"), col(vecCol).as("__v"),
        quantize(col(vecCol)).as("__q"))
      .withColumn("__qq", dot(col("__q"), col("__q")))
    def d2(cv: Column, cvv: Column): Column = col("__qq") -
      lit(2.0) * dot(col("__q"), cv) + cvv
    val centArr = centroids.select(col("__cid"), col("__cv"))
      .agg(collect_list(struct(col("__cid"), col("__cv"),
        dot(col("__cv"), col("__cv")).as("__cvv"))).as("__cents"))
    val far = struct(lit(Double.MaxValue).as("d2"),
      lit(Long.MaxValue).as("cid"))
    val best = aggregate(col("__cents"), far, (acc, c) => {
      val cand = struct(d2(c.getField("__cv"), c.getField("__cvv")).as("d2"),
        c.getField("__cid").as("cid"))
      when(cand < acc, cand).otherwise(acc)
    })
    q.crossJoin(broadcast(centArr))
      .select(col("__id"), best.getField("cid").as("__cell"), col("__v"),
        sqrt(dot(col("__v"), col("__v"))).as("__n"))
  }

  /**
   * Batch ANN serving against a PERSISTED IVF model — `ivfKnnJoin`
   * with the train/serve split made real: `centroids` and `cellIndex`
   * are the stored assets ([[kmeansCentroids]] + [[ivfCellIndex]]
   * parquet), probes rank their `nprobe` nearest cells against the
   * broadcast centroid set, and only the matching cells' members are
   * scored (exact cosine from the index's frozen vectors/norms) and
   * ranked (raw score desc, id asc — deterministic).
   *
   * Output: (`probe_id`, `neighbor_id`, `score` 4 dp, `rank` 1..k).
   *
   * Scale shape: the probe-cell set (|probes|·nprobe rows) and the
   * probe vectors broadcast; the cell-index scan is pruned to the
   * probed cells by the broadcast join (a bucketed-by-cell layout
   * turns that into partition pruning); the only wide exchange is the
   * per-probe rank over candidate-bounded (probe, id, score) rows.
   * The corpus is NEVER re-assigned — that cost was paid once at
   * index time.
   */
  def ivfServe(cellIndex: DataFrame, centroids: DataFrame,
               probes: DataFrame, idCol: String, vecCol: String,
               k: Int, nprobe: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(nprobe >= 1, "nprobe must be >= 1")
    val pq = probes.select(col(idCol).as("probe_id"), col(vecCol).as("__pv"),
        quantize(col(vecCol)).as("__q"))
      .withColumn("__qq", dot(col("__q"), col("__q")))
    def d2(cv: Column, cvv: Column): Column = col("__qq") -
      lit(2.0) * dot(col("__q"), cv) + cvv
    val pcells = Relational.topKPerGroup(
      pq.crossJoin(broadcast(centroids.select(col("__cid"), col("__cv"),
          dot(col("__cv"), col("__cv")).as("__cvv"))))
        .select(col("probe_id"),
          struct(d2(col("__cv"), col("__cvv")).as("d2"),
            col("__cid").as("cid")).as("__dc")),
      Seq("probe_id"), Seq(col("__dc").asc), nprobe)
      .select(col("probe_id"), col("__dc.cid").as("__cell"))
    val scored = cellIndex
      .join(broadcast(pcells), Seq("__cell"))
      .filter(col("__id") =!= col("probe_id"))
      .join(broadcast(pq.select(col("probe_id"), col("__pv"),
        sqrt(dot(col("__pv"), col("__pv"))).as("__pn"))), Seq("probe_id"))
      .select(col("probe_id"), col("__id").as("neighbor_id"),
        (dot(col("__v"), col("__pv")) / (col("__n") * col("__pn")))
          .as("__raw"))
    Relational.topKPerGroup(scored, Seq("probe_id"),
        Seq(col("__raw").desc, col("neighbor_id").asc), k,
        rankCol = Some("rank"))
      .select(col("probe_id"), col("neighbor_id"),
        round(col("__raw"), 4).as("score"), col("rank"))
  }

  /**
   * STREAM-SERVING twin of [[ivfServe]] — the
   * `containmentAgainstIndexInRow` shape for ANN: the persisted model
   * folds to TWO one-row broadcasts (the centroid array; a cell →
   * members map with vectors and norms), and each ARRIVING probe does
   * everything in-row — ranks its `nprobe` nearest cells
   * (array_sort over the centroid distances), flattens those cells'
   * members, scores them by exact cosine, and keeps its top-k
   * ((score desc, id asc) — the sort key is (−score, id) asc, the
   * same total order). No stream-side aggregation, no shuffle, no
   * per-key state: map + explode over two broadcast model rows, so
   * the plan runs unchanged in append mode on an unbounded probe
   * stream. Result-identical to [[ivfServe]] on the same inputs
   * (spec-pinned).
   *
   * The broadcast members map bounds this to indexes that fit an
   * executor — past that, use the batch join form (the
   * `bigramNllAgainst` caveat verbatim).
   */
  def ivfServeInRow(probes: DataFrame, idCol: String, vecCol: String,
                    centroids: DataFrame, cellIndex: DataFrame,
                    k: Int, nprobe: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(nprobe >= 1, "nprobe must be >= 1")
    val centArr = centroids.select(col("__cid"), col("__cv"))
      .agg(collect_list(struct(col("__cid"), col("__cv"),
        dot(col("__cv"), col("__cv")).as("__cvv"))).as("__cents"))
    val cellMap = cellIndex.groupBy("__cell")
      .agg(collect_list(struct(col("__id"), col("__v"), col("__n")))
        .as("__members"))
      .agg(map_from_entries(collect_list(struct(col("__cell"),
        col("__members")))).as("__cells"))
    def d2(cv: Column, cvv: Column): Column = col("__qq") -
      lit(2.0) * dot(col("__q"), cv) + cvv
    val probedCells = slice(array_sort(transform(col("__cents"), c =>
      struct(d2(c.getField("__cv"), c.getField("__cvv")).as("d2"),
        c.getField("__cid").as("cid")))), 1, nprobe)
    val members = flatten(filter(
      transform(probedCells, pc => element_at(col("__cells"),
        pc.getField("cid"))),
      l => l.isNotNull))
    val keyed = transform(
      filter(members, m => m.getField("__id") =!= col("probe_id")),
      m => struct(
        (-(dot(col("__pv"), m.getField("__v")) /
          (col("__pn") * m.getField("__n")))).as("nr"),
        m.getField("__id").as("neighbor_id")))
    probes
      .select(col(idCol).as("probe_id"), col(vecCol).as("__pv"),
        quantize(col(vecCol)).as("__q"))
      .withColumn("__pn", sqrt(dot(col("__pv"), col("__pv"))))
      .withColumn("__qq", dot(col("__q"), col("__q")))
      .crossJoin(broadcast(centArr))
      .crossJoin(broadcast(cellMap))
      .select(col("probe_id"),
        posexplode(slice(array_sort(keyed), 1, k)).as(Seq("__pos", "__h")))
      .select(col("probe_id"), col("__h.neighbor_id").as("neighbor_id"),
        round(-col("__h.nr"), 4).as("score"),
        (col("__pos") + 1).cast("int").as("rank"))
  }

  /**
   * Deterministic stride-sampled centroid set on the integer grid —
   * the UNREFINED coarse quantizer every IVF entry point seeds from
   * ([[ivfTopK]]'s `cent` step as a first-class asset): one row per
   * corpus id divisible by the stride, quantized. Use as the
   * `centroids` input of [[ivfCellIndex]]/[[pqCodeCells]] when the
   * replayable seed set is wanted without a Lloyd round
   * ([[kmeansCentroids]] is the refined alternative — both produce
   * the same (`__cid`, `__cv`) shape). Output: (`__cid`, `__cv`).
   */
  def strideCentroids(emb: DataFrame, idCol: String, vecCol: String,
                      centroidStride: Long = -1L,
                      knownN: Long = -1L): DataFrame = {
    val stride = resolveStride(emb, centroidStride, knownN)
    emb.filter(pmod(col(idCol), lit(stride)) === 0)
      .select(col(idCol).as("__cid"), quantize(col(vecCol)).as("__cv"))
  }

  /**
   * PERSISTABLE IVF-PQ corpus table — the memory-scale serving asset
   * ([[ivfCellIndex]] without the float vectors): one row per corpus
   * vector with its coarse-cell assignment and its `m`-code PQ
   * encoding, ~m small ints + one long per doc. At 100 TB of
   * embeddings the float corpus cannot stay resident; THIS table can,
   * and [[ivfPqServe]]/[[ivfPqServeInRow]] answer top-k probes from
   * it without reading a single raw vector (Jégou et al. 2011's
   * IVFADC layout). Store it once next to the coarse centroid set and
   * the PQ codebook; all three together are the model.
   *
   * One corpus scan: the coarse argmin ((d2, cid) lexicographic, the
   * [[ivfCellIndex]] fold) and the m per-subspace encode argmins run
   * in the same projection over two broadcast model rows — the corpus
   * never shuffles at index time either.
   *
   * Output: (`__id`, `__cell`, `__code` array<long> of length m,
   * `__cpos` array<int> of length m). `__code` carries the winning
   * CENTROID IDS (the [[pqEncode]]-compatible, human-debuggable
   * form); `__cpos` carries the same winners as DENSE POSITIONS in
   * each subspace's cid-sorted centroid array — what the serve path
   * actually indexes its LUT arrays with (O(1) per lookup; FAISS
   * stores positions for the same reason). A production table that
   * only serves can drop `__code` — positions + the codebook
   * reproduce the cids.
   */
  def pqCodeCells(emb: DataFrame, idCol: String, vecCol: String,
                  coarse: DataFrame, codebook: DataFrame,
                  m: Int, dim: Int): DataFrame = {
    require(m >= 1 && dim >= m && dim % m == 0,
      "dim must split into m equal-width subspaces")
    val width = dim / m
    val q = requireVecDims(emb, vecCol, dim)
      .select(col(idCol).as("__id"), quantize(col(vecCol)).as("__q"))
    // subvector slices + self-dots hoisted BEFORE the broadcast joins
    // (the Join blocks CollapseProject — the pqEncode discipline)
    val sliced = q.select(
      col("__id") +: col("__q") +: dot(col("__q"), col("__q")).as("__qq") +:
        (0 until m).flatMap { s =>
          val sv = slice(col("__q"), s * width + 1, width)
          Seq(sv.as(s"__sv$s"), dot(sv, sv).as(s"__svv$s"))
        }: _*)
    val centArr = coarse.select(col("__cid"), col("__cv"))
      .agg(collect_list(struct(col("__cid"), col("__cv"),
        dot(col("__cv"), col("__cv")).as("__cvv"))).as("__cents"))
    val far = struct(lit(Double.MaxValue).as("d2"),
      lit(Long.MaxValue).as("cid"))
    def d2c(cv: Column, cvv: Column): Column = col("__qq") -
      lit(2.0) * dot(col("__q"), cv) + cvv
    val best = aggregate(col("__cents"), far, (acc, c) => {
      val cand = struct(d2c(c.getField("__cv"), c.getField("__cvv")).as("d2"),
        c.getField("__cid").as("cid"))
      when(cand < acc, cand).otherwise(acc)
    })
    sliced.crossJoin(broadcast(centArr))
      .crossJoin(broadcast(cbSortedArr(codebook)))
      .select(col("__id"), best.getField("cid").as("__cell"),
        array((0 until m).map { s =>
          pqBestPos(col(s"__sv$s"), col(s"__svv$s"), lit(s))
            .getField("cid")
        }: _*).as("__code"),
        array((0 until m).map { s =>
          pqBestPos(col(s"__sv$s"), col(s"__svv$s"), lit(s))
            .getField("pos")
        }: _*).as("__cpos"))
  }

  /** The serving codebook as ONE row: an array over subspaces (sub
    * asc) of per-subspace centroid arrays SORTED BY cid — the shared
    * total order that makes a centroid's POSITION in its subspace
    * array a stable dense code ([[pqCodeCells]] stores exactly these
    * positions as `__cpos`). Each entry carries (cid, cv, cvv). */
  private def cbSortedArr(codebook: DataFrame): DataFrame =
    codebook.groupBy(col("__sub"))
      .agg(array_sort(collect_list(struct(col("__cid"), col("__cv"),
        dot(col("__cv"), col("__cv")).as("__cvv")))).as("__sa"))
      .agg(transform(
        array_sort(collect_list(struct(col("__sub"), col("__sa")))),
        x => x.getField("__sa")).as("__cbs"))

  /** Per-probe DENSE asymmetric-distance LUT: `lut[s][pos]` =
    * d2(probe subvector s, centroid at position pos of subspace s's
    * cid-sorted array). Position-indexed arrays, NOT a map — Spark's
    * map `element_at` is a LINEAR scan of the entries (the r16
    * serving sweep measured the map-keyed form at 54× on 10× data:
    * every candidate lookup paid O(C) struct comparisons), while
    * array indexing is O(1), which is what makes ADC's
    * lookups-not-dot-products bargain real (FAISS stores positions
    * for the same reason). */
  private def adcLutDense(cbsCol: Column, subsCol: Column): Column =
    transform(cbsCol, (subArr, s) => {
      val me = element_at(subsCol, s + 1)
      transform(subArr, c =>
        me.getField("svv") -
          lit(2.0) * dot(me.getField("sv"), c.getField("__cv")) +
          c.getField("__cvv"))
    })

  /** The caller-hoisted per-subspace (`sv`, `svv`) array
    * [[adcLutDense]] folds against — one projection, loop-invariant
    * self-dots. */
  private def subSlices(qCol: Column, m: Int, width: Int): Column =
    array((0 until m).map { s =>
      val sv = slice(qCol, s * width + 1, width)
      struct(sv.as("sv"), dot(sv, sv).as("svv"))
    }: _*)

  /** ADC fold: sum over the m subspaces of `lut[s][cpos[s]]` — two
    * O(1) array indexes per term, integer-valued doubles throughout,
    * cast BIGINT by the callers. */
  private def adcSumDense(lutCol: Column, cposCol: Column, m: Int): Column =
    aggregate(sequence(lit(0), lit(m - 1)), lit(0.0d), (acc, s) =>
      acc + element_at(element_at(lutCol, s + 1),
        element_at(cposCol, s + 1) + 1))

  /** The (d2, cid, pos) argmin over subspace `sub`'s CID-SORTED
    * centroid array — [[pqBest]] with the winner's dense POSITION
    * carried along (ties cannot reach `pos`: (d2, cid) is already
    * unique per centroid). `__cmapS` is [[cbSortedArr]]'s one row. */
  private def pqBestPos(sv: Column, svv: Column, sub: Column): Column = {
    val arr = element_at(col("__cbs"), sub + 1)
    val far = struct(lit(Double.MaxValue).as("d2"),
      lit(Long.MaxValue).as("cid"), lit(-1).as("pos"))
    aggregate(
      zip_with(arr, sequence(lit(1), size(arr)), (c, i) => struct(
        c.getField("__cid").as("cid"), c.getField("__cv").as("cv"),
        c.getField("__cvv").as("cvv"), (i - 1).cast("int").as("pos"))),
      far,
      (acc, c) => {
        val d2 = svv - lit(2.0) * dot(sv, c.getField("cv")) +
          c.getField("cvv")
        val cand = struct(d2.as("d2"), c.getField("cid").as("cid"),
          c.getField("pos").as("pos"))
        when(cand < acc, cand).otherwise(acc)
      })
  }

  /**
   * Batch ANN serving against a PERSISTED IVF-PQ model (Jégou et al.
   * 2011, the IVFADC search): `coarse` + `codebook` + `codeCells`
   * ([[strideCentroids]]/[[kmeansCentroids]], [[pqTrain]],
   * [[pqCodeCells]] parquet) are the stored assets; each probe ranks
   * its `nprobe` nearest coarse cells, and only those cells' members
   * are scored — by the probe's asymmetric-distance LUT over their
   * PQ codes, never their raw vectors. The float corpus is read ZERO
   * times at search; candidates cost m map lookups each.
   *
   * Every LUT entry is an integer-valued double (grid arithmetic), so
   * the per-candidate sum is exact in BIGINT and the (adc_d2, id)
   * ranking replays engine-independently ([[pqAdcTopK]]'s contract,
   * with the train/serve split and cell pruning made real).
   *
   * Output: (`probe_id`, `neighbor_id`, `adc_d2` bigint, `rank` 1..k)
   * — ranked (adc_d2 asc, neighbor_id asc). Approximate by contract
   * twice over (cell pruning + PQ quantization), exact over the
   * deterministic candidate set and code assignment.
   *
   * Scale shape: probe cells and per-probe LUTs broadcast (|probes| ·
   * (nprobe + m·C) entries); the code-cells scan is pruned to the
   * probed cells by the broadcast join; the only wide exchange is the
   * per-probe rank over candidate-bounded (probe, id, adc) rows.
   */
  def ivfPqServe(codeCells: DataFrame, coarse: DataFrame,
                 codebook: DataFrame, probes: DataFrame, idCol: String,
                 vecCol: String, k: Int, nprobe: Int, m: Int,
                 dim: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(nprobe >= 1, "nprobe must be >= 1")
    require(m >= 1 && dim >= m && dim % m == 0,
      "dim must split into m equal-width subspaces")
    val width = dim / m
    val pq = requireVecDims(probes, vecCol, dim)
      .select(col(idCol).as("probe_id"), quantize(col(vecCol)).as("__q"))
      .withColumn("__qq", dot(col("__q"), col("__q")))
    def d2(cv: Column, cvv: Column): Column = col("__qq") -
      lit(2.0) * dot(col("__q"), cv) + cvv
    val pcells = Relational.topKPerGroup(
      pq.crossJoin(broadcast(coarse.select(col("__cid"), col("__cv"),
          dot(col("__cv"), col("__cv")).as("__cvv"))))
        .select(col("probe_id"),
          struct(d2(col("__cv"), col("__cvv")).as("d2"),
            col("__cid").as("cid")).as("__dc")),
      Seq("probe_id"), Seq(col("__dc").asc), nprobe)
      .select(col("probe_id"), col("__dc.cid").as("__cell"))
    val plut = pq.crossJoin(broadcast(cbSortedArr(codebook)))
      .withColumn("__subs", subSlices(col("__q"), m, width))
      .select(col("probe_id"),
        adcLutDense(col("__cbs"), col("__subs")).as("__lut"))
    val scored = codeCells
      .join(broadcast(pcells), Seq("__cell"))
      .filter(col("__id") =!= col("probe_id"))
      .join(broadcast(plut), Seq("probe_id"))
      .select(col("probe_id"), col("__id").as("neighbor_id"),
        adcSumDense(col("__lut"), col("__cpos"), m).cast("long")
          .as("adc_d2"))
    Relational.topKPerGroup(scored, Seq("probe_id"),
        Seq(col("adc_d2").asc, col("neighbor_id").asc), k,
        rankCol = Some("rank"))
      .select(col("probe_id"), col("neighbor_id"), col("adc_d2"),
        col("rank"))
  }

  /**
   * STREAM-SERVING twin of [[ivfPqServe]] — the [[ivfServeInRow]]
   * shape for the PQ model: the persisted assets fold to THREE
   * one-row broadcasts (coarse centroid array; codebook array; a
   * cell → members map of (id, cpos) pairs — dense position codes,
   * not vectors, so the map is the PQ-compressed size), and each ARRIVING probe does
   * everything in-row: ranks its `nprobe` nearest cells, builds its
   * own ADC LUT, scores the probed cells' members by code lookup,
   * and keeps its top-k by (adc_d2 asc, id asc). Map + explode over
   * broadcast model rows — no shuffle, no per-key state, append-safe
   * on an unbounded probe stream. Result-identical to [[ivfPqServe]]
   * on the same inputs (spec-pinned).
   *
   * The broadcast members map bounds this to code tables that fit an
   * executor — which is exactly what PQ buys: m longs per corpus
   * vector instead of dim floats, ~8× more corpus per executor at
   * m=4/dim=64 than [[ivfServeInRow]]'s raw-vector map.
   */
  def ivfPqServeInRow(probes: DataFrame, idCol: String, vecCol: String,
                      coarse: DataFrame, codebook: DataFrame,
                      codeCells: DataFrame, k: Int, nprobe: Int, m: Int,
                      dim: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(nprobe >= 1, "nprobe must be >= 1")
    require(m >= 1 && dim >= m && dim % m == 0,
      "dim must split into m equal-width subspaces")
    val width = dim / m
    val centArr = coarse.select(col("__cid"), col("__cv"))
      .agg(collect_list(struct(col("__cid"), col("__cv"),
        dot(col("__cv"), col("__cv")).as("__cvv"))).as("__cents"))
    val cellMap = codeCells.groupBy("__cell")
      .agg(collect_list(struct(col("__id"), col("__cpos"))).as("__members"))
      .agg(map_from_entries(collect_list(struct(col("__cell"),
        col("__members")))).as("__cells"))
    def d2p(cv: Column, cvv: Column): Column = col("__qq") -
      lit(2.0) * dot(col("__q"), cv) + cvv
    val probedCells = slice(array_sort(transform(col("__cents"), c =>
      struct(d2p(c.getField("__cv"), c.getField("__cvv")).as("d2"),
        c.getField("__cid").as("cid")))), 1, nprobe)
    val members = flatten(filter(
      transform(probedCells, pc => element_at(col("__cells"),
        pc.getField("cid"))),
      l => l.isNotNull))
    // (adc_d2, id) structs sort ascending lexicographically — the same
    // total order as the batch gear's (adc_d2 asc, neighbor_id asc)
    val keyed = transform(
      filter(members, mm => mm.getField("__id") =!= col("probe_id")),
      mm => struct(
        adcSumDense(col("__lut"), mm.getField("__cpos"), m).cast("long")
          .as("adc_d2"),
        mm.getField("__id").as("neighbor_id")))
    requireVecDims(probes, vecCol, dim)
      .select(col(idCol).as("probe_id"), quantize(col(vecCol)).as("__q"))
      .withColumn("__qq", dot(col("__q"), col("__q")))
      .withColumn("__subs", subSlices(col("__q"), m, width))
      .crossJoin(broadcast(cbSortedArr(codebook)))
      .withColumn("__lut", adcLutDense(col("__cbs"), col("__subs")))
      .crossJoin(broadcast(centArr))
      .crossJoin(broadcast(cellMap))
      .select(col("probe_id"),
        posexplode(slice(array_sort(keyed), 1, k)).as(Seq("__pos", "__h")))
      .select(col("probe_id"), col("__h.neighbor_id").as("neighbor_id"),
        col("__h.adc_d2").as("adc_d2"),
        (col("__pos") + 1).cast("int").as("rank"))
  }

  /**
   * K-means (Lloyd) refinement of the IVF coarse quantizer: start from
   * `ivfTopK`'s deterministic stride sample, run `iters` rounds of
   * assign-to-nearest + recompute-mean. Output one row per centroid:
   * (cid, n = member count of the final assignment, centroid vector).
   *
   * Exactness without floats: vectors are integer-quantized (`quantize`)
   * and every refined centroid is RE-QUANTIZED to the same grid
   * (`round(sum/count)` per component), so all distances stay
   * integer-valued doubles — assignment argmin ties break on (d2, cid)
   * lexicographically and an external oracle replays every round
   * bit-for-bit. An unrounded float mean would make cell boundaries
   * depend on summation order and the result engine-dependent.
   *
   * Scale shape (N vectors, C ≈ N/stride centroids, dim d):
   *  - per round, the centroid set collapses to ONE broadcast row
   *    (`collect_list`, C·d doubles) and assignment is a per-row
   *    `aggregate` loop over that array inside the scan — the corpus is
   *    read once per round and NEVER shuffles;
   *  - the only exchange carries (cell, count, d partial sums) —
   *    C·(d+2) values after map-side combine, independent of N;
   *  - empty cells keep their previous centroid (left join on the C-row
   *    set); each round's result is a C-row `Share.once` so round
   *    r+1's broadcast does not recompute rounds 1..r.
   * Integer-exactness bound: per-component |sum| ≤ n_cell·max|q| — at
   * quantize's ×1024 grid that stays inside double's 2^53 for any cell
   * below ~10^9 members; far past any realistic cell at 100 TB.
   */
  def kmeansCentroids(emb: DataFrame, idCol: String, vecCol: String,
                      centroidStride: Long = -1L, iters: Int, dim: Int,
                      knownN: Long = -1L): DataFrame = {
    val stride = resolveStride(emb, centroidStride, knownN)
    require(iters >= 1, "iters must be >= 1")
    require(dim >= 1, "dim must be >= 1")
    val embG = requireVecDims(emb, vecCol, dim)
    // q·q hoisted before the broadcast join (the silhouette trick: the
    // Join blocks CollapseProject, so the fold does ONE d-wide dot per
    // centroid); c·c rides the broadcast entry — both loop-invariant
    val q = embG.select(col(idCol).as("__id"), quantize(col(vecCol)).as("__q"))
      .withColumn("__qq", dot(col("__q"), col("__q")))
    val init = q.filter(pmod(col("__id"), lit(stride)) === 0)
      .select(col("__id").as("__cid"), col("__q").as("__cv"), lit(0L).as("__n"))
    (1 to iters).foldLeft(init) { (cent, _) =>
      val centArr = cent
        .agg(collect_list(struct(col("__cid"), col("__cv"),
          dot(col("__cv"), col("__cv")).as("__cvv"))).as("__cents"))
      // argmin over the broadcast centroid array, inside the scan: a
      // lexicographic (d2, cid) running minimum, so the fold's result
      // is independent of collect_list's nondeterministic order
      val far = struct(lit(Double.MaxValue).as("d2"), lit(Long.MaxValue).as("cid"))
      val best = aggregate(col("__cents"), far, (acc, c) => {
        val d2 = col("__qq") -
          lit(2.0) * dot(col("__q"), c.getField("__cv")) + c.getField("__cvv")
        val cand = struct(d2.as("d2"), c.getField("__cid").as("cid"))
        when(cand < acc, cand).otherwise(acc)
      })
      val assigned = q.crossJoin(broadcast(centArr))
        .select(col("__id"), col("__q"), best.getField("cid").as("__cell"))
      val sums = assigned.groupBy(col("__cell"))
        .agg(count(lit(1)).as("__nn"),
          (0 until dim).map(i =>
            sum(element_at(col("__q"), i + 1)).as(s"__s$i")): _*)
      val refreshed = sums.select(col("__cell"),
        array((0 until dim).map(i =>
          round(col(s"__s$i") / col("__nn"))): _*).as("__nv"),
        col("__nn"))
      Share.once(
        cent.join(refreshed, cent("__cid") === refreshed("__cell"), "left")
          .select(cent("__cid"),
            coalesce(col("__nv"), cent("__cv")).as("__cv"),
            coalesce(col("__nn"), lit(0L)).as("__n")), "kmeansCentroids.cent")
    }
  }

  /**
   * Time-series activity profiles — each key's event history reduced to
   * a dense `buckets`-dim vector of per-bucket value sums (default:
   * hour-of-day, the daily-rhythm profile). The profile embeds a
   * behavioral time series into the SAME vector space the similarity
   * family searches, so top-k similar users / ANN / kNN joins apply
   * unchanged (the EDBT'19 streaming time-series-similarity shape:
   * reduce, then search vectors).
   *
   * Determinism: per-cell sums run in DECIMAL (exact, associative) and
   * cast to double once — each vector element is the identical double
   * in any engine and any partition order. Missing buckets gap-fill
   * with 0.0.
   *
   * Scale shape: one (key, bucket) hash aggregation with map-side
   * combine — at most `buckets` rows per key shuffle — then a per-key
   * collapse to the vector; no windows, no explode of history.
   *
   * Output: (keyCol, `__vec` array<double>).
   */
  def activityProfiles(events: DataFrame, keyCol: String, tsCol: String,
                       valueCol: String, buckets: Int = 24,
                       bucketOf: Column => Column = hour(_)): DataFrame = {
    require(buckets >= 1, "buckets must be >= 1")
    val cell = events
      .groupBy(col(keyCol), bucketOf(col(tsCol)).cast("int").as("__h"))
      .agg(sum(col(valueCol).cast("decimal(18,6)")).cast("double").as("__v"))
    cell.groupBy(col(keyCol))
      .agg(map_from_entries(collect_list(struct(col("__h"), col("__v"))))
        .as("__m"))
      .select(col(keyCol),
        transform(sequence(lit(0), lit(buckets - 1)),
          i => coalesce(element_at(col("__m"), i), lit(0.0d))).as("__vec"))
  }

  /**
   * Embedding-hygiene QA — the vector-side [[TextMetrics.encodingQa]]:
   * the gate an ANN/dedup index runs before trusting an embedding
   * column, catching the three classic upstream failures: NaN/Inf
   * components (a crashed encoder shard), all-zero vectors (a default
   * the encoder emitted on empty input — cosine against them is
   * undefined), and wrong dimensionality (mixed encoder versions).
   *
   * Scan-local projections: `n_dims`, `n_bad` (non-finite components),
   * `is_zero` (squared norm exactly 0), `norm2` (squared L2, the same
   * left-to-right IEEE sum as [[dot]], rounded to 4 dp), and
   * `is_clean`. No shuffle — aggregation is the caller's.
   */
  def embeddingQa(emb: DataFrame, idCol: String, vecCol: String,
                  expectDims: Int, keep: Seq[String] = Nil): DataFrame = {
    val v = col(vecCol)
    val bad = size(filter(v, x => isnan(x) || x === Double.PositiveInfinity ||
      x === Double.NegativeInfinity)).cast("long")
    val n2 = dot(v, v)
    emb.select((col(idCol) +: keep.map(col)) ++ Seq(
        size(v).cast("long").as("n_dims"),
        bad.as("n_bad"),
        n2.as("__n2")): _*)
      .withColumn("is_zero", col("__n2") === 0.0d)
      .withColumn("norm2", round(col("__n2"), 4))
      .withColumn("is_clean",
        col("n_bad") === 0L && !col("is_zero") &&
          col("n_dims") === expectDims.toLong)
      .drop("__n2")
  }

  /**
   * Hard-negative mining for contrastive / embedding training: for
   * each probe, the top-k most-similar corpus vectors that are NOT in
   * the probe's duplicate cluster. The highest-cosine non-duplicates
   * are exactly the "hard negatives" an embedding trainer wants — and
   * mining them WITHOUT the cluster exclusion poisons training with
   * false negatives (near-duplicates of the anchor labeled negative),
   * which is why this composes the dedup family's verdict into the
   * search instead of leaving it to a downstream filter.
   *
   * `clusters` is the [[Dedup.dupClusters]] output (`id`,
   * `cluster_id`) — duplicate members only; non-members represent
   * themselves (`coalesce`), the `clusterAwareSplit` convention.
   *
   * Candidate generation has two gears. With `centroidStride` ≥ 1
   * (the default posture for anything corpus-scale), candidates route
   * through [[ivfCandidates]]'s deterministic cell pruning BEFORE the
   * exclusion — the crossJoin only ever sees cell-pruned pairs, so
   * work tracks output (|probes| · nprobe-cell fraction), never
   * |probes| · N. The pruning is part of the operator's contract
   * (same as [[ivfKnnJoin]]): an oracle replays the cells exactly.
   * With `centroidStride` = 0 the exhaustive broadcast path scores
   * the full corpus per probe — exact top-k, affordable only for
   * small corpora or one-off probe batches; it is NOT the plan to
   * run at 100 TB.
   *
   * Scale shape (pruned gear): the cluster table joins the corpus
   * id-keyed (dup members are a vanishing fraction; thin rows),
   * cell-candidate pairs shuffle id-keyed to fetch vectors, exclusion
   * is a per-row predicate (no extra exchange), and the per-probe
   * top-k window sees candidate rows only.
   *
   * Output: (probe_id, neighbor_id, score, rank), cosine rounded 4.
   */
  def hardNegatives(emb: DataFrame, probes: DataFrame, idCol: String,
                    vecCol: String, clusters: DataFrame, k: Int,
                    centroidStride: Long = 0L, nprobe: Int = 8): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val rep = clusters.select(col("id").as("__m"), col("cluster_id").as("__lbl"))
    val e = emb.select(col(idCol).as("__id"), col(vecCol).as("__v"))
      .join(rep, col("__id") === col("__m"), "left")
      .select(col("__id"), col("__v"),
        coalesce(col("__lbl"), col("__id")).as("__r"))
    val p = probes.select(col(idCol).as("probe_id"), col(vecCol).as("__pv"))
      .join(rep, col("probe_id") === col("__m"), "left")
      .select(col("probe_id"), col("__pv"),
        coalesce(col("__lbl"), col("probe_id")).as("__pr"))
    val paired =
      if (centroidStride >= 1L)
        ivfCandidates(emb, probes, idCol, vecCol, centroidStride, nprobe)
          .join(e, "__id")
          .join(broadcast(p), "probe_id")
      else e.crossJoin(broadcast(p))
        .filter(col("__id") =!= col("probe_id"))
    val scored = paired
      .filter(col("__r") =!= col("__pr"))
      .select(col("probe_id"), col("__id").as("neighbor_id"),
        cosine(col("__v"), col("__pv")).as("__raw"))
    Relational.topKPerGroup(scored, Seq("probe_id"),
        Seq(col("__raw").desc, col("neighbor_id").asc), k,
        rankCol = Some("rank"))
      .select(col("probe_id"), col("neighbor_id"),
        round(col("__raw"), 4).as("score"), col("rank"))
  }

  /** The PQ codebook as ONE broadcast MAP row (`__cmap`: subspace →
    * array of (cid, cv, cv·cv)): `element_at` hands each fold exactly
    * its C-entry subspace array — the first cut FILTERED a flat 4C
    * struct array per exploded row, and inside a CodegenFallback HOF
    * that materialized m·C struct copies per row (the r14 isolate
    * sweep measured q280 at 9.5× on 10× data from exactly this);
    * cv·cv is hoisted into the broadcast entry because it is
    * loop-invariant per centroid. Values and tie-breaks are
    * bit-identical to the filtered form — the fold is a lexicographic
    * min, order-independent by construction. */
  private def pqCentMap(codebook: DataFrame): DataFrame =
    codebook.groupBy(col("__sub"))
      .agg(collect_list(struct(col("__cid"), col("__cv"),
        dot(col("__cv"), col("__cv")).as("__cvv"))).as("__arr"))
      .agg(map_from_entries(collect_list(struct(col("__sub"), col("__arr"))))
        .as("__cmap"))

  /** The (d2, cid) lexicographic argmin over `__cmap`'s subspace
    * array — the shared assignment step of the PQ family. `svv` is
    * the caller-hoisted sv·sv (loop-invariant; recomputing it per
    * centroid inside the interpreted fold doubled the dot work).
    * Runs inside the scan; result independent of collect order. */
  private def pqBest(sv: Column, svv: Column, sub: Column): Column = {
    val far = struct(lit(Double.MaxValue).as("d2"), lit(Long.MaxValue).as("cid"))
    aggregate(
      element_at(col("__cmap"), sub), far,
      (acc, c) => {
        val d2 = svv - lit(2.0) * dot(sv, c.getField("__cv")) +
          c.getField("__cvv")
        val cand = struct(d2.as("d2"), c.getField("__cid").as("cid"))
        when(cand < acc, cand).otherwise(acc)
      })
  }

  /**
   * Product-quantization codebook training (Jégou et al., "Product
   * Quantization for Nearest Neighbor Search", TPAMI 2011): the
   * `dim`-dim vector splits into `m` equal-width subspaces and each
   * subspace trains its OWN k-means quantizer, so an embedding
   * compresses to `m` small codes (one centroid id per subspace) —
   * the memory-scale path for ANN over 100 TB of embeddings, where the
   * float vectors cannot all stay resident but `m` bytes/vector can.
   *
   * Same integer-exactness contract as `kmeansCentroids`: vectors are
   * grid-quantized, refined centroids re-quantize to the grid, argmin
   * ties break (d2, cid) — every round replays bit-for-bit in an
   * external oracle.
   *
   * Scale shape: all `m` subspace quantizers train in ONE pass per
   * round — the corpus explodes to (id, sub, subvector) rows (same
   * total floats, never wider), assignment is an in-scan fold over the
   * one broadcast codebook row, and the only exchange carries
   * (sub, cell, count, dim/m partial sums): m·C·(dim/m + 2) values
   * after map-side combine, independent of N.
   *
   * Output: (`__sub` int, `__cid` long, `__cv` array<double> of width
   * dim/m, `__n` long = final-round member count; empty cells keep
   * their previous centroid with `__n` = 0).
   */
  def pqTrain(emb: DataFrame, idCol: String, vecCol: String, m: Int,
              dim: Int, centroidStride: Long = -1L, iters: Int = 3,
              knownN: Long = -1L): DataFrame = {
    require(m >= 1 && dim >= m && dim % m == 0,
      "dim must split into m equal-width subspaces")
    val stride = resolveStride(emb, centroidStride, knownN)
    require(iters >= 1, "iters must be >= 1")
    val width = dim / m
    val embG = requireVecDims(emb, vecCol, dim)
    // __svv hoisted BEFORE the broadcast join: the Join node blocks
    // CollapseProject from re-inlining the dot into the fold lambda
    // (where it would re-evaluate per centroid — the silhouette
    // precedent)
    val sub = pqSubvectors(embG, idCol, vecCol, m, width)
      .withColumn("__svv", dot(col("__sv"), col("__sv")))
    val init = sub.filter(pmod(col("__id"), lit(stride)) === 0)
      .select(col("__sub"), col("__id").as("__cid"), col("__sv").as("__cv"),
        lit(0L).as("__n"))
    (1 to iters).foldLeft(init) { (cent, _) =>
      val assigned = sub.crossJoin(broadcast(pqCentMap(cent)))
        .select(col("__sub"), col("__sv"),
          pqBest(col("__sv"), col("__svv"), col("__sub"))
            .getField("cid").as("__cell"))
      val sums = assigned.groupBy(col("__sub"), col("__cell"))
        .agg(count(lit(1)).as("__nn"),
          (0 until width).map(i =>
            sum(element_at(col("__sv"), i + 1)).as(s"__s$i")): _*)
      val refreshed = sums.select(col("__sub").as("__rs"), col("__cell"),
        array((0 until width).map(i =>
          round(col(s"__s$i") / col("__nn"))): _*).as("__nv"),
        col("__nn"))
      Share.once(cent.join(refreshed,
          cent("__sub") === refreshed("__rs") &&
            cent("__cid") === refreshed("__cell"), "left")
        .select(cent("__sub"), cent("__cid"),
          coalesce(col("__nv"), cent("__cv")).as("__cv"),
          coalesce(col("__nn"), lit(0L)).as("__n")), "pqTrain.cent")
    }
  }

  /** (id, sub, subvector) rows: the corpus split into its m quantized
    * subspace views — same total floats as the input, never wider. */
  private def pqSubvectors(emb: DataFrame, idCol: String, vecCol: String,
                           m: Int, width: Int): DataFrame =
    emb.select(col(idCol).as("__id"), quantize(col(vecCol)).as("__q"))
      .select(col("__id"), explode(array((0 until m).map(s =>
          struct(lit(s).as("__sub"),
            slice(col("__q"), s * width + 1, width).as("__sv"))): _*))
        .as("__e"))
      .select(col("__id"), col("__e.__sub").as("__sub"),
        col("__e.__sv").as("__sv"))

  /**
   * PQ encoding: each vector compresses to its `m` per-subspace
   * nearest-centroid ids. One in-scan fold per subspace over the one
   * broadcast codebook row — the corpus is read once and never
   * shuffles; the output code table is ~m small ints per doc, the
   * representation the ADC search and any downstream dedup blocker
   * actually ship at 100 TB.
   *
   * Output: (`__id`, `__code` array<long> of length m, position s
   * holding subspace s's centroid id).
   */
  def pqEncode(emb: DataFrame, idCol: String, vecCol: String,
               codebook: DataFrame, m: Int, dim: Int): DataFrame = {
    require(m >= 1 && dim >= m && dim % m == 0,
      "dim must split into m equal-width subspaces")
    val width = dim / m
    // subvector slices + their self-dots materialize ONCE per row in a
    // codegen'd projection BEFORE the broadcast join (the Join blocks
    // CollapseProject) — an inline slice would re-evaluate per fold
    // element inside the CodegenFallback lambda
    val sliced = requireVecDims(emb, vecCol, dim)
      .select(col(idCol).as("__id"), quantize(col(vecCol)).as("__q"))
      .select(
        col("__id") +:
          (0 until m).map(s =>
            slice(col("__q"), s * width + 1, width).as(s"__sv$s")): _*)
    val hoisted = sliced.select(
      col("__id") +:
        (0 until m).flatMap(s => Seq(col(s"__sv$s"),
          dot(col(s"__sv$s"), col(s"__sv$s")).as(s"__svv$s"))): _*)
    hoisted.crossJoin(broadcast(pqCentMap(codebook)))
      .select(col("__id"), array((0 until m).map { s =>
        pqBest(col(s"__sv$s"), col(s"__svv$s"), lit(s)).getField("cid")
      }: _*).as("__code"))
  }

  /**
   * Asymmetric-distance (ADC) top-k: the query stays a full-precision
   * (quantized-grid) vector, the corpus is its PQ codes, and each
   * doc's approximate squared distance is the SUM over subspaces of
   * d2(query subvector, centroid[code]) — read from a per-query
   * lookup table of m·C entries. Every LUT entry is an integer-valued
   * double (grid arithmetic), so the sum is exact in BIGINT and the
   * (adc_d2, id) ranking is engine-independent.
   *
   * Scale shape: the LUT is ONE broadcast row (m·C doubles, built
   * from the codebook and the 1-row query — no corpus access); the
   * scan reads only the code table (~m ints/doc, not dim floats),
   * folds the LUT once per doc, and `TakeOrdered` keeps k rows. The
   * float corpus is touched zero times at search.
   *
   * Approximation contract: with `centroidStride = 1` and one round,
   * every vector is its own centroid, codes reproduce the exact
   * vectors, and ADC equals the exact quantized distance — the
   * recall-1 pin the spec asserts (the `nprobe = all` analogue).
   *
   * Output: (idCol, adc_d2 bigint), the k nearest by (adc_d2, id).
   */
  def pqAdcTopK(emb: DataFrame, idCol: String, vecCol: String,
                codebook: DataFrame, targetId: Long, k: Int, m: Int,
                dim: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val width = dim / m
    val codes = pqEncode(emb, idCol, vecCol, codebook, m, dim)
    val tgt = emb.filter(col(idCol) === targetId)
      .agg(min(quantize(col(vecCol))).as("__t"))
    val lutArr = codebook.crossJoin(broadcast(tgt))
      .select(col("__sub"), col("__cid"), {
        val sv = slice(col("__t"), col("__sub") * lit(width) + lit(1),
          lit(width))
        (dot(sv, sv) - lit(2.0) * dot(sv, col("__cv")) +
          dot(col("__cv"), col("__cv"))).as("__d2")
      })
      .agg(collect_list(struct(col("__sub"), col("__cid"), col("__d2")))
        .as("__lut"))
    codes.filter(col("__id") =!= targetId)
      .crossJoin(broadcast(lutArr))
      .select(col("__id").as(idCol),
        aggregate(col("__lut"), lit(0.0d), (acc, l) =>
          acc + when(
            element_at(col("__code"), l.getField("__sub") + 1) ===
              l.getField("__cid"),
            l.getField("__d2")).otherwise(lit(0.0d)))
          .cast("long").as("adc_d2"))
      .orderBy(col("adc_d2").asc, col(idCol).asc)
      .limit(k)
  }

  /**
   * k-center greedy coreset selection (Gonzalez 1985 farthest-point
   * traversal) — the diversity-sampling step a training-data mixer
   * wants where random sampling oversamples dense clusters: pick the
   * point farthest from everything picked so far, k times. The
   * selection sequence doubles as a 2-approximation of the k-center
   * cover, and each pick's distance is the current coverage radius —
   * a corpus-diversity curve for free.
   *
   * Exactness: vectors ride the ×1024 integer grid ([[quantize]]) so
   * every d² is an integer-valued double (exact for any summation
   * order), the min-over-selected fold and the (d², −id) argmax are
   * exact comparisons (ties to the smaller id), and the seed is the
   * minimum id. No rounding anywhere — radii replay bit-for-bit.
   * Output: (sel_round, vec_id, radius) — radius NULL for the seed,
   * strictly non-increasing after.
   *
   * Scale shape: k passes over the corpus, each ONE scan folding a
   * ≤ k-row broadcast selected-set array in-row (the q75 centroid
   * pattern) + a 1-row argmax — no pairwise join, no k·n shuffle.
   * The corpus quantizes once (`Share.once`) and never reshuffles.
   */
  def coresetSelect(emb: DataFrame, idCol: String, vecCol: String,
                    k: Int): DataFrame = {
    require(k >= 1, "coresetSelect: k must be >= 1")
    // q·q and the selected vectors' self-dots are loop-invariant —
    // hoisted (the kmeansCentroids trick, r17) so the fold pays one
    // d-wide dot per selected vector; bit-identical arithmetic
    val q = Share.once(emb.select(col(idCol).cast("long").as("__id"),
        quantize(col(vecCol)).as("__q"))
      .where(col("__id").isNotNull && col("__q").isNotNull), "coresetSelect.q")
    val seed = q.agg(min(col("__id")).as("__sid"))
    var selected = Share.once(
      q.join(broadcast(seed), col("__id") === col("__sid"))
        .select(lit(1).as("sel_round"), col("__id"), col("__q"),
          lit(null).cast("double").as("radius")), "coresetSelect.selected")
    for (r <- 2 to k) {
      val selArr = selected
        .agg(collect_list(struct(col("__q").as("v"),
          dot(col("__q"), col("__q")).as("vv"))).as("__sel"))
      val minD = aggregate(col("__sel"), lit(Double.MaxValue),
        (acc, sv) => {
          val d2 = col("__qq") -
            lit(2.0) * dot(col("__q"), sv.getField("v")) + sv.getField("vv")
          when(d2 < acc, d2).otherwise(acc)
        })
      val scored = q.withColumn("__qq", dot(col("__q"), col("__q")))
        .crossJoin(broadcast(selArr))
        .select(col("__id"), col("__q"), minD.as("__d"))
      val best = scored
        .agg(max(struct(col("__d").as("d"), (-col("__id")).as("nid")))
          .as("__m"))
        .select(col("__m.d").as("__bd"), (-col("__m.nid")).as("__bid"))
      val next = q.join(broadcast(best), col("__id") === col("__bid"))
        .select(lit(r).as("sel_round"), col("__id"), col("__q"),
          col("__bd").as("radius"))
      selected = Share.once(selected.unionAll(next), "coresetSelect.selected")
    }
    selected.select(col("sel_round"), col("__id").as("vec_id"),
      col("radius"))
  }

  /**
   * Top principal component of the embedding covariance by
   * MATRIX-FREE power iteration — the anisotropy diagnostic for an
   * embedding corpus (Mu & Viswanath 2018's "all-but-the-top"
   * observation: sentence/doc embeddings concentrate in a few rogue
   * directions; a dominant λ₁/Σvar share means cosine similarity is
   * measuring the common direction, not content). The d×d covariance
   * is never materialized: each round computes C·v as
   * Σ_rows q·(qᵀv) − μ·Σ_rows(qᵀv) (exact identity for centered C
   * since Σq = n·μ), which is one codegen'd [[dot]] scan plus one
   * map-side-combined per-dim aggregation — data-sized work is two
   * passes per round regardless of d.
   *
   * Cross-engine replay (the q75 kmeansCentroids discipline — the
   * d-double iterate is MODEL state held on the driver, like the
   * centroid table): embeddings quantize to the house integer grid;
   * v₀ = 0.125 per dim (exact); per-round contributions round-12 into
   * DECIMAL(38,12) sums so partition order cannot perturb a double
   * fold; μ is round-6; the norm and Rayleigh folds run left-to-right
   * from +0.0 in dim order ([[dot]]'s contract == DuckDB's
   * `list_dot_product`); the normalized iterate re-quantizes round-12
   * each round. λ is the Rayleigh quotient v_{T−1}ᵀ(C·v_{T−1})/n at
   * the last round, 6 dp.
   *
   * Output: one row per dimension (`dim` 1-based, `n`, `mu`,
   * `variance`, `loading`, `eigval` repeated) — loading is the unit
   * top eigenvector, variance the per-dim diagonal, so
   * eigval / Σ variance is the top-direction share.
   */
  def topComponent(emb: DataFrame, vecCol: String, dims: Int,
                   iters: Int = 5): DataFrame = {
    require(dims >= 1 && iters >= 1, "dims and iters must be >= 1")
    val spark = emb.sparkSession
    val base = Share.once(emb
      .select(quantize(col(vecCol).cast("array<double>")).as("__q"))
      .where(size(col("__q")) === dims), "topComponent.base")
    val st = base
      .select(posexplode(col("__q")).as(Seq("__p", "__qi")))
      .groupBy("__p")
      .agg(count(lit(1)).as("__n"),
        sum(col("__qi").cast("long")).as("__sq"),
        sum(col("__qi").cast("decimal(38,0)") * col("__qi").cast("long"))
          .cast("decimal(38,0)").as("__sq2"))
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(1), r.getLong(2), r.getDecimal(3)))).toMap
    require(st.nonEmpty, "topComponent: no valid vectors")
    val n = st.head._2._1
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def r12(x: Double) =
      BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble
    val mu = (0 until dims).map(p => r6(st(p)._2.toDouble / n)).toArray

    var v = Array.fill(dims)(0.125d)
    var vPrev = v
    var w = Array.fill(dims)(0.0d)
    for (_ <- 1 to iters) {
      val withS = base.withColumn("__s",
        dot(col("__q"), typedLit(v.toSeq)))
      val agg0 = withS
        .select(col("__s"), posexplode(col("__q")).as(Seq("__p", "__qi")))
        .groupBy("__p")
        .agg(sum(round(col("__qi") * col("__s"), 12)
          .cast("decimal(38,12)")).cast("double").as("__sqs"))
      val sS = withS
        .agg(sum(round(col("__s"), 12).cast("decimal(38,12)"))
          .cast("double")).head().getDouble(0)
      val sqs = agg0.collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
      w = (0 until dims).map(p => sqs(p) - mu(p) * sS).toArray
      // left-to-right folds from +0.0 in dim order — the dot contract
      val norm = math.sqrt(w.foldLeft(0.0d)((a, x) => a + x * x))
      vPrev = v
      v = w.map(x => r12(x / norm))
    }
    val eigval = r6(
      vPrev.zip(w).foldLeft(0.0d)((a, p) => a + p._1 * p._2) / n)

    val ss = spark
    import ss.implicits._
    (0 until dims).map { p =>
      val (_, sq, sq2) = st(p)
      val variance = r6((BigDecimal(n) * BigDecimal(sq2) -
        BigDecimal(sq) * BigDecimal(sq)).toDouble /
        (BigDecimal(n) * BigDecimal(n)).toDouble)
      (p + 1, n, mu(p), variance, v(p), eigval)
    }.toDF("dim", "n", "mu", "variance", "loading", "eigval")
  }

  /**
   * Embedding EFFECTIVE dimensionality — the anisotropy audit that
   * answers "are my d dimensions actually carrying d dimensions of
   * signal": the participation ratio PR = (Σ_d v_d)² / Σ_d v_d² over
   * per-dimension variances (PR = d for isotropic spread, → 1 when
   * one dimension dominates — the "embeddings collapse into a narrow
   * cone" pathology), plus the top single dimension's share of total
   * variance. Cheaper and shuffle-lighter than the full [[topComponent]]
   * eigenpair (no iteration; axis-aligned), and the standard first
   * check before spending on PCA whitening.
   *
   * Exactness: per-dim moments are exact (quantized int embeddings,
   * BIGINT/DECIMAL sums — the [[topComponent]] convention); each
   * per-dim variance takes ONE portable-floored double division into
   * integer micro-like units; trace/top/ssq fold those exact longs;
   * PR is one double division rounded 6 dp; top share is integer ppm.
   *
   * Output (one row): `n_dims`, `n_vectors`, `trace` (Σ quantized
   * variances), `top_var`, `top_dim_share_ppm`, `participation_ratio`.
   *
   * Scale shape: ONE map-side-combined aggregation of the exploded
   * (dim, value) pairs — d·~40 B crosses the wire per partition —
   * then a d-row fold. No iteration, no driver state.
   */
  def effectiveDim(emb: DataFrame, vecCol: String, dims: Int): DataFrame = {
    require(dims >= 1, "dims must be >= 1")
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val st = emb
      .select(quantize(col(vecCol).cast("array<double>")).as("__q"))
      .where(size(col("__q")) === dims)
      .select(posexplode(col("__q")).as(Seq("__p", "__qi")))
      .groupBy("__p")
      .agg(count(lit(1)).as("__n"),
        sum(col("__qi").cast("long")).as("__s"),
        sum(col("__qi").cast("decimal(38,0)") * col("__qi").cast("long"))
          .cast("decimal(38,0)").as("__s2"))
    val num = dec(col("__n")) * col("__s2") -
      dec(col("__s")) * dec(col("__s"))
    val varq = st.withColumn("__v",
      floor(num.cast("double") /
        (col("__n").cast("double") * col("__n")) + 0.5d).cast("long"))
    varq.agg(count(lit(1)).as("n_dims"), max(col("__n")).as("n_vectors"),
        sum(col("__v")).as("trace"), max(col("__v")).as("top_var"),
        sum(dec(col("__v")) * col("__v")).cast("decimal(38,0)")
          .as("__ssq"))
      .select(col("n_dims"), col("n_vectors"), col("trace"),
        col("top_var"),
        when(col("trace") > 0L, expr("top_var * 1000000 div trace"))
          .as("top_dim_share_ppm"),
        when(col("__ssq") > 0L,
          round((dec(col("trace")) * col("trace")).cast("double") /
            col("__ssq").cast("double"), 6)).as("participation_ratio"))
  }

  /**
   * Pairwise centroid cosine between groups of embeddings — the
   * embedding-space source/label similarity matrix, the semantic
   * companion to the token-based `CorpusLM.jsSourceMatrix`: which
   * feeds/clusters point the same way. Uses the identity
   * cos(c_g, c_h) = cos(S_g, S_h) for SUM vectors S (the 1/n scalars
   * cancel), so centroids are never materialized as floats.
   *
   * Exactness: per-(group, dim) sums of the quantized int embeddings
   * are exact BIGINTs; pair dots and norms are exact DECIMAL(38,0)
   * sums of cross-products; the cosine is ONE fixed-order double
   * program (dot / (√n2a·√n2b)) rounded 6 dp. Zero-norm groups give
   * NULL.
   *
   * Output: (`g1`, `g2`, `n1`, `n2`, `cos_centroid`), g1 < g2.
   *
   * Scale shape: ONE map-side-combined (group, dim) aggregation over
   * the exploded scan — groups·d rows cross the wire; the pair join
   * runs over the GROUP-cardinality-bounded sum table (the
   * jsSourceMatrix posture). Vectors never pair row-against-row.
   */
  def centroidMatrix(emb: DataFrame, byCol: String, vecCol: String,
                     dims: Int): DataFrame = {
    require(dims >= 1, "dims must be >= 1")
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val st = emb
      .select(col(byCol).as("__g"),
        quantize(col(vecCol).cast("array<double>")).as("__q"))
      .where(col("__g").isNotNull && size(col("__q")) === dims)
      .select(col("__g"), posexplode(col("__q")).as(Seq("__p", "__qi")))
      .groupBy("__g", "__p")
      .agg(count(lit(1)).as("__n"), sum(col("__qi").cast("long")).as("__s"))
    val pair = st.alias("a")
      .join(st.alias("b"),
        col("a.__p") === col("b.__p") && col("a.__g") < col("b.__g"))
      .groupBy(col("a.__g").as("g1"), col("b.__g").as("g2"))
      .agg(max(col("a.__n")).as("n1"), max(col("b.__n")).as("n2"),
        sum(dec(col("a.__s")) * col("b.__s")).cast("decimal(38,0)")
          .as("__dot"),
        sum(dec(col("a.__s")) * col("a.__s")).cast("decimal(38,0)")
          .as("__n2a"),
        sum(dec(col("b.__s")) * col("b.__s")).cast("decimal(38,0)")
          .as("__n2b"))
    pair.select(col("g1"), col("g2"), col("n1"), col("n2"),
      when(col("__n2a") > 0L && col("__n2b") > 0L,
        round(col("__dot").cast("double") /
          (sqrt(col("__n2a").cast("double")) *
            sqrt(col("__n2b").cast("double"))), 6)).as("cos_centroid"))
  }

  /**
   * Simplified silhouette — clustering quality for a trained
   * [[kmeansCentroids]] model without the classic silhouette's
   * all-pairs distances: per point, a = distance to its OWN centroid,
   * b = distance to the nearest OTHER centroid, s = (b − a) / b
   * (b ≥ a by construction, so max(a, b) = b; s = 0 when b = 0).
   * The standard readout for "did k split anything real" at corpus
   * scale — O(N·C), the same cost as one assignment round.
   *
   * Determinism: quantized vectors keep every squared distance an
   * integer-valued double, the (d2, cid) lexicographic fold breaks
   * ties engine-independently, sqrt/subtract/divide is ONE
   * fixed-order double program, and each point's s quantizes to
   * integer micro before the per-cluster sum — so the cluster means
   * are integer decisions (`mean_s_micro` = Σ s_micro div n).
   *
   * Output per cluster: `cid`, `n`, `mean_s_micro`.
   *
   * Scale shape: centroids broadcast as ONE collected array (C ≈ √N
   * by the [[sqrtStride]] discipline — d-doubles-bounded driver
   * state, the kmeans precedent); the two-best fold runs inside the
   * scan; the only exchange carries (cid, n, Σ) per cluster.
   */
  def simplifiedSilhouette(emb: DataFrame, idCol: String, vecCol: String,
                           centroids: DataFrame): DataFrame = {
    // q·q is loop-invariant — hoisted to a column; c·c rides the
    // broadcast entries (r17) — the C-wide fold does one d-wide dot
    // per centroid, not two
    val q = emb.select(col(idCol).as("__id"), quantize(col(vecCol)).as("__q"))
      .withColumn("__qq", dot(col("__q"), col("__q")))
    val centArr = centroids
      .agg(collect_list(struct(col("__cid"), col("__cv"),
        dot(col("__cv"), col("__cv")).as("__cvv"))).as("__cents"))
    val far = struct(lit(Double.MaxValue).as("d2"), lit(Long.MaxValue).as("cid"))
    val acc0 = struct(far.as("b1"), far.as("b2"))
    val best2 = aggregate(col("__cents"), acc0, (acc, c) => {
      val cv = c.getField("__cv")
      val d2 = col("__qq") -
        lit(2.0) * dot(col("__q"), cv) + c.getField("__cvv")
      val cand = struct(d2.as("d2"), c.getField("__cid").as("cid"))
      val b1 = acc.getField("b1")
      val b2 = acc.getField("b2")
      when(cand < b1, struct(cand.as("b1"), b1.as("b2")))
        .otherwise(struct(b1.as("b1"),
          when(cand < b2, cand).otherwise(b2).as("b2")))
    })
    val sa = sqrt(col("__b").getField("b1").getField("d2"))
    val sb = sqrt(col("__b").getField("b2").getField("d2"))
    // a single-centroid model has no "nearest other" — s defined 0
    val s = when(col("__b").getField("b2").getField("cid") ===
        lit(Long.MaxValue), lit(0.0d))
      .when(sb > 0d, (sb - sa) / sb).otherwise(lit(0.0d))
    q.crossJoin(broadcast(centArr))
      .withColumn("__b", best2)
      .withColumn("__s", floor(s * 1e6d + 0.5d).cast("long"))
      .groupBy(col("__b").getField("b1").getField("cid").as("cid"))
      .agg(count(lit(1)).as("n"), sum(col("__s")).as("__ss"))
      .withColumn("mean_s_micro", expr("__ss div n"))
      .select(col("cid"), col("n"), col("mean_s_micro"))
  }

  /**
   * Johnson–Lindenstrauss random projection — the embedding
   * compression gear BEFORE the ANN family: project d-dim vectors
   * onto k pseudo-random ±1 directions (Achlioptas 2003: the
   * database-friendly sparse JL construction; E[‖Pa − Pb‖²] =
   * k·‖a − b‖², so distances survive up to the JL distortion bound
   * while index/scan cost drops d/k-fold). The sign matrix is
   * DERIVED, not stored: sign(i, j) = ±1 from a pure-integer mixing
   * hash of (output dim, input dim) — any engine replays the exact
   * projection with no side channel, the portable-selector
   * discipline.
   *
   * [[jlDistanceAudit]] is the gated readout: for given id pairs,
   * the exact original and projected squared distances and their
   * ppm ratio against the k·d² expectation — the "is the projection
   * healthy" audit to run before trusting a compressed index.
   *
   * Exactness: quantized vectors make every coordinate an
   * integer-valued double; each projected coordinate is an in-row
   * HOF fold of ±q_j (exact far past any real magnitude); squared
   * distances are integer sums; the ratio is ONE `div` of
   * DECIMAL(38,0) products — pure integer decisions.
   *
   * Scale shape: projection is scan-local (no shuffle — the ±1
   * matrix is arithmetic, not data); the audit joins only the
   * requested pairs.
   */
  def randomProject(emb: DataFrame, idCol: String, vecCol: String,
                    inDims: Int, outDims: Int): DataFrame = {
    require(inDims >= 1 && outDims >= 1, "dims must be >= 1")
    // the parity hash resolves at PLAN time (pure integer arithmetic
    // — the oracle replays the same formula in SQL), so each output
    // coordinate is a flat codegen'd sum of ±q_j terms, not an
    // interpreted nested-HOF walk (measured ~30× faster — SWEEP_r13)
    def sign(i: Int, j: Int): Boolean =
      ((j.toLong * 2654435761L + i.toLong * 40503L) % 1000000007L) % 2L == 0L
    val q = quantize(col(vecCol))
    // wrong-width vectors (mixed encoder versions) drop here — the
    // effectiveDim/topComponent convention; element_at past the end
    // would otherwise propagate silent NULL coordinates downstream
    emb.select(col(idCol).as("__id"), q.as("__q"))
      .where(size(col("__q")) === inDims)
      .withColumn("__p", array((0 until outDims).map { i =>
        (1 to inDims).map { j =>
          if (sign(i, j)) element_at(col("__q"), j)
          else -element_at(col("__q"), j)
        }.reduce(_ + _)
      }: _*))
  }

  /**
   * JL distance-preservation audit over explicit id pairs: per pair
   * (a, b) the exact squared distances in original and projected
   * space and `ratio_ppm` = (d²_proj·10⁶) div (k·d²_orig) — 10⁶
   * means the projection preserved this pair's distance exactly at
   * expectation. Identical vectors report NULL ratio (0/0).
   */
  def jlDistanceAudit(emb: DataFrame, idCol: String, vecCol: String,
                      inDims: Int, outDims: Int,
                      pairs: Seq[(Long, Long)]): DataFrame = {
    require(pairs.nonEmpty, "need at least one audit pair")
    val spark = emb.sparkSession
    import spark.implicits._
    val projected = Share.once(
      randomProject(emb, idCol, vecCol, inDims, outDims),
      "jlDistanceAudit.projected")
    val pairDf = pairs.toDF("a", "b")
    def d2(x: Column, y: Column): Column =
      aggregate(zip_with(x, y, (u, v) => (u - v) * (u - v)),
        lit(0.0d), _ + _)
    val joined = pairDf
      .join(projected.select(col("__id").as("a"), col("__q").as("__qa"),
        col("__p").as("__pa")), "a")
      .join(projected.select(col("__id").as("b"), col("__q").as("__qb"),
        col("__p").as("__pb")), "b")
    joined.select(col("a"), col("b"),
        d2(col("__qa"), col("__qb")).cast("long").as("d2_orig"),
        d2(col("__pa"), col("__pb")).cast("long").as("d2_proj"))
      .withColumn("ratio_ppm",
        when(col("d2_orig") > 0L,
          expr(s"(cast(d2_proj as decimal(38,0)) * 1000000) div " +
            s"(cast(d2_orig as decimal(38,0)) * $outDims)"))
          .otherwise(lit(null).cast("long")))
  }
}
