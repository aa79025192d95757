package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Share

/**
 * Deterministic corpus sampling (north star: training-data mixing) —
 * the subsampling/quota steps a data-mixture pipeline runs after dedup
 * and quality filtering. No `rand()` anywhere: sampling decisions are
 * pure functions of the row's id, so a re-run (or a replayed micro-batch)
 * selects the identical subset, and an external engine can replay the
 * exact sample.
 *
 * The selector is the portable multiplicative hash
 * `(id · 2654435761) mod 1e9+7` (Knuth's 2^32/φ constant over the same
 * prime the portable SimHash family uses — `Dedup.PortableHashP`):
 * integer arithmetic under 2^62, bit-identical in any engine, and
 * well-mixed across consecutive ids.
 *
 * Scale shape: `hashSample` is a pure filter — pushes into the scan
 * projection, no shuffle, no state. `stratifiedQuota` is one ranking
 * shuffle on the strata key (the same shape as per-group top-k), state
 * bounded by quota × |strata|.
 */
object Sampling {

  /** Portable per-id selector in [0, 1e9+7). */
  def selector(id: Column): Column =
    pmod(id * lit(2654435761L), lit(Dedup.PortableHashP))

  /**
   * Keep ≈`permille`/1000 of rows, deterministically by id hash.
   * Exactly reproducible: the same ids survive on every run and engine.
   */
  def hashSample(df: DataFrame, idCol: String, permille: Int): DataFrame = {
    require(permille >= 0 && permille <= 1000, "permille must be in [0, 1000]")
    df.filter(selector(col(idCol)) * 1000 < lit(permille.toLong) * lit(Dedup.PortableHashP))
  }

  /** Seeded permutation key in [0, 1e9+7): the seed translates the id
    * before the multiplicative mix, so each seed yields a different,
    * exactly reproducible ordering. Inner `pmod` keeps the product
    * under 2^62 for any non-negative id/seed. */
  def shuffleKey(id: Column, seed: Long): Column = {
    require(seed >= 0, "seed must be non-negative")
    pmod(pmod(id + lit(seed), lit(Dedup.PortableHashP)) * lit(2654435761L),
      lit(Dedup.PortableHashP))
  }

  /**
   * Deterministic training-order shuffle: a seeded global permutation of
   * the corpus (the epoch shuffle every training run needs, minus the
   * nondeterminism). The sort key is the portable seeded hash of the
   * row id with the id itself as tie-break, so the order is TOTAL,
   * identical on every run and engine for a given seed, and a new seed
   * is a new permutation — reshuffling between epochs is just seed+1,
   * no state carried.
   *
   * Scale shape: one range-partitioned total sort (Spark samples the
   * key space to build balanced ranges) — the same cost as any global
   * sort of the corpus, with output files landing in shuffled order
   * ready for sequential training reads. No window, no single-partition
   * stage, no rand().
   */
  def seededShuffle(df: DataFrame, idCol: String, seed: Long): DataFrame =
    df.orderBy(shuffleKey(col(idCol), seed), col(idCol))

  /**
   * Weighted mixture sampling — per-stratum rates (the actual data-
   * mixing recipe: "500‰ of English, 300‰ of German, 50‰ of everything
   * else"). Same portable selector, so the survivor set is exactly
   * reproducible; a stratum's sample is a SUPERSET of any lower-rate
   * sample of it (nested samples — raising a rate only adds documents,
   * it never reshuffles the ones already chosen).
   */
  def mixtureSample(df: DataFrame, strataCol: String, idCol: String,
                    permilleByStratum: Map[String, Int],
                    defaultPermille: Int = 0): DataFrame = {
    require((defaultPermille +: permilleByStratum.values.toSeq)
      .forall(p => p >= 0 && p <= 1000), "permille values must be in [0, 1000]")
    val rate = permilleByStratum.toSeq.sortBy(_._1)
      .foldLeft(lit(defaultPermille.toLong)) { case (acc, (k, v)) =>
        when(col(strataCol) === k, lit(v.toLong)).otherwise(acc)
      }
    df.filter(selector(col(idCol)) * 1000 < rate * lit(Dedup.PortableHashP))
  }

  /**
   * Token-budget selection — "take documents, in deterministic
   * pseudo-random order, until the running weight total reaches B"
   * (the fill-a-training-budget step after dedup/quality/mixing).
   *
   * A naive global running sum is `Window.orderBy(...)` with no
   * partition key — Spark funnels the ENTIRE dataset through one task.
   * This is the scale-correct two-phase form: bucket the selector range
   * (selectors are uniform, so buckets are balanced), aggregate one
   * weight total per bucket, prefix-sum the ~`buckets` totals in a tiny
   * single-partition window (bucket-count rows, not data rows), and
   * broadcast-join each bucket's exclusive offset back so the per-bucket
   * running sums — computed in parallel — compose into the exact global
   * running sum. Output rows carry `__cum` (inclusive global total) and
   * survive while `__cum <= budget`.
   *
   * Deterministic: ordering is (selector, id), both integer.
   */
  def tokenBudget(df: DataFrame, idCol: String, weightCol: String,
                  budget: Long, buckets: Int = 256): DataFrame = {
    require(budget >= 0, "budget must be >= 0")
    globalRunningSum(df, selector(col(idCol)), idCol, weightCol, buckets)
      .filter(col("__cum") <= budget)
  }

  /** Exact global running sum of `weightCol` in (`sel`, id) order,
    * two-phase: bucket the selector range (selectors are uniform, so
    * buckets are balanced), aggregate one weight total per bucket,
    * prefix-sum the ~`buckets` totals in a tiny single-partition window
    * (bucket-count rows, not data rows), and broadcast-join each
    * bucket's exclusive offset back so the per-bucket running sums —
    * computed in parallel — compose into the exact global prefix.
    * Adds `__cum` (inclusive global total at this row). */
  private def globalRunningSum(df: DataFrame, sel: Column, idCol: String,
                               weightCol: String, buckets: Int): DataFrame = {
    require(buckets >= 1, "buckets must be >= 1")
    val bkt = (sel * buckets) / lit(Dedup.PortableHashP) // order-preserving
    val withB = df.withColumn("__sel", sel).withColumn("__bkt", bkt)
    val perBucket = withB.groupBy("__bkt")
      .agg(sum(col(weightCol)).as("__bsum"))
    // prefix over ≤ `buckets` rows — the ONLY single-partition window,
    // and it is bucket-count-sized by construction
    val wB = Window.orderBy("__bkt")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offsets = perBucket
      .withColumn("__off", sum(col("__bsum")).over(wB) - col("__bsum"))
      .select("__bkt", "__off")
    val wIn = Window.partitionBy("__bkt").orderBy(col("__sel"), col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    withB
      .join(broadcast(offsets), "__bkt")
      .withColumn("__cum", col("__off") + sum(col(weightCol)).over(wIn))
      .drop("__sel", "__bkt", "__off")
  }

  /**
   * Epoch-weighted mixture up/down-sampling — `mixtureSample` with the
   * permille cap removed (the real data-mixing recipe runs sources at
   * MORE than one epoch: "2500‰ of books, 700‰ of web, drop the rest").
   * A rate of 2500‰ yields 2 full copies of every document plus a third
   * copy of the deterministic 50% selected by the same portable
   * selector `hashSample` uses — so rates ≤ 1000 degenerate to exactly
   * `mixtureSample`'s subset, and the fractional copy of a stratum is
   * the SAME nested subset family (raising a rate never reshuffles
   * copies already chosen). Each output row carries `copyCol`
   * (0-based copy index): downstream `seededShuffle` on a
   * (id, copy)-derived key scatters the replicas across the epoch.
   *
   * Scale shape: a pure narrow `explode(sequence(...))` — no shuffle,
   * no state; output size is exactly the mixture's epoch budget.
   */
  def mixtureUpsample(df: DataFrame, strataCol: String, idCol: String,
                      permilleByStratum: Map[String, Int],
                      defaultPermille: Int = 0,
                      copyCol: String = "copy"): DataFrame = {
    require((defaultPermille +: permilleByStratum.values.toSeq).forall(_ >= 0),
      "permille values must be >= 0")
    val rate = permilleByStratum.toSeq.sortBy(_._1)
      .foldLeft(lit(defaultPermille.toLong)) { case (acc, (k, v)) =>
        when(col(strataCol) === k, lit(v.toLong)).otherwise(acc)
      }
    val frac = rate % lit(1000L)
    // (rate - frac) is an exact multiple of 1000, so the double division
    // is exact — whole epochs without Column `/`'s ulp hazard
    val full = ((rate - frac) / lit(1000L)).cast("long")
    val extra = when(selector(col(idCol)) * 1000 < frac * lit(Dedup.PortableHashP), 1L)
      .otherwise(0L)
    val copies = (full + extra).as("__n")
    df.withColumn(copyCol, explode(
      when(copies >= 1L, sequence(lit(0L), copies - 1))
        .otherwise(array().cast("array<bigint>"))))
  }

  /**
   * Sequence packing (concat-then-chunk): lay the corpus out as one
   * deterministic token stream — documents in seeded-shuffle order —
   * and cut it into fixed training sequences of `seqLen` tokens. Each
   * document is stamped with where it BEGINS in that stream:
   * `seq_id = start div seqLen`, `seq_off = start mod seqLen`, where
   * `start` is the exclusive global prefix of `weightCol`. Documents
   * straddle sequence boundaries (GPT-style packing: zero padding
   * waste); a loader groups by `seq_id` and reads sequences
   * sequentially. A new seed is a new epoch layout — repacking is
   * seed+1, nothing else changes.
   *
   * Scale shape: identical to `tokenBudget` — the two-phase exact
   * prefix sum (bucketed partials, bucket-count-sized offsets window,
   * broadcast join back). No global-order window ever sees data rows.
   */
  def packSequences(df: DataFrame, idCol: String, weightCol: String,
                    seqLen: Long, seed: Long = 0L, buckets: Int = 256): DataFrame = {
    require(seqLen >= 1, "seqLen must be >= 1")
    globalRunningSum(df, shuffleKey(col(idCol), seed), idCol, weightCol, buckets)
      // `div`: exact integer division on longs (the `/` Column op is
      // double division, off by an ulp near bucket boundaries)
      .withColumn("seq_id", expr(s"(__cum - $weightCol) div ${seqLen}L"))
      .withColumn("seq_off", pmod(col("__cum") - col(weightCol), lit(seqLen)))
      .drop("__cum")
  }

  /**
   * Exact per-stratum quotas (the data-mixture step: "at most K
   * documents per language/source"): rank rows within each stratum by
   * (selector, id) — a deterministic pseudo-random order — and keep the
   * first `quota`. Strata smaller than the quota survive whole.
   */
  def stratifiedQuota(df: DataFrame, strataCols: Seq[String], idCol: String,
                      quota: Int): DataFrame = {
    require(quota >= 1, "quota must be >= 1")
    val w = Window.partitionBy(strataCols.map(col): _*)
      .orderBy(selector(col(idCol)), col(idCol))
    val rn = "__sq_rn"
    df.withColumn(rn, row_number().over(w))
      .filter(col(rn) <= quota)
      .drop(rn)
  }

  /**
   * Quantile-threshold filter — the "drop the bottom q of the corpus by
   * quality score" gate a scored pipeline runs between the classifier
   * and mixing: rows survive where `valueCol >=` the per-group exact
   * q-quantile. Thresholds come from [[Relational.exactQuantiles]]
   * (bounded-memory, exact, `quantile_cont` interpolation), so the cut
   * point is replayable to the bit by an external engine — no sampled
   * sketch drift moving the boundary between runs.
   *
   * Scale shape: the threshold table is ONE row per group — broadcast,
   * so the survivor pass is a pure filter over the scan with no new
   * shuffle; the only exchanges are exactQuantiles' own bounded stages.
   */
  /**
   * Leakage-free train/holdout split assignment: every document draws
   * its split from its duplicate-cluster REPRESENTATIVE (the cluster
   * label for clustered docs, the doc's own id for singletons), so the
   * members of a near-duplicate cluster can never straddle the split
   * boundary — the standard guard against a model being "validated" on
   * near-copies of its training rows. The draw is the portable
   * [[selector]] hash, so the assignment is deterministic, engine-
   * replayable, and stable under re-runs.
   *
   * `clusters` is a [[graft.operators.Dedup.dupClusters]]-shaped table
   * (`memberCol`, `labelCol`) — one row per doc that appears in any
   * duplicate pair; docs absent from it are singletons by construction.
   *
   * Scale shape: one equi-join on the id between `df` and the cluster
   * table (a vanishing fraction of the corpus — only dup members), then
   * a pure projection. Pass a PRUNED `df` (id + the columns the
   * downstream aggregation needs): the assignment never needs the text,
   * so the text should not travel through the join's exchange.
   */
  def clusterAwareSplit(df: DataFrame, idCol: String, clusters: DataFrame,
                        memberCol: String, labelCol: String,
                        trainPermille: Int): DataFrame = {
    require(trainPermille >= 0 && trainPermille <= 1000,
      "trainPermille must be in [0, 1000]")
    val rep = coalesce(col(labelCol), col(idCol))
    df.join(clusters, df(idCol) === clusters(memberCol), "left")
      .withColumn("split",
        when(selector(rep) * 1000 <
            lit(trainPermille.toLong) * lit(Dedup.PortableHashP), "train")
          .otherwise("holdout"))
      .drop(memberCol, labelCol)
  }

  /**
   * Temperature-based mixture resampling — the p_i ∝ n_i^α stratum
   * rebalancing of multilingual/multi-source training mixes (XLM,
   * mT5): α = 1 keeps natural proportions, α → 0 flattens toward
   * uniform, in between low-resource strata upsample smoothly. Where
   * [[mixtureUpsample]] takes rates as INPUT, this operator derives
   * them from the corpus itself: per-stratum counts → weights
   * n^α (micro-scaled integers after one 6-dp-safe rounding of the
   * pow) → exact integer-division share of `totalTarget` → per-row
   * copy counts via the portable selector (whole epochs for the
   * integer part, a deterministic id-hash slice for the fraction —
   * the mixtureUpsample mechanism, so a replay emits identical rows).
   *
   * Scale shape: the plan table is one row per stratum (a broadcast);
   * everything else is a scan-local projection + explode. No windows,
   * no per-stratum reducer, no rand().
   *
   * Output: input columns + `stratum_docs`, `stratum_target`,
   * `rate_micro` (rows per input row in ppm) and `copyCol` (0-based
   * epoch index per emitted copy).
   */
  def temperatureMixture(df: DataFrame, strataCol: String, idCol: String,
                         alpha: Double, totalTarget: Long,
                         copyCol: String = "copy"): DataFrame = {
    require(alpha >= 0.0 && alpha <= 1.0, "alpha must be in [0, 1]")
    require(totalTarget >= 0, "totalTarget must be >= 0")
    val n = df.groupBy(col(strataCol)).agg(count(lit(1)).as("__nd"))
    val w = n.withColumn("__wmicro",
      round(pow(col("__nd").cast("double"), lit(alpha)) * lit(1000000.0d))
        .cast("long"))
    val tot = w.agg(sum(col("__wmicro")).as("__wsum"))
    val plan = w.crossJoin(broadcast(tot)) // 1-row total: no collect
      .withColumn("__target", expr(s"${totalTarget}L * __wmicro div __wsum"))
      .withColumn("__rate_micro", expr("__target * 1000000 div __nd"))
      .select(col(strataCol).as("__k"), col("__nd"), col("__target"),
        col("__rate_micro"))
    val full = expr("__rate_micro div 1000000")
    val frac = col("__rate_micro") % lit(1000000L)
    val extra = when(
      selector(col(idCol)) * lit(1000000L) <
        frac * lit(Dedup.PortableHashP), 1L).otherwise(0L)
    val copies = full + extra
    df.join(broadcast(plan), col(strataCol) === col("__k")).drop("__k")
      .withColumn(copyCol, explode(
        when(copies >= 1L, sequence(lit(0L), copies - 1))
          .otherwise(array().cast("array<bigint>"))))
      .withColumnRenamed("__nd", "stratum_docs")
      .withColumnRenamed("__target", "stratum_target")
      .withColumnRenamed("__rate_micro", "rate_micro")
  }

  /**
   * Length-bucketed batch assembly — the dynamic-batching step an
   * inference/eval fleet (or a padded-training loader) runs so that a
   * batch never pads a 30-token doc out to a 4096-token neighbor:
   * every row buckets to the next power of two ≥ its length, so
   * co-batched rows are within 2× of each other and padding waste is
   * < 50% BY CONSTRUCTION, whatever order batches fill in.
   *
   * Batches form deterministically inside (bucket, shard) cells:
   * `shards` range-shards of the portable id selector split each
   * bucket, rows rank by (length desc, id) within their cell (longest
   * first packs tightest), and consecutive `batchSize` rows share a
   * batch. Output: one row per batch — (`bucket_cap`, `shard`,
   * `batch_id`, `n_docs`, `batch_len` = the batch's max length,
   * `sum_len`, `waste` = n_docs·batch_len − sum_len).
   *
   * Scale shape: only (id, len) rows move; the ranking window
   * partitions by (bucket, shard) — ~log₂(maxLen)·shards independent
   * cells, so parallelism is a dial (set `shards` ≈ cluster cores),
   * no single-reducer bucket, and batch decisions never cross shards
   * (each cell is an independent deterministic sub-problem — the
   * replay contract survives any cluster size). The exponent is
   * integer-exact via the binary-representation length — no float
   * log2 at power-of-two boundaries.
   */
  def lengthBucketBatches(df: DataFrame, idCol: String, lenCol: String,
                          batchSize: Int, shards: Int = 32): DataFrame = {
    require(batchSize >= 1, "batchSize must be >= 1")
    require(shards >= 1, "shards must be >= 1")
    val len = col(lenCol).cast("long")
    val e = when(len <= 1L, 0)
      .otherwise(length(conv(len - 1, 10, 2)))
    val shard = (selector(col(idCol)) * shards) / lit(Dedup.PortableHashP)
    val cells = df.select(col(idCol).as("__id"), len.as("__len"),
        e.as("__e"), shard.cast("int").as("shard"))
      // shiftleft's Scala binding takes a literal bit count; the SQL
      // form accepts a column exponent
      .withColumn("bucket_cap", expr("shiftleft(CAST(1 AS BIGINT), __e)"))
      .drop("__e")
    val w = Window.partitionBy(col("bucket_cap"), col("shard"))
      .orderBy(col("__len").desc, col("__id").asc)
    cells.withColumn("__rn0", (row_number().over(w) - lit(1)).cast("long"))
      // `div`: exact integer division (the `/` Column op is double)
      .withColumn("batch_id", expr(s"__rn0 div ${batchSize}L"))
      .groupBy("bucket_cap", "shard", "batch_id")
      .agg(count(lit(1)).as("n_docs"), max(col("__len")).as("batch_len"),
        sum(col("__len")).as("sum_len"))
      .withColumn("waste",
        col("n_docs") * col("batch_len") - col("sum_len"))
  }

  def quantileThresholdFilter(df: DataFrame, groupCols: Seq[String],
                              valueCol: String, q: Double): DataFrame = {
    val thrCol = Iterator.from(0).map(i => s"__qtf_thr$i")
      .find(n => !df.columns.contains(n)).get
    val thr = Relational.exactQuantiles(df, groupCols, valueCol,
      Seq(thrCol -> q))
    df.join(broadcast(thr), groupCols)
      .filter(col(valueCol).cast("double") >= col(thrCol))
      .drop(thrCol)
  }

  /**
   * Weighted sampling WITHOUT replacement by the Efraimidis–Spirakis
   * one-pass key method (Efraimidis & Spirakis 2006 — implemented
   * from the published algorithm): each row draws u ∈ (0,1) and the
   * sample is the top-k by key u^(1/w) — equivalently by
   * ln(u)/w, which is what this computes. Inclusion probability is
   * proportional to weight at every prefix, the property
   * rate-per-stratum quotas can't give when weights vary row-by-row
   * (length-proportional corpus sampling, importance-weighted
   * selection).
   *
   * Deterministic: u = (selector(id) + 1)/(P + 1) from the portable
   * multiplicative hash — strictly inside (0, 1), so ln is finite —
   * one double division of exact integers; the key is round-12 of
   * ln(u)/w; rank ties break by id so the order is TOTAL and any
   * engine replays the same sample. Non-positive weights drop
   * (undefined under the method).
   *
   * Output: the sampled rows with `es_key` attached, top-k per `by`
   * group (the whole frame if `by` is empty).
   *
   * Scale shape: one scan to key + one per-group top-k ranking
   * shuffle — the stratifiedQuota shape; no global sort of survivors.
   */
  def weightedSample(df: DataFrame, idCol: String, weightCol: String,
                     k: Int, by: Seq[String] = Nil): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val u = (selector(col(idCol)) + 1).cast("double") /
      lit((Dedup.PortableHashP + 1).toDouble)
    val keyed = df
      .where(col(weightCol).isNotNull && col(weightCol) > 0)
      .withColumn("es_key",
        round(log(u) / col(weightCol).cast("double"), 12))
    val w = Window.partitionBy(by.map(col): _*)
      .orderBy(col("es_key").desc, col(idCol).asc)
    keyed.withColumn("__rk", row_number().over(w))
      .where(col("__rk") <= k)
      .drop("__rk")
  }

  /**
   * Water-filling budget allocation under supply caps — the fair-share
   * mixing rule for "give every source an equal token budget, except a
   * source can't give more than it has; redistribute what the small
   * feeds can't use": every stratum gets min(supply, λ) with the water
   * level λ set so allocations sum to EXACTLY min(B, Σsupply). The
   * equal-share complement to [[neymanAllocation]]'s variance-optimal
   * rule and [[temperatureMixture]]'s power-law reweighting.
   *
   * CLOSED FORM, no iteration: sort strata by (supply asc, stratum
   * asc); stratum i is fully served iff supply·(n−i+1) ≤ B − P_{i−1}
   * (a PURE-INTEGER comparison; the served set is always a prefix of
   * the sorted order — each remaining term is ≥ the current supply).
   * The leftover R = B − P_{i*} splits over the m uncapped strata as
   * R div m each, with the first R mod m (in sort order) getting +1 —
   * exact to the unit, every decision an integer.
   *
   * Output per stratum: `supply`, `alloc`, `capped` (true = held at
   * the water level). Σ alloc = min(B, Σ supply) exactly.
   *
   * Scale shape: one stratum-bounded sort window + two 1-row
   * broadcasts; supplies×(n) products must fit BIGINT (10¹⁵-scale
   * headroom at any realistic stratum count).
   */
  def waterFill(df: DataFrame, stratumCol: String, supplyCol: String,
                budget: Long): DataFrame = {
    require(budget >= 0, "waterFill: budget must be >= 0")
    val base = df.select(col(stratumCol).as("stratum"),
        col(supplyCol).cast("long").as("supply"))
      .where(col("supply").isNotNull && col("supply") >= 0L)
    val w = Window.orderBy(col("supply"), col("stratum"))
    val wPrev = Window.orderBy(col("supply"), col("stratum"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val tot = base.agg(count(lit(1)).as("__n"),
      coalesce(sum(col("supply")), lit(0L)).as("__tot"))
    val marked = base
      .withColumn("__i", row_number().over(w).cast("long"))
      .withColumn("__pprev",
        coalesce(sum(col("supply")).over(wPrev), lit(0L)))
      .crossJoin(broadcast(tot))
      .withColumn("__served",
        col("supply") * (col("__n") - col("__i") + 1L) <=
          lit(budget) - col("__pprev"))
    val lvl = marked.agg(
      coalesce(sum(when(col("__served"), 1L).otherwise(0L)), lit(0L))
        .as("__istar"),
      coalesce(sum(when(col("__served"), col("supply")).otherwise(0L)),
        lit(0L)).as("__pstar"))
    marked.crossJoin(broadcast(lvl))
      .withColumn("__m", col("__n") - col("__istar"))
      .withColumn("__r", lit(budget) - col("__pstar"))
      .select(col("stratum"), col("supply"),
        when(col("__served"), col("supply"))
          .otherwise(expr("__r div __m") +
            when(col("__i") - col("__istar") <= expr("__r % __m"), 1L)
              .otherwise(0L)).as("alloc"),
        (!col("__served")).as("capped"))
  }

  /**
   * Greedy maximum-coverage selection — the classic (1 − 1/e)-
   * approximate submodular-cover step (Nemhauser–Wolsey–Fisher 1978,
   * implemented from the standard greedy): pick k documents that
   * together cover the most DISTINCT vocabulary, the data-selection
   * move behind "seed the eval set / dedup canon / annotation batch
   * with maximally diverse docs" that top-k-by-length can't do (long
   * near-duplicates add nothing). Each round takes the doc with the
   * largest count of still-uncovered token hashes; ties break to the
   * min id, so the whole trajectory is deterministic.
   *
   * All decisions are integer (distinct-hash counts; argmin over
   * struct(-gain, id) with the id in its NATIVE orderable type —
   * string ids work). Rounds are DataFrame-only (the
   * [[Similarity.coresetSelect]] pattern — 1-row argmax broadcasts,
   * no driver-side data): per round one anti-join against the covered
   * hash set + one count + one argmax. If coverage saturates before
   * k rounds, later rounds select nothing (fewer than k output rows).
   *
   * Output per pick: (`sel_round`, doc id, `gain` — newly covered
   * hashes, `covered_total` — running coverage).
   *
   * Scale shape: k passes over the 16 B (doc, hash) pair table; the
   * covered set is hash-only. k is a small constant by contract (the
   * k-round cost is the algorithm, not an accident).
   */
  def coverageSelect(docs: DataFrame, idCol: String, textCol: String,
                     k: Int, shingleWidth: Int = 1): DataFrame = {
    require(k >= 1 && k <= 64, "coverageSelect: k must be in [1, 64]")
    require(shingleWidth >= 1, "coverageSelect: shingleWidth must be >= 1")
    // coverage units: word w-shingles (w = 1 is plain vocabulary; a
    // wider w makes the universe discriminative enough that greedy
    // rounds actually compete instead of saturating on one long doc)
    val toks = filter(split(lower(trim(col(textCol))), " "),
      t => t =!= "")
    val units =
      if (shingleWidth == 1) explode(toks)
      else explode(transform(
        when(size(toks) >= shingleWidth,
          sequence(lit(1), size(toks) - (shingleWidth - 1)))
          .otherwise(array().cast("array<int>")),
        i => array_join(slice(toks, i, lit(shingleWidth)), " ")))
    // the id stays in its NATIVE orderable type (string ids work; a
    // cast to long silently nulled them, collapsing every doc into
    // one __id) — the argmin negates the GAIN (a count, always a
    // safe negation) instead of the id, and the struct carries the
    // winning id out directly
    val rows = Share.once(docs.select(col(idCol).as("__id"), units.as("__t"))
      .where(col("__id").isNotNull && col("__t") =!= "")
      .select(col("__id"), TextMetrics.tokenHash(col("__t")).as("__h"))
      .distinct(), "coverageSelect.rows")
    var selected: DataFrame = null
    var covered: DataFrame = null
    for (r <- 1 to k) {
      val remaining =
        if (r == 1) rows else rows.join(covered, Seq("__h"), "left_anti")
      val gain = remaining.groupBy("__id").agg(count(lit(1)).as("__g"))
      val next = gain
        .agg(min(struct((-col("__g")).as("__ng"), col("__id").as("__id")))
          .as("__m"))
        .where(col("__m").isNotNull)
        .select(lit(r).as("sel_round"), col("__m.__id").as("__id"),
          (-col("__m.__ng")).as("gain"))
      selected = Share.once(if (r == 1) next else selected.unionAll(next),
        "coverageSelect.selected")
      covered = rows
        .join(selected.select(col("__id")), Seq("__id"), "left_semi")
        .select(col("__h")).distinct()
    }
    val w = Window.orderBy(col("sel_round"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    selected.withColumn("covered_total", sum(col("gain")).over(w))
      .select(col("sel_round").cast("long").as("sel_round"),
        col("__id").as(idCol), col("gain"), col("covered_total"))
  }

  /**
   * Neyman-optimal stratified allocation with EXACT largest-remainder
   * apportionment (Neyman 1934; Hamilton's method for the integer
   * step) — how many samples each stratum gets out of a fixed budget
   * when minimizing the estimator's variance: n_h ∝ N_h·σ_h, so big
   * AND internally-diverse strata get more; zero-variance strata get
   * zero (one sample already tells you everything — the refinement
   * plain proportional quotas miss).
   *
   * Exactness — every decision integer/decimal: σ_h portable-floors
   * ONE fixed-order double program (√ of the exact DECIMAL variance
   * numerator, / n) into micro units; weights w_h = n_h·σ_µ are exact
   * BIGINTs; quotas B·w_h/Σw use DECIMAL(38,0) integral division
   * (never a float), remainders are exact, and the B − Σ⌊quota⌋
   * leftover goes to the largest remainders with (remainder desc,
   * stratum asc) total tie-breaks — allocations sum to EXACTLY B.
   *
   * Output per stratum: `n`, `sigma_micro`, `weight`, `share_ppm`,
   * `n_alloc`. All-zero weights (every stratum constant) → NULL
   * allocations (Neyman undefined; fall back to proportional
   * yourself).
   *
   * Scale shape: one map-side-combined moment aggregation; everything
   * after runs on the STRATUM-cardinality-bounded table (1-row total
   * broadcasts, a strata-bounded rank window).
   */
  def neymanAllocation(df: DataFrame, stratumCol: String,
                       valueCol: String, budget: Long): DataFrame = {
    require(budget >= 0, "neymanAllocation: budget must be >= 0")
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val v = col(valueCol).cast("long")
    val st = df.where(v.isNotNull)
      .groupBy(col(stratumCol).as("stratum"))
      .agg(count(lit(1)).as("n"), sum(v).as("__s"),
        sum(dec(v) * v).cast("decimal(38,0)").as("__s2"))
      .withColumn("sigma_micro",
        floor(sqrt((dec(col("n")) * col("__s2") -
          dec(col("__s")) * col("__s")).cast("double")) /
          col("n") * 1e6d + 0.5d).cast("long"))
      .withColumn("weight", col("n") * col("sigma_micro"))
    val tot = st.agg(sum(dec(col("weight"))).cast("decimal(38,0)")
      .as("__tw"))
    val quotas = st.crossJoin(broadcast(tot))
      .withColumn("share_ppm", when(col("__tw") > 0L,
        expr("CAST(CAST(weight AS DECIMAL(38,0)) * 1000000 div __tw AS BIGINT)")))
      .withColumn("__base", when(col("__tw") > 0L,
        expr(s"CAST(CAST(weight AS DECIMAL(38,0)) * $budget div __tw AS BIGINT)")))
      .withColumn("__rem", when(col("__tw") > 0L,
        (dec(col("weight")) * lit(budget) -
          dec(col("__base")) * col("__tw")).cast("decimal(38,0)")))
    val left = quotas.agg((lit(budget) -
      coalesce(sum(col("__base")), lit(0L))).as("__left"))
    val w = Window.orderBy(col("__rem").desc, col("stratum").asc)
    quotas.crossJoin(broadcast(left))
      .withColumn("__rk", row_number().over(w))
      .select(col("stratum"), col("n"), col("sigma_micro"), col("weight"),
        col("share_ppm"),
        when(col("__tw") > 0L, col("__base") +
          when(col("__rk") <= col("__left"), 1L).otherwise(0L))
          .as("n_alloc"))
  }

  /**
   * Effective sample size of a weighted sample — Kish's ESS =
   * (Σw)²/Σw², the standard importance-weighting diagnostic: a
   * mixture/DSIR/length-proportional sampling scheme that LOOKS like
   * n rows may carry the statistical information of far fewer once
   * the weights skew; ESS is that equivalent count, and ess_ppm =
   * ESS/n the design-efficiency readout (10⁶ = equal weights). The
   * weight coefficient of variation completes it: ESS/n =
   * 1/(1 + cv²).
   *
   * Exactness: integer weights; Σw is BIGINT, Σw² sums in
   * DECIMAL(38,0); `ess_ppm` = ((Σw)²·10⁶) div (Σw²·n) is a pure
   * integer decision; `ess` and `cv` are each ONE fixed-order double
   * program over the exact moments, 6 dp. Zero/negative weights are
   * excluded (they are not sampling weights). NULL cv when n < 2.
   *
   * Output per `by` group: `n`, `sum_w`, `ess`, `ess_ppm`, `cv`.
   *
   * Scale shape: ONE map-side-combined aggregation; the exchange
   * carries three counters per group.
   */
  def effectiveSampleSize(df: DataFrame, by: Seq[String],
                          weightCol: String): DataFrame = {
    val w = col(weightCol).cast("long")
    val m = df.where(w.isNotNull && w > 0L)
      .groupBy(by.map(col): _*)
      .agg(count(lit(1)).as("n"), sum(w).as("sum_w"),
        sum((w * w).cast("decimal(38,0)")).as("__w2"))
    val dec = (c: Column) => c.cast("decimal(38,0)")
    m.select((by.map(col) :+ col("n") :+ col("sum_w") :+
      round((dec(col("sum_w")) * col("sum_w")).cast("double") /
        col("__w2").cast("double"), 6).as("ess") :+
      expr("(cast(sum_w as decimal(38,0)) * sum_w * 1000000) div (__w2 * n)")
        .as("ess_ppm") :+
      when(col("n") > 1L,
        round(sqrt(greatest(
          (col("n").cast("decimal(38,0)") * col("__w2")).cast("double") /
            (dec(col("sum_w")) * col("sum_w")).cast("double") - 1.0d,
          lit(0.0d))), 6))
        .otherwise(lit(null).cast("double")).as("cv")): _*)
  }
}
