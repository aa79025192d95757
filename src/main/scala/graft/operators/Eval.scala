package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Share

/**
 * Classifier evaluation metrics for corpus-quality gates: once a
 * quality scorer (`TextMetrics.hashedLinearScore`, a perplexity model,
 * a trained fastText head) gates what enters a training mix, the
 * pipeline needs to measure the gate itself against reference labels —
 * at corpus scale, exactly, not on a sampled slice. Pure column
 * programs; the reference has no model-eval surface (its "quality"
 * plane is Grafana panels over connector metrics), so this extends the
 * engine along the training-data axis the builder's brief adds.
 */
object Eval {

  /**
   * Exact ROC-AUC via the rank-sum (Mann–Whitney U) identity with
   * average-rank tie handling: AUC = U / (n_pos · n_neg) where U sums,
   * over positive examples, the count of negatives scored strictly
   * below plus HALF the negatives tied with it. Integer-exact: the
   * returned `u2` = 2·U is a BIGINT (every tie contributes a whole
   * number to 2U), so engines replay the metric bit-for-bit; `auc`
   * is round(u2 / (2·n_pos·n_neg), 6), NULL for single-class groups.
   *
   * One output row per `by` group: `by` columns, `n_pos`, `n_neg`,
   * `u2`, `auc`.
   *
   * Scale shape: rows collapse to (group, score) → (n_pos, n_neg)
   * counts in ONE map-side-combined aggregation — the only exchange
   * that sees data cardinality, carrying ~24 B per DISTINCT score, not
   * per row. The cumulative-negatives window then runs per group over
   * that score histogram (integer scores ⇒ bounded cardinality; the
   * classic sort-all-predictions AUC shuffles and totally orders the
   * full corpus instead). No collect, no UDF, fully codegen'd.
   */
  /**
   * Calibration (reliability-diagram) table — AUC's companion: AUC
   * says the gate RANKS well, the calibration table says whether a
   * score cut means what its magnitude claims. Scores bucket into
   * fixed-width bins (`bin` = floor(score / binWidth), floored
   * division so negative scores bin consistently); each (group, bin)
   * row reports `n`, `n_pos`, and the observed positive rate as
   * integer ppm (`pos_rate_micro` — the q69 micro convention, never a
   * float).
   *
   * Scale shape: one map-side-combined aggregation; the exchange
   * carries ~24 B per OCCUPIED bin, not per row.
   */
  def calibrationTable(scored: DataFrame, scoreCol: String, labelCol: String,
                       binWidth: Long, by: Seq[String] = Nil): DataFrame = {
    require(binWidth >= 1, "binWidth must be >= 1")
    val bin = floor(col(scoreCol).cast("long").cast("double") / binWidth)
      .cast("long")
    scored
      .groupBy((by.map(col) :+ bin.as("bin")): _*)
      .agg(count(lit(1)).as("n"),
        sum(when(col(labelCol), 1L).otherwise(0L)).as("n_pos"))
      .withColumn("pos_rate_micro", expr("n_pos * 1000000 div n"))
  }

  /**
   * Operating-point selection by Youden's J: over candidate thresholds
   * t (the distinct scores), the gate `score >= t` has true-positive
   * count tp(t) and false-positive count fp(t); J(t) = TPR − FPR is
   * maximized exactly via the integer cross-multiplication
   * `j2n = tp·n_neg − fp·n_pos` (BIGINT — no float compare decides
   * the winner), ties broken toward the HIGHER threshold (the
   * stricter gate admits fewer rows for the same J). One output row:
   * `threshold`, `tp`, `fp`, `n_pos`, `n_neg`, `j2n`, and
   * `j_micro` = J in integer ppm.
   *
   * Scale shape: like [[rocAuc]], rows collapse to the (score → np,
   * nn) histogram in one map-side-combined aggregation; the
   * descending cumulative window and the argmax run over DISTINCT
   * scores only (integer scores ⇒ bounded cardinality), and the
   * argmax plans as a TakeOrdered, not a total sort.
   */
  def youdenThreshold(scored: DataFrame, scoreCol: String,
                      labelCol: String): DataFrame = {
    val g = scored
      .groupBy(col(scoreCol).as("__s"))
      .agg(sum(when(col(labelCol), 1L).otherwise(0L)).as("__np"),
        sum(when(col(labelCol), 0L).otherwise(1L)).as("__nn"))
    // tp(t) = positives scored >= t: inclusive cumulative over the
    // histogram in descending score order
    val w = Window.orderBy(col("__s").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = g.select(col("__s"), sum(col("__np")).over(w).as("__tp"),
      sum(col("__nn")).over(w).as("__fp"))
    val tot = scored.agg(
      sum(when(col(labelCol), 1L).otherwise(0L)).as("__pos"),
      sum(when(col(labelCol), 0L).otherwise(1L)).as("__neg"))
    cum.crossJoin(broadcast(tot)) // 1-row totals: the no-collect scalar pattern
      .withColumn("__j2n", col("__tp") * col("__neg") - col("__fp") * col("__pos"))
      .orderBy(col("__j2n").desc, col("__s").desc)
      .limit(1)
      .select(col("__s").as("threshold"), col("__tp").as("tp"),
        col("__fp").as("fp"), col("__pos").as("n_pos"),
        col("__neg").as("n_neg"), col("__j2n").as("j2n"))
      .withColumn("j_micro", expr("j2n * 1000000 div (n_pos * n_neg)"))
  }

  /**
   * Exact average precision (step-wise PR-AUC, the
   * `average_precision_score` definition): with thresholds at the
   * distinct scores in descending order,
   * AP = Σ_t Δrecall(t) · precision(t) = Σ_t (np_t / P) · tp_t / (tp_t + fp_t).
   * ROC-AUC's blind spot is class imbalance — a corpus gate that
   * admits 1 doc in 10⁴ can post AUC 0.99 while its precision is
   * noise; AP weights exactly the region the gate operates in.
   *
   * Determinism: each threshold's term is one IEEE-exact integer
   * division rounded to 9 dp, and the terms sum in DECIMAL — engine-
   * and partition-order-exact (the q99 convention); `ap` is the sum
   * rounded to 6 dp, NULL for single-class groups.
   *
   * Scale shape: identical to [[rocAuc]] — rows collapse to the
   * (group, score) histogram in one map-side-combined aggregation
   * (~24 B per distinct score crosses the wire, never per-row), the
   * cumulative window runs over the histogram, and the per-group
   * totals join back as a broadcast.
   *
   * One output row per `by` group: `by` columns, `n_pos`, `n_neg`, `ap`.
   */
  def prAuc(scored: DataFrame, scoreCol: String, labelCol: String,
            by: Seq[String] = Nil): DataFrame = {
    val g = scored
      .groupBy((by.map(col) :+ col(scoreCol).as("__s")): _*)
      .agg(sum(when(col(labelCol), 1L).otherwise(0L)).as("__np"),
        sum(when(col(labelCol), 0L).otherwise(1L)).as("__nn"))
    val w = Window.partitionBy(by.map(col): _*).orderBy(col("__s").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = g.select((by.map(col) :+ col("__np") :+
      sum(col("__np")).over(w).as("__tp") :+
      sum(col("__nn")).over(w).as("__fp")): _*)
    val tot = scored.groupBy(by.map(col): _*)
      .agg(sum(when(col(labelCol), 1L).otherwise(0L)).as("__pos"),
        sum(when(col(labelCol), 0L).otherwise(1L)).as("__neg"))
    val joined =
      if (by.isEmpty) cum.crossJoin(broadcast(tot))
      else cum.join(broadcast(tot), by)
    val term = when(col("__pos") > 0L,
      round((col("__np") * col("__tp")).cast("double") /
        ((col("__tp") + col("__fp")) * col("__pos")).cast("double"), 9))
      .otherwise(lit(0.0d))
    joined
      .withColumn("__t", term.cast("decimal(28,9)"))
      .groupBy(by.map(col): _*)
      .agg(max(col("__pos")).as("n_pos"), max(col("__neg")).as("n_neg"),
        sum(col("__t")).as("__ap"))
      .withColumn("ap",
        when(col("n_pos") === 0L || col("n_neg") === 0L,
          lit(null).cast("double"))
          .otherwise(round(col("__ap").cast("double"), 6)))
      .drop("__ap")
  }

  /**
   * Reciprocal-rank fusion (Cormack et al., SIGIR 2009) — the
   * score-free ensemble every retrieval / quality-gate stack reaches
   * for when its rankers live on incomparable scales: each ranker
   * contributes 1/(k + rank) and the sums re-rank. Here fully
   * integer: contribution = 10⁶ div (k + rank) (BIGINT division — no
   * float ever decides an ordering), ranks are row_numbers with the
   * id tie-break, so the fused list replays bit-for-bit.
   *
   * `rankers` maps a name to the ordering that ranker sorts by
   * (best first); ties always break on ascending id. Output per `by`
   * group: the fused top-`topK` with `rrf_micro`, each ranker's
   * `rank_<name>`, and the fused `rank`.
   *
   * Scale shape: one window per ranker plus the fused top-k window,
   * all partitioned by the `by` columns — rank fusion is per-group by
   * construction (queries, languages, shards), so parallelism follows
   * the group count and no global total order is ever materialized.
   * Only (id, group, rank) integers flow between stages.
   */
  def rrfFuse(scored: DataFrame, idCol: String, by: Seq[String],
              rankers: Seq[(String, Seq[Column])], k: Int = 60,
              topK: Int = 10): DataFrame = {
    require(rankers.nonEmpty, "need at least one ranker")
    require(k >= 1, "k must be >= 1")
    require(topK >= 1, "topK must be >= 1")
    val ranked = rankers.foldLeft(scored) { case (df, (name, ord)) =>
      val w = Window.partitionBy(by.map(col): _*)
        .orderBy(ord :+ col(idCol).asc: _*)
      df.withColumn(s"rank_$name", row_number().over(w).cast("long"))
    }
    val rrf = rankers.map { case (name, _) =>
      expr(s"1000000 div (${k}L + rank_$name)")
    }.reduce(_ + _)
    val withScore = ranked.withColumn("rrf_micro", rrf)
    Relational.topKPerGroup(withScore, by,
        Seq(col("rrf_micro").desc, col(idCol).asc), topK,
        rankCol = Some("rank"))
      .select((by.map(col) :+ col(idCol) :+ col("rrf_micro")) ++
        rankers.map { case (n, _) => col(s"rank_$n") } :+ col("rank"): _*)
  }

  def rocAuc(scored: DataFrame, scoreCol: String, labelCol: String,
             by: Seq[String] = Nil): DataFrame = {
    val g = scored
      .groupBy((by.map(col) :+ col(scoreCol).as("__s")): _*)
      .agg(sum(when(col(labelCol), 1L).otherwise(0L)).as("__np"),
        sum(when(col(labelCol), 0L).otherwise(1L)).as("__nn"))
    val w = Window.partitionBy(by.map(col): _*).orderBy(col("__s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val u2Term = col("__np") * (coalesce(sum(col("__nn")).over(w), lit(0L)) * 2
      + col("__nn"))
    g.select((by.map(col) :+ col("__np") :+ col("__nn") :+
        u2Term.as("__u2")): _*)
      .groupBy(by.map(col): _*)
      .agg(sum(col("__np")).as("n_pos"), sum(col("__nn")).as("n_neg"),
        sum(col("__u2")).as("u2"))
      .withColumn("auc",
        when(col("n_pos") === 0L || col("n_neg") === 0L,
          lit(null).cast("double"))
          .otherwise(round(col("u2").cast("double") /
            (col("n_pos").cast("double") * col("n_neg").cast("double") * 2d), 6)))
  }

  /**
   * Two-proportion z-test — the A/B experiment readout over unit-level
   * assignments: input ONE ROW PER UNIT with a binary `variantCol`
   * (false = control A, true = treatment B) and boolean `successCol`.
   * Per `by` group: counts, conversion rates, and
   * z = (p_b − p_a) / sqrt(p̂(1−p̂)(1/n_a + 1/n_b)) with the pooled
   * rate p̂ — the standard normal statistic whose |z| ≥ 1.96 is the
   * 95% two-sided significance line.
   *
   * Exactness: the four counts are BIGINT from one map-side-combined
   * aggregation; every derived value is a fixed-order double program
   * (`p_a`/`p_b`/`p_pool` = double(c)/n, se =
   * sqrt(p̂·(1−p̂)·(1/n_a + 1/n_b)) in exactly that operand order),
   * rates rounded to 6, z to 4; z is NULL when either arm is empty or
   * the pooled rate is degenerate (0 or 1 ⇒ se = 0).
   *
   * Scale shape: one aggregation, group-cardinality output. The unit
   * collapse (events → one row per user) belongs to the caller, where
   * it reuses the query's own partitioning.
   */
  def twoProportionZ(units: DataFrame, variantCol: String,
                     successCol: String, by: Seq[String] = Nil): DataFrame = {
    val z = units.groupBy(by.map(col): _*)
      .agg(
        sum(when(!col(variantCol), 1L).otherwise(0L)).as("n_a"),
        sum(when(col(variantCol), 1L).otherwise(0L)).as("n_b"),
        sum(when(!col(variantCol) && col(successCol), 1L).otherwise(0L))
          .as("c_a"),
        sum(when(col(variantCol) && col(successCol), 1L).otherwise(0L))
          .as("c_b"))
      .withColumn("__pa", col("c_a").cast("double") / col("n_a"))
      .withColumn("__pb", col("c_b").cast("double") / col("n_b"))
      .withColumn("__pp",
        (col("c_a") + col("c_b")).cast("double") / (col("n_a") + col("n_b")))
      .withColumn("__se",
        sqrt(col("__pp") * (lit(1.0d) - col("__pp")) *
          (lit(1.0d) / col("n_a") + lit(1.0d) / col("n_b"))))
    z.select((by.map(col) :+ col("n_a") :+ col("n_b") :+ col("c_a") :+
        col("c_b") :+
        round(col("__pa"), 6).as("p_a") :+
        round(col("__pb"), 6).as("p_b") :+
        when(col("n_a") > 0L && col("n_b") > 0L && col("__se") > 0d,
          round((col("__pb") - col("__pa")) / col("__se"), 4))
          .otherwise(lit(null).cast("double")).as("z")): _*)
  }

  /**
   * Chi-square test of independence over a two-way contingency — the
   * mixture-drift gate that needs no reference distribution: "is
   * `colB` independent of `colA`?" (source × language, variant ×
   * outcome). Zero-observed cells still carry their EXPECTED mass, so
   * the grid is the full cross of observed margins (missing cells
   * count as o = 0 — dropping them understates χ²).
   *
   * Exactness: observed counts and margins are BIGINT; each cell term
   * (o − e)²/e — with e = r·c/N in exactly that double operand order —
   * rounds once to 6 dp and the terms sum in DECIMAL (order-exact), so
   * both engines land on identical bits. Output one row: `n_rows`
   * (distinct A), `n_cols` (distinct B), `dof`, `n`, `chi2` (round 4).
   *
   * Scale shape: one map-side-combined (A, B) count aggregation is the
   * only pass over data; margins and the N total derive from it
   * (margin-cardinality frames, broadcast back over the margin grid —
   * the q61 dimension-grid shape). The grid is |A|·|B| cells:
   * categorical-cardinality-bounded, never data-bounded.
   */
  /**
   * Exact two-sample Kolmogorov–Smirnov statistic — the
   * distribution-shape drift gate (chi-square sees category mixes;
   * this sees a SCORE distribution shifting between, say, train and
   * holdout splits, or yesterday's corpus and today's). D =
   * max over scores of |F̂_A − F̂_B| computed ENTIRELY in integers:
   * the cumulative counts cross-multiply (cA·n_B − cB·n_A in
   * DECIMAL(38,0), immune to the 10¹⁰-row overflow) and divide once
   * at the end — the argmax and the statistic replay bit-for-bit on
   * any engine. Ties at the max go to the GREATEST attaining score.
   *
   * Output per `by` group: `n_a`, `n_b`, `d` (round 6), `d_at` (the
   * score where the gap peaks, as double).
   *
   * Scale shape: rows collapse to per-(group, score) side counts in
   * one map-side-combined aggregation; the cumulative window runs
   * over the distinct-score histogram (the rocAuc architecture), and
   * side totals ride along via a group window — nothing data-sized
   * past the first aggregate.
   */
  def ksTest(df: DataFrame, sideACol: String, valueCol: String,
             by: Seq[String] = Nil): DataFrame = {
    val g = df
      .where(col(valueCol).isNotNull && col(sideACol).isNotNull)
      .groupBy((by.map(col) :+ col(valueCol).cast("double").as("__s")): _*)
      .agg(sum(when(col(sideACol), 1L).otherwise(0L)).as("__ca"),
        sum(when(col(sideACol), 0L).otherwise(1L)).as("__cb"))
    val wc = Window.partitionBy(by.map(col): _*).orderBy(col("__s"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wg = Window.partitionBy(by.map(col): _*)
    val cum = g
      .withColumn("__cuma", sum(col("__ca")).over(wc))
      .withColumn("__cumb", sum(col("__cb")).over(wc))
      .withColumn("__na", sum(col("__ca")).over(wg))
      .withColumn("__nb", sum(col("__cb")).over(wg))
      .withColumn("__gap",
        abs(col("__cuma").cast("decimal(19,0)") * col("__nb") -
          col("__cumb").cast("decimal(19,0)") * col("__na")))
    cum.groupBy(by.map(col): _*)
      .agg(max(col("__na")).as("n_a"), max(col("__nb")).as("n_b"),
        max(col("__gap")).as("__d"),
        max(struct(col("__gap"), col("__s"))).getField("__s").as("d_at"))
      .select((by.map(col) :+ col("n_a") :+ col("n_b") :+
        round(col("__d").cast("double") /
          (col("n_a").cast("double") * col("n_b")), 6).as("d") :+
        col("d_at")): _*)
  }

  /**
   * Decile lift table — the ranking-model acceptance report: score
   * deciles from nine exact global quantile cuts (value-based
   * deciles; boundary ties fall to the LOWER decile, so bucketing is
   * deterministic), then per decile the exact positive count, rate,
   * and lift against the overall rate (fixed-order doubles, round 6).
   * "Does the top score decile actually concentrate the outcome" —
   * the go/no-go before a learned gate orders a corpus.
   *
   * Output: (`decile` 1..10 low→high, `n`, `n_pos`, `rate`, `lift`),
   * only non-empty deciles. The cuts and the overall totals are
   * 1-row broadcasts (the documented no-collect scalar pattern).
   */
  def decileLift(scored: DataFrame, scoreCol: String,
                 labelCol: String): DataFrame = {
    import graft.operators.Relational
    val cuts = Relational.exactQuantiles(scored, Nil, scoreCol,
      (1 to 9).map(i => s"__c$i" -> i / 10.0))
    val tot = scored.agg(count(lit(1)).as("__n"),
      sum(when(col(labelCol), 1L).otherwise(0L)).as("__np"))
    val bucketed = scored.crossJoin(broadcast(cuts))
      .withColumn("decile",
        (1 to 9).map(i =>
          when(col(scoreCol).cast("double") > col(s"__c$i"), 1)
            .otherwise(0)).reduce(_ + _) + 1)
    bucketed.groupBy("decile")
      .agg(count(lit(1)).as("n"),
        sum(when(col(labelCol), 1L).otherwise(0L)).as("n_pos"))
      .crossJoin(broadcast(tot))
      .select(col("decile"), col("n"), col("n_pos"),
        round(col("n_pos").cast("double") / col("n"), 6).as("rate"),
        round(col("n_pos").cast("double") / col("n") /
          (col("__np").cast("double") / col("__n")), 6).as("lift"))
      .orderBy("decile")
  }

  def chiSquareIndependence(df: DataFrame, colA: String,
                            colB: String): DataFrame = {
    val cells = df.groupBy(col(colA).as("__a"), col(colB).as("__b"))
      .agg(count(lit(1)).as("__o"))
    val rowM = cells.groupBy("__a").agg(sum(col("__o")).as("__r"))
    val colM = cells.groupBy("__b").agg(sum(col("__o")).as("__c"))
    val grid = rowM.crossJoin(broadcast(colM))
    val tot = cells.agg(sum(col("__o")).as("__n"))
    val terms = grid
      .join(cells, Seq("__a", "__b"), "left")
      .crossJoin(broadcast(tot))
      .withColumn("__e",
        col("__r").cast("double") * col("__c") / col("__n"))
      .withColumn("__term",
        round((coalesce(col("__o"), lit(0L)).cast("double") - col("__e")) *
          (coalesce(col("__o"), lit(0L)).cast("double") - col("__e")) /
          col("__e"), 6))
    terms.agg(
        countDistinct(col("__a")).as("n_rows"),
        countDistinct(col("__b")).as("n_cols"),
        max(col("__n")).as("n"),
        sum(col("__term").cast("decimal(28,6)")).as("__chi"))
      .select(col("n_rows"), col("n_cols"),
        ((col("n_rows") - 1) * (col("n_cols") - 1)).as("dof"),
        col("n"),
        round(col("__chi").cast("double"), 4).as("chi2"))
  }

  /**
   * Isotonic calibration — [[calibrationTable]]'s standard remedy:
   * the best NON-DECREASING fit of the positive rate over score bins
   * (pool-adjacent-violators), computed distributed via the minimax
   * identity ŷ_i = max_{j≤i} min_{k≥i} mean(y[j..k]) instead of the
   * sequential pooling loop — over the COMPACT bin table the
   * pairwise form is O(bins³) and bins are ≤ ~64 by construction,
   * so the loop-free shape wins outright.
   *
   * Exactness: interval means are exact integer rationals
   * (num = Σ positives, den = Σ count from prefix sums); the min/max
   * selections order by the pure-integer key num·10¹² div den —
   * rationals equal to 12 dp can tie, but their reported 6-dp values
   * are then equal too, so any tie pick yields the same output.
   * The reported fit is one portable-rounded division per interval.
   * Contract: per-group positive count < 9.2·10⁶ (the ·10¹² key must
   * stay in BIGINT); wider groups need a smaller key scale.
   * Output: `by`* + (bin, n, n_pos, iso_rate) — iso_rate
   * non-decreasing in bin within each group.
   *
   * Scale shape: ONE data pass builds the (group, bin) histogram;
   * everything after is bins-bounded (prefix window, pairwise join,
   * two argmin/argmax aggregations). The data never re-enters.
   */
  def isotonicCalibration(scored: DataFrame, scoreCol: String,
                          labelCol: String, binWidth: Long,
                          by: Seq[String] = Nil): DataFrame = {
    require(binWidth >= 1, "isotonicCalibration: binWidth must be >= 1")
    val bin = floor(col(scoreCol).cast("long").cast("double") / binWidth)
      .cast("long")
    val bins = scored
      .groupBy((by.map(col) :+ bin.as("__i")): _*)
      .agg(count(lit(1)).as("__w"),
        sum(when(col(labelCol), 1L).otherwise(0L)).as("__s"))
    val wc = Window.partitionBy(by.map(col): _*).orderBy(col("__i"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pre = Share.once(bins
      .withColumn("__cw", sum(col("__w")).over(wc))
      .withColumn("__cs", sum(col("__s")).over(wc)), "isotonicCalibration.pre")
    val j = pre.select((by.map(col) :+ col("__i").as("__j") :+
      (col("__cw") - col("__w")).as("__wj0") :+
      (col("__cs") - col("__s")).as("__sj0")): _*)
    val k = pre.select((by.map(col) :+ col("__i").as("__kk") :+
      col("__cw").as("__wk") :+ col("__cs").as("__sk")): _*)
    val pairs = j.join(k, by).where(col("__j") <= col("__kk"))
      .withColumn("__num", col("__sk") - col("__sj0"))
      .withColumn("__den", col("__wk") - col("__wj0"))
      .withColumn("__q12", expr("__num * 1000000000000 div __den"))
      .withColumn("__v6",
        floor(col("__num").cast("double") / col("__den").cast("double") *
          1e6d + 0.5d) / 1e6d)
    val idx = pre.select((by.map(col) :+ col("__i") :+ col("__w") :+
      col("__s")): _*)
    val stage1 = idx.join(pairs, by)
      .where(col("__j") <= col("__i") && col("__kk") >= col("__i"))
      .groupBy((by.map(col) :+ col("__i") :+ col("__w") :+ col("__s") :+
        col("__j")): _*)
      .agg(min(col("__q12")).as("__mq"),
        min_by(col("__v6"), col("__q12")).as("__mv"))
    stage1
      .groupBy((by.map(col) :+ col("__i") :+ col("__w") :+
        col("__s")): _*)
      .agg(max_by(col("__mv"), col("__mq")).as("iso_rate"))
      .select((by.map(col) :+ col("__i").as("bin") :+ col("__w").as("n") :+
        col("__s").as("n_pos") :+ col("iso_rate")): _*)
  }

  /**
   * Poisson-bootstrap confidence interval for a mean — THE
   * distributed bootstrap (each unit enters replicate b a
   * Poisson(1)-distributed number of times, so replicates need no
   * global resample pass and merge map-side): the uncertainty
   * quantification every corpus metric should ship with before
   * anyone compares two of them.
   *
   * Determinism: replicate counts come from the house portable
   * mid-square hash of (unit·131 + b) reduced mod 10⁶ and cut
   * against FIXED integer ppm thresholds of the Poisson(1) CDF —
   * every engine replays the identical counts; replicate means are
   * Σc·y/Σc with DECIMAL-exact numerators, portable-rounded 6; the
   * interval is the type-1 per-mille rank cut over the B sorted
   * means (rank·1000 ≥ p·B — pure integers). Output: one row
   * (n, mean_y, ci_lo, ci_hi, n_reps).
   *
   * Scale shape: the corpus explodes ×B into (unit, replicate)
   * rows — the bootstrap's intrinsic cost — then ONE map-side-
   * combined aggregation to B rows; everything after is B-bounded.
   */
  def bootstrapMeanCi(units: DataFrame, keyCol: String, yCol: String,
                      b: Int = 200, confPermille: Int = 950): DataFrame = {
    require(b >= 10, "bootstrapMeanCi: need >= 10 replicates")
    require(confPermille >= 500 && confPermille <= 998,
      "bootstrapMeanCi: confPermille in [500, 998]")
    val loP = (1000 - confPermille) / 2
    val hiP = 1000 - loP
    def q(c: String) = round(col(c).cast("double"), 6).cast("decimal(15,6)")
    def pr6(x: Column): Column = floor(x * 1e6d + 0.5d) / 1e6d
    // Poisson(1) CDF in ppm: P(X <= k) for k = 0..6; 7+ is the tail.
    val cdf = Seq(367879L, 735759L, 919699L, 981012L, 996340L, 999406L,
      999917L)
    val base = units.where(col(keyCol).isNotNull && col(yCol).isNotNull)
      .select(col(keyCol).cast("long").as("__k"), q(yCol).as("__y"))
    val g = base.agg(count(lit(1)).as("n"),
      sum(col("__y")).cast("double").as("__sy"))
    val rep = base
      .select(col("__k"), col("__y"),
        explode(sequence(lit(1), lit(b))).as("__b"))
      .withColumn("__a",
        // inner pmod keeps the multiplicand under 1e9+7 so the
        // 2654435761 product stays inside BIGINT (ANSI throws on
        // overflow; key-shifted large ids would cross 2^63 otherwise)
        pmod(pmod(col("__k") * 131L + col("__b") + 1L,
          lit(1000000007L)) * 2654435761L, lit(1000000007L)))
      .withColumn("__u",
        pmod(shiftright(col("__a") * col("__a"), 12), lit(1000000L)))
      .withColumn("__c",
        cdf.zipWithIndex.foldRight(lit(cdf.length.toLong)) {
          case ((t, i), rest) => when(col("__u") < t, i.toLong)
            .otherwise(rest)
        })
    val means = rep.groupBy("__b")
      .agg(sum(col("__c")).as("__sc"),
        sum((col("__c").cast("decimal(12,0)") * col("__y"))
          .cast("decimal(38,6)")).as("__scy"))
      .where(col("__sc") > 0L)
      .select(col("__b"),
        pr6(col("__scy").cast("double") / col("__sc").cast("double"))
          .as("__m"))
    val wr = Window.orderBy(col("__m"), col("__b"))
    val ranked = means.withColumn("__r", row_number().over(wr))
      .crossJoin(broadcast(means.agg(count(lit(1)).as("__nb"))))
    val cut = ranked.agg(
      min(when(col("__r") * 1000L >= lit(loP.toLong) * col("__nb"),
        col("__m"))).as("ci_lo"),
      min(when(col("__r") * 1000L >= lit(hiP.toLong) * col("__nb"),
        col("__m"))).as("ci_hi"),
      max(col("__nb")).as("n_reps"))
    g.crossJoin(broadcast(cut))
      .select(col("n"),
        pr6(col("__sy") / col("n").cast("double")).as("mean_y"),
        col("ci_lo"), col("ci_hi"), col("n_reps"))
  }

  /**
   * CUPED variance-reduced experiment readout — [[twoProportionZ]]'s
   * continuous-metric sibling with the industry-standard adjustment
   * (Deng et al. 2013): remove the part of the outcome a pre-period
   * covariate already explains, so the variant comparison needs far
   * fewer units for the same power. θ = cov(x, y)/var(x) is fitted
   * POOLED (the standard choice — per-variant θ biases the contrast);
   * the adjusted mean per variant is ȳ_v − θ·(x̄_v − x̄), computed
   * entirely from group sums — no per-row adjustment pass.
   *
   * Exactness: inputs 6-dp-quantize to DECIMAL(15,6), the four global
   * moments and per-variant sums accumulate exactly, and θ plus both
   * means are fixed-order double programs portable-rounded 6 (integer
   * ratios ARE .5e-6 boundary magnets). Zero covariate variance emits
   * NULL θ and NULL adjusted means (the unadjusted mean still
   * reports). Output: one row per variant
   * (`variantCol`, n, mean_y, mean_y_adj, theta).
   *
   * Scale shape: two map-side-combined aggregations over one scan
   * shape (global moments + per-variant sums) and a 1-row broadcast —
   * nothing row-scale after the sums.
   */
  def cuped(units: DataFrame, variantCol: String, xCol: String,
            yCol: String): DataFrame = {
    def q(c: String) = round(col(c).cast("double"), 6).cast("decimal(15,6)")
    def pr6(x: Column): Column = floor(x * 1e6d + 0.5d) / 1e6d
    val base = units.where(col(xCol).isNotNull && col(yCol).isNotNull)
    val g = base.agg(count(lit(1)).as("__gn"),
      sum(q(xCol)).cast("double").as("__sx"),
      sum(q(yCol)).cast("double").as("__sy"),
      sum((q(xCol) * q(xCol)).cast("decimal(38,12)")).cast("double")
        .as("__sxx"),
      sum((q(xCol) * q(yCol)).cast("decimal(38,12)")).cast("double")
        .as("__sxy"))
    val v = base.groupBy(col(variantCol))
      .agg(count(lit(1)).as("n"),
        sum(q(xCol)).cast("double").as("__vx"),
        sum(q(yCol)).cast("double").as("__vy"))
    val gn = col("__gn").cast("double")
    val vx0 = gn * col("__sxx") - col("__sx") * col("__sx")
    val theta = (gn * col("__sxy") - col("__sx") * col("__sy")) / vx0
    val nd = col("n").cast("double")
    val my = col("__vy") / nd
    val madj = my - theta * (col("__vx") / nd - col("__sx") / gn)
    v.crossJoin(broadcast(g))
      .select(col(variantCol), col("n"),
        pr6(my).as("mean_y"),
        when(vx0 > 0d, pr6(madj)).otherwise(lit(null).cast("double"))
          .as("mean_y_adj"),
        when(vx0 > 0d, pr6(theta)).otherwise(lit(null).cast("double"))
          .as("theta"))
  }

  /**
   * Cramér's V association matrix — [[chiSquareIndependence]] run
   * over a list of column pairs and normalized into the comparable
   * [0, 1] effect size V = √(χ² / (n·(min(r,c)−1))): the
   * which-columns-are-dependent profiling readout a χ² value alone
   * (unbounded, dof-dependent) can't rank.
   *
   * Exactness: each pair reuses the q151 exact program (full margin
   * grid, 6-dp terms summed in DECIMAL, 4-dp χ²); V is one fixed-order
   * double program over the already-deterministic χ² and exact BIGINT
   * (n, min−1), portable-rounded 6dp. Pairs where either column is
   * constant (min(r,c) = 1) emit NULL V. Output: one row per pair
   * (col_a, col_b, n, chi2, v).
   *
   * Scale shape: per pair, ONE data pass builds the cell grid and
   * everything else is grid-bounded (the q151 shape); pairs union.
   */
  def cramersV(df: DataFrame, pairs: Seq[(String, String)]): DataFrame = {
    require(pairs.nonEmpty, "cramersV: need at least one column pair")
    pairs.map { case (a, b) =>
      val mind = (least(col("n_rows"), col("n_cols")) - 1).cast("double")
      chiSquareIndependence(df, a, b)
        .select(lit(a).as("col_a"), lit(b).as("col_b"), col("n"),
          col("chi2"),
          when(least(col("n_rows"), col("n_cols")) > 1L && col("n") > 0L,
            floor(sqrt(col("chi2") /
              (col("n").cast("double") * mind)) * 1e6d + 0.5d) / 1e6d)
            .otherwise(lit(null).cast("double")).as("v"))
    }.reduce(_ unionAll _)
  }

  /**
   * Spearman rank correlation per group — the monotone-association
   * gate between two scorers (does the cheap heuristic rank documents
   * the way the expensive model does?): Pearson's r computed on
   * average-tie ranks. Ranks are held as exact integer DOUBLE-ranks
   * (2·rank: 2·below + count + 1, the [[Relational.percentileRank]]
   * numerator — halves never appear), each built from a vocab-bounded
   * per-value histogram and joined back value-keyed. The five moment
   * sums accumulate exactly in DECIMAL(38,0); the correlation is ONE
   * fixed-order double program (num / (√vx·√vy), rounded 6) over
   * their casts — deterministic in any IEEE engine regardless of
   * partition order. Groups with zero variance on either side emit
   * NULL rho. Output: `by`* + (n, rho).
   *
   * Scale shape: two vocab-bounded rank histograms (distinct values,
   * not rows), two value-keyed joins back to the data on the group
   * partitioning, one map-side-combined moment aggregation. No
   * all-pairs anything — Kendall's τ costs O(n²) where this is
   * O(n + V log V).
   */
  def spearman(df: DataFrame, by: Seq[String], xCol: String,
               yCol: String): DataFrame = {
    val base = df.where(col(xCol).isNotNull && col(yCol).isNotNull)
    def rankMap(c: String, out: String): DataFrame = {
      val hist = base.groupBy((by.map(col) :+ col(c)): _*)
        .agg(count(lit(1)).as("__c"))
      val wc = Window.partitionBy(by.map(col): _*).orderBy(col(c))
        .rowsBetween(Window.unboundedPreceding, -1)
      hist.withColumn("__below", coalesce(sum(col("__c")).over(wc), lit(0L)))
        .select((by.map(col) :+ col(c) :+
          (col("__below") * 2 + col("__c") + 1).as(out)): _*)
    }
    val ranked = base
      .join(rankMap(xCol, "__rx"), by :+ xCol)
      .join(rankMap(yCol, "__ry"), by :+ yCol)
    val m = ranked.groupBy(by.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sum(col("__rx").cast("decimal(38,0)")).as("__sx"),
        sum(col("__ry").cast("decimal(38,0)")).as("__sy"),
        sum((col("__rx") * col("__rx")).cast("decimal(38,0)")).as("__sxx"),
        sum((col("__ry") * col("__ry")).cast("decimal(38,0)")).as("__syy"),
        sum((col("__rx") * col("__ry")).cast("decimal(38,0)")).as("__sxy"))
    val nd = col("n").cast("double")
    def d(c: String): Column = col(c).cast("double")
    val num = nd * d("__sxy") - d("__sx") * d("__sy")
    val vx = nd * d("__sxx") - d("__sx") * d("__sx")
    val vy = nd * d("__syy") - d("__sy") * d("__sy")
    m.select((by.map(col) :+ col("n") :+
      when(vx > 0d && vy > 0d, round(num / (sqrt(vx) * sqrt(vy)), 6))
        .otherwise(lit(null).cast("double")).as("rho")): _*)
  }

  /**
   * Mann–Whitney U rank-sum test per group — the distribution-shift
   * gate between two samples that [[twoProportionZ]] (rates) and
   * [[ksTest]] (max-gap) don't give: did sample `a`'s values move
   * up or down relative to sample `b`, with a normal-approximation
   * z? Rows whose `groupCol` is neither `a` nor `b` are dropped.
   *
   * Exactness: average-tie ranks are held as integer DOUBLE-ranks
   * (2·below + t + 1 over the per-value histogram — halves never
   * appear), so 2·U_a = Σ_a r₂ − n_a(n_a+1) is pure BIGINT. The
   * tie-corrected variance stays an exact integer ratio: with
   * T = Σ(t³−t) over tie groups, 12·n·(n−1)·Var(U) =
   * n_a·n_b·((n+1)·n·(n−1) − T) accumulates in DECIMAL(38,0) and
   * divides ONCE into a double. z applies the ±0.5 continuity
   * correction on the doubled scale (±1) and rounds 6dp; degenerate
   * groups (either sample empty, or all values tied) emit NULL z.
   * Output: `by`* + (n_a, n_b, u_a, z).
   *
   * Scale shape: one vocab-bounded per-value histogram (distinct
   * values, not rows) carrying both samples' counts, one window
   * prefix-sum on the group partitioning, one map-side-combined
   * moment aggregation. No row-level rank join — the data is
   * touched once.
   */
  def mannWhitney(df: DataFrame, by: Seq[String], groupCol: String,
                  valueCol: String, a: String, b: String): DataFrame = {
    val base = df.where(col(valueCol).isNotNull &&
      (col(groupCol) === a || col(groupCol) === b))
    val hist = base.groupBy((by.map(col) :+ col(valueCol).as("__v")): _*)
      .agg(count(lit(1)).as("__t"),
        sum(when(col(groupCol) === a, 1L).otherwise(0L)).as("__ca"))
    val wc = Window.partitionBy(by.map(col): _*).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = hist
      .withColumn("__below", coalesce(sum(col("__t")).over(wc), lit(0L)))
      .withColumn("__r2", col("__below") * 2 + col("__t") + 1)
    val m = ranked.groupBy(by.map(col): _*)
      .agg(sum(col("__ca")).as("n_a"),
        sum(col("__t") - col("__ca")).as("n_b"),
        sum(col("__ca") * col("__r2")).as("__ra2"),
        sum(col("__t") * col("__t") * col("__t") - col("__t")).as("__ties"))
    val n = col("n_a") + col("n_b")
    val u2 = col("__ra2") - col("n_a") * (col("n_a") + 1L)
    val num2 = u2 - col("n_a") * col("n_b")
    val num2c = num2 - when(num2 > 0L, 1L).when(num2 < 0L, -1L).otherwise(0L)
    val v12nn = (col("n_a") * col("n_b")).cast("decimal(38,0)") *
      (((n + 1L) * n * (n - 1L)).cast("decimal(38,0)") -
        col("__ties").cast("decimal(38,0)"))
    // n == 1 would divide by zero — ANSI throws even for DOUBLE
    // division, so the variance self-guards (NULL propagates to z).
    val vard = when(n > 1L, v12nn.cast("double") /
      (lit(12L) * n * (n - 1L)).cast("double"))
      .otherwise(lit(null).cast("double"))
    m.select((by.map(col) :+ col("n_a") :+ col("n_b") :+
      (u2.cast("double") / 2.0d).as("u_a") :+
      when(col("n_a") > 0L && col("n_b") > 0L && vard > 0d,
        round(num2c.cast("double") / (lit(2.0d) * sqrt(vard)), 6))
        .otherwise(lit(null).cast("double")).as("z")): _*)
  }

  /**
   * Kendall τ-b per group — the concordance companion to
   * [[spearman]]: of all observation pairs, how many order the two
   * measures the same way? More robust to a few wild ranks than ρ
   * and the standard readout for small ordered frames.
   *
   * Exactness: rows index deterministically (row_number over
   * (x, y) — identical tuples are interchangeable, any tie order
   * yields the same pair classification), every unordered pair
   * classifies once by the two sign() comparisons, and C, D, and
   * the tie counts are pure BIGINT. τ-b = (C−D)/(√(n₀−Tx)·√(n₀−Ty))
   * is ONE fixed-order double program rounded 6dp; groups where
   * either factor is zero (all x tied or all y tied) emit NULL.
   * Output: `by`* + (n, n_c, n_d, tau_b).
   *
   * Scale shape: O(rows²) per group BY DESIGN — feed it compact
   * per-group frames (daily matrices, decile tables), never raw
   * events; [[spearman]] is the O(n) rank path for row-scale data.
   * The self-join runs on the group partitioning with both sides
   * reduced to (index, x, y).
   */
  def kendallTau(df: DataFrame, by: Seq[String], xCol: String,
                 yCol: String): DataFrame = {
    val base = df.where(col(xCol).isNotNull && col(yCol).isNotNull)
    val wi = Window.partitionBy(by.map(col): _*)
      .orderBy(col("__x"), col("__y"))
    val idx = base.select((by.map(col) :+ col(xCol).as("__x") :+
        col(yCol).as("__y")): _*)
      .withColumn("__i", row_number().over(wi))
    val l = idx.select((by.map(col) :+ col("__x").as("__xl") :+
      col("__y").as("__yl") :+ col("__i").as("__il")): _*)
    val r = idx.select((by.map(col) :+ col("__x").as("__xr") :+
      col("__y").as("__yr") :+ col("__i").as("__ir")): _*)
    val pairs = l.join(r, by).where(col("__il") < col("__ir"))
      .withColumn("__sx", signum(col("__xr") - col("__xl")))
      .withColumn("__sy", signum(col("__yr") - col("__yl")))
    val m = pairs.groupBy(by.map(col): _*)
      .agg(sum(when(col("__sx") * col("__sy") > 0d, 1L).otherwise(0L))
          .as("n_c"),
        sum(when(col("__sx") * col("__sy") < 0d, 1L).otherwise(0L))
          .as("n_d"),
        sum(when(col("__sx") === 0d, 1L).otherwise(0L)).as("__tx"),
        sum(when(col("__sy") === 0d, 1L).otherwise(0L)).as("__ty"),
        count(lit(1)).as("__n0"))
    val counts = idx.groupBy(by.map(col): _*).agg(count(lit(1)).as("n"))
    val dx = (col("__n0") - col("__tx")).cast("double")
    val dy = (col("__n0") - col("__ty")).cast("double")
    counts.join(m, by)
      .select((by.map(col) :+ col("n") :+ col("n_c") :+ col("n_d") :+
        when(dx > 0d && dy > 0d,
          round((col("n_c") - col("n_d")).cast("double") /
            (sqrt(dx) * sqrt(dy)), 6))
          .otherwise(lit(null).cast("double")).as("tau_b")): _*)
  }

  /**
   * Mutual information between two categorical columns — the
   * effect-SIZE companion to [[chiSquareIndependence]]'s test
   * statistic: how many nats does knowing one column save about the
   * other? Reported beside both marginal entropies, so the caller
   * can normalize however they like (MI ≤ min(H_a, H_b)).
   *
   * Exactness: the [[TextMetrics charEntropy]] micro-nat program —
   * every probability stays an exact integer ratio, each ln is ONE
   * fixed-order double over integer casts and portable-floors to
   * integer micro-nats, the weighted sums are pure BIGINT, and each
   * output is one double division portable-rounded. Cells where
   * c·n == ca·cb hit ln(1) = 0 exactly in any engine.
   * Output: one row (n, mi, h_a, h_b).
   *
   * Scale shape: ONE data pass builds the (a, b) cell grid; margins
   * and the total derive from the grid (vocab² rows, not data rows);
   * everything after is grid-keyed joins plus 1-row broadcasts.
   */
  def mutualInformation(df: DataFrame, colA: String,
                        colB: String): DataFrame = {
    val cells = df.where(col(colA).isNotNull && col(colB).isNotNull)
      .select(col(colA).as("__a"), col(colB).as("__b"))
      .groupBy("__a", "__b").agg(count(lit(1)).as("__c"))
    val ma = cells.groupBy("__a").agg(sum(col("__c")).as("__ca"))
    val mb = cells.groupBy("__b").agg(sum(col("__c")).as("__cb"))
    val nr = cells.agg(sum(col("__c")).as("__n"))
    def lnMicro(x: Column): Column =
      floor(log(x) * 1e6d + 0.5d).cast("long")
    def d(c: Column): Column = c.cast("double")
    val miSum = cells.join(ma, "__a").join(mb, "__b")
      .crossJoin(broadcast(nr))
      .select((col("__c") *
        lnMicro((d(col("__c")) * d(col("__n"))) /
          (d(col("__ca")) * d(col("__cb"))))).as("__t"))
      .agg(coalesce(sum(col("__t")), lit(0L)).as("__smi"))
    def margEntropy(m: DataFrame, cnt: String, out: String): DataFrame =
      m.crossJoin(broadcast(nr))
        .select((col(cnt) * lnMicro(d(col("__n")) / d(col(cnt)))).as("__t"))
        .agg(coalesce(sum(col("__t")), lit(0L)).as(out))
    def port(s: Column, n: Column): Column =
      floor(s.cast("double") / n.cast("double") + 0.5d).cast("long")
        .cast("double") / 1e6d
    nr.crossJoin(broadcast(miSum))
      .crossJoin(broadcast(margEntropy(ma, "__ca", "__sha")))
      .crossJoin(broadcast(margEntropy(mb, "__cb", "__shb")))
      .select(col("__n").as("n"),
        port(col("__smi"), col("__n")).as("mi"),
        port(col("__sha"), col("__n")).as("h_a"),
        port(col("__shb"), col("__n")).as("h_b"))
  }

  /**
   * Cohen's kappa — chance-corrected agreement between TWO binary
   * raters (two label sources for the same corpus: a heuristic gate
   * vs a learned gate, two annotation vendors, model vs human): the
   * "are these labels the same signal?" readout raw percent-agreement
   * overstates whenever the base rate is skewed. From the 2×2
   * contingency counts (a=both-pos, b=1-only, c=2-only, d=both-neg),
   * κ = 2(ad − bc) / ((a+b)(b+d) + (a+c)(c+d)) — the algebraic
   * collapse of (p_o − p_e)/(1 − p_e), so one exact integer numerator
   * and denominator (DECIMAL(38,0) products: BIGINT squares overflow
   * at ~3·10⁹ rows per group) and ONE double division, 6 dp. Groups
   * where either rater is constant have denominator 0 → NULL (κ is
   * undefined there, not 0).
   *
   * Output per `by` group: `n`, `a`, `b`, `c`, `d`, `po_micro`
   * (integer ppm raw agreement), `kappa`.
   *
   * Scale shape: ONE map-side-combined aggregation; the exchange
   * carries four counters per group. Nothing else touches the data.
   */
  def cohensKappa(labeled: DataFrame, rater1Col: String, rater2Col: String,
                  by: Seq[String] = Nil): DataFrame = {
    val (r1, r2) = (col(rater1Col), col(rater2Col))
    def cnt(p: Column) = sum(when(p, 1L).otherwise(0L))
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val agg0 = labeled.groupBy(by.map(col): _*)
      .agg(count(lit(1)).as("n"),
        cnt(r1 && r2).as("a"), cnt(r1 && !r2).as("b"),
        cnt(!r1 && r2).as("c"), cnt(!r1 && !r2).as("d"))
    val num = dec(lit(2L)) * (dec(col("a")) * dec(col("d")) -
      dec(col("b")) * dec(col("c")))
    val den = (dec(col("a") + col("b")) * dec(col("b") + col("d"))) +
      (dec(col("a") + col("c")) * dec(col("c") + col("d")))
    agg0.select((by.map(col) :+ col("n") :+ col("a") :+ col("b") :+
      col("c") :+ col("d") :+
      expr("(a + d) * 1000000 div n").as("po_micro") :+
      when(den =!= 0,
        round(num.cast("double") / den.cast("double"), 6)).as("kappa")): _*)
  }

  /**
   * Bradley–Terry preference strengths via Hunter's MM iterations
   * (Hunter 2004, "MM algorithms for generalized Bradley-Terry
   * models" — implemented from the published update): the standard
   * model behind pairwise human-preference data (RLHF comparison
   * labels, A/B taste tests, model-vs-model win rates). Input is the
   * DIRECTED game table — one row per ordered pair (item, opponent)
   * with `n` games played and `w` wins for `item` — which is itself
   * the output of one aggregation over raw comparisons, so corpus
   * cardinality never reaches the solver.
   *
   * Each MM round replays exactly in any engine (the q179 stationary-
   * distribution discipline): every intermediate is quantized
   * round-12, per-item sums accumulate in DECIMAL(28,12) so partition
   * order cannot perturb a double fold, and the round ends with a
   * sum-1 normalization. Items that never play stay out (no games, no
   * row); zero-strength pairs guard the division so an item that
   * never wins converges to 0 instead of throwing under ANSI.
   *
   *   w_i ← W_i / Σ_j n_ij/(w_i + w_j),  then w ← w / Σ w
   *
   * Output: (`item`, `n_wins`, `n_games`, `strength`) — strength 6 dp,
   * summing to ~1.
   *
   * Scale shape: the solver state is items-bounded (one row per item,
   * pairs ≤ items²); each round is two broadcast-sized joins over the
   * game table. Data-sized work happened upstream in the caller's
   * aggregation.
   */
  def bradleyTerry(games: DataFrame, itemCol: String, oppCol: String,
                   nCol: String, winsCol: String,
                   iters: Int = 5): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    val g = Share.once(
      games.select(col(itemCol).as("__i"), col(oppCol).as("__j"),
          col(nCol).cast("long").as("__n"),
          col(winsCol).cast("long").as("__w"))
        .where(col("__n") > 0L), "bradleyTerry.g")
    val items = Share.once(g.groupBy(col("__i").as("__id"))
      .agg(sum(col("__w")).as("n_wins"), sum(col("__n")).as("n_games")),
      "bradleyTerry.items")
    var w = items.select(col("__id"), lit(1.0d).as("__p"))
    for (_ <- 1 to iters) {
      val d = g
        .join(w.select(col("__id").as("__i"), col("__p").as("__pi")), "__i")
        .join(w.select(col("__id").as("__j"), col("__p").as("__pj")), "__j")
        .select(col("__i").as("__id"),
          when(col("__pi") + col("__pj") > 0.0d,
            round(col("__n").cast("double") / (col("__pi") + col("__pj")),
              12)).otherwise(0.0d).cast("decimal(28,12)").as("__t"))
        .groupBy("__id").agg(sum(col("__t")).cast("double").as("__d"))
      val raw = items.join(d, "__id")
        .select(col("__id"),
          when(col("__d") > 0.0d,
            round(col("n_wins").cast("double") / col("__d"), 12))
            .otherwise(0.0d).as("__r"))
      val s = raw.agg(
        sum(col("__r").cast("decimal(28,12)")).cast("double").as("__s"))
      w = Share.once(raw.crossJoin(broadcast(s))
        .select(col("__id"),
          when(col("__s") > 0.0d, round(col("__r") / col("__s"), 12))
            .otherwise(0.0d).as("__p")), "bradleyTerry.w")
    }
    items.join(w, "__id")
      .select(col("__id").as("item"), col("n_wins"), col("n_games"),
        round(col("__p"), 6).as("strength"))
  }

  /**
   * Ranking quality per query group: NDCG@k and MRR — the retrieval
   * metrics for a ranker/reranker gate (is the quality scorer putting
   * the relevant documents on top?) that AUC can't give because they
   * weight the TOP of the list.
   *
   * All-integer discipline: the per-position discount 1/log₂(i+1) is
   * a FIXED table of micro-scaled integer literals (computed once,
   * identical text in engine and oracle), so DCG@k = Σ rel·w_micro is
   * pure BIGINT; IDCG ranks the same group by (rel desc, id) — the
   * ideal permutation — through the same weights; NDCG is ONE double
   * division rounded 6 dp; MRR is 10⁶ div first-relevant-rank, exact.
   * Rankings order by (score desc, id asc), so ties are total and any
   * engine replays the same list.
   *
   * Output per group: `n`, `dcg_micro`, `idcg_micro`, `ndcg`,
   * `mrr_micro` (0 when no relevant item).
   *
   * Scale shape: two rank windows per group over the candidate lists
   * (ranking state is list-sized, not corpus-sized) + one
   * map-side-combined aggregation.
   */
  def rankingMetrics(scored: DataFrame, groupCol: String, idCol: String,
                     scoreCol: String, relCol: String,
                     k: Int = 10): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val wMicro: Seq[Long] = rankWeightsMicro(k)
    val rankW = Window.partitionBy(groupCol)
      .orderBy(col(scoreCol).desc, col(idCol).asc)
    val idealW = Window.partitionBy(groupCol)
      .orderBy(col(relCol).desc, col(idCol).asc)
    def w(r: Column): Column =
      (1 to k).map(i => when(r === i, lit(wMicro(i - 1))).otherwise(0L))
        .reduce(_ + _)
    val ranked = scored
      .withColumn("__r", row_number().over(rankW))
      .withColumn("__ri", row_number().over(idealW))
      .withColumn("__g", when(col("__r") <= k,
        col(relCol).cast("long") * w(col("__r"))).otherwise(0L))
      .withColumn("__gi", when(col("__ri") <= k,
        col(relCol).cast("long") * w(col("__ri"))).otherwise(0L))
    ranked.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        sum(col("__g")).as("dcg_micro"),
        sum(col("__gi")).as("idcg_micro"),
        min(when(col(relCol) >= 1, col("__r"))).as("__fr"))
      .select(col(groupCol), col("n"), col("dcg_micro"),
        col("idcg_micro"),
        when(col("idcg_micro") > 0L,
          round(col("dcg_micro").cast("double") /
            col("idcg_micro").cast("double"), 6)).as("ndcg"),
        coalesce(expr("1000000 div __fr"), lit(0L)).as("mrr_micro"))
  }

  /** The shared NDCG discount table: w_i = round(10⁶/log₂(i+1)) —
    * micro-scaled integers so DCG sums stay pure BIGINT; the oracle
    * embeds the SAME values as literals. */
  private[graft] def rankWeightsMicro(k: Int): Seq[Long] =
    (1 to k).map(i =>
      math.floor(1e6 / (math.log(i + 1.0) / math.log(2.0)) + 0.5).toLong)

  /**
   * Rank-biased overlap at depth k (Webber et al. 2010, the RBO_min
   * truncation — implemented from the published series): how much do
   * TWO scorers' rankings agree, weighted toward the top — the
   * ranker-regression gate a rank correlation over the full list
   * can't give (τ weighs position 9,000 like position 9). With
   * persistence p, RBO@k = (1−p)·Σ_{d≤k} p^(d−1)·|A_d ∩ B_d|/d.
   *
   * All-integer trick: an item with ranks (rA, rB) both ≤ k joins the
   * intersection at every depth d ≥ max(rA, rB), so its total
   * contribution is the SUFFIX SUM Σ_{d≥max} (1−p)p^(d−1)/d — a fixed
   * k-entry micro-scaled integer table ([[rboSuffixMicro]], same
   * literals in engine and oracle). RBO_micro = Σ_items suffix[max]
   * stays pure BIGINT; `overlap_k`/Jaccard@k ride along for the
   * unweighted view.
   *
   * Output per group: `n`, `overlap_k` (|A_k ∩ B_k|), `rbo_micro`.
   *
   * Scale shape: two rank windows over the per-group candidate lists
   * + one map-side-combined aggregation; list-sized state, never
   * corpus-sized.
   */
  def rankBiasedOverlap(scored: DataFrame, groupCol: String, idCol: String,
                        scoreACol: String, scoreBCol: String, k: Int = 10,
                        pMicro: Long = 900000L): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val suffix = rboSuffixMicro(k, pMicro)
    val wA = Window.partitionBy(groupCol)
      .orderBy(col(scoreACol).desc, col(idCol).asc)
    val wB = Window.partitionBy(groupCol)
      .orderBy(col(scoreBCol).desc, col(idCol).asc)
    val ranked = scored
      .withColumn("__ra", row_number().over(wA))
      .withColumn("__rb", row_number().over(wB))
      .withColumn("__m", greatest(col("__ra"), col("__rb")))
      .withColumn("__w", (1 to k).map(d =>
        when(col("__m") === d, lit(suffix(d - 1))).otherwise(0L))
        .reduce(_ + _))
    ranked.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        sum(when(col("__m") <= k, 1L).otherwise(0L)).as("overlap_k"),
        sum(col("__w")).as("rbo_micro"))
  }

  /** The shared RBO suffix table: suffix[m] = round(10⁶·Σ_{d=m..k}
    * (1−p)·p^(d−1)/d) — one micro integer per first-overlap depth,
    * embedded verbatim in the oracle. */
  private[graft] def rboSuffixMicro(k: Int, pMicro: Long): Seq[Long] = {
    val p = pMicro.toDouble / 1e6
    val terms = (1 to k).map(d => (1 - p) * math.pow(p, d - 1) / d)
    (1 to k).map(m =>
      math.floor(terms.drop(m - 1).sum * 1e6 + 0.5).toLong)
  }

  /**
   * Quantile-normalization mapping table — cross-source score
   * comparability: each (source, value) maps to the GLOBAL value at
   * the same percentile position, so one corpus-wide threshold means
   * the same thing in every feed (the fix for "source A's scorer
   * runs hot"). The output is the small mapping TABLE (one row per
   * distinct value per group), which callers broadcast-join to apply
   * — the data itself is touched only by the two histogram passes.
   *
   * All-integer mapping: within a group, a value block's average
   * double-rank r2 = 2·below + c + 1 (the q160 tie convention) maps
   * to global position ⌈r2·N / (2·n_g)⌉ by pure integer ceil-div, and
   * norm_v is the smallest global value whose cumulative count
   * reaches that position (type-1, all integer decisions). A
   * one-group corpus maps every value to itself (spec-pinned).
   * Bound: r2·N stays in BIGINT for N up to ~2·10⁹ rows per
   * normalization domain; shard the domain beyond that.
   *
   * Output: (group, value, `n`, `global_pos`, `norm_v`).
   *
   * Scale shape: two map-side-combined histograms; the ordered
   * windows and the position-lookup join run over DISTINCT-VALUE
   * tables (value-bounded, never row-bounded) — the lookup is a
   * broadcast inequality join of mapping rows × global values,
   * Σ bounded by |values|²/2, and the global cum window is the same
   * value-bounded global window the score-histogram family uses.
   */
  def quantileNormalizeMap(df: DataFrame, groupCol: String,
                           valueCol: String): DataFrame = {
    val v = col(valueCol)
    val hist = df.where(v.isNotNull)
      .groupBy(col(groupCol).as("__g"), v.cast("long").as("__v"))
      .agg(count(lit(1)).as("__c"))
    val wOrd = Window.partitionBy("__g").orderBy("__v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wg = Window.partitionBy("__g")
    val src = hist
      .withColumn("__cum", sum(col("__c")).over(wOrd))
      .withColumn("__ns", sum(col("__c")).over(wg))
      .withColumn("__r2",
        (col("__cum") - col("__c")) * 2 + col("__c") + 1)
    val ghist = df.where(v.isNotNull)
      .groupBy(v.cast("long").as("__gv")).agg(count(lit(1)).as("__gc"))
    val wgo = Window.orderBy("__gv")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val gcum = ghist.withColumn("__gcum", sum(col("__gc")).over(wgo))
      .select(col("__gv"), col("__gcum"))
    val tot = df.where(v.isNotNull).agg(count(lit(1)).as("__n"))
    val mapped = src.crossJoin(broadcast(tot))
      .withColumn("__gpos",
        expr("(__r2 * __n + 2 * __ns - 1) div (2 * __ns)"))
    mapped.join(broadcast(gcum), col("__gcum") >= col("__gpos"))
      .groupBy(col("__g"), col("__v"), col("__c"), col("__gpos"))
      .agg(min(struct(col("__gcum"), col("__gv"))).as("__pick"))
      .select(col("__g").as(groupCol), col("__v").as(valueCol),
        col("__c").as("n"), col("__gpos").as("global_pos"),
        col("__pick.__gv").as("norm_v"))
  }

  /**
   * Fleiss' kappa — chance-corrected agreement for R raters per item,
   * binary categories (R annotation passes, an ensemble of quality
   * gates, R redundant crowd labels): the multi-rater generalization
   * of [[cohensKappa]]. Input is the PER-ITEM positive-vote count
   * `nPosCol` out of exactly `r` raters; the statistic needs nothing
   * finer. With N items, S_p = Σ n_pos, S_n = Σ (R − n_pos) and
   * sumPi = Σ (n_pos² + (R−n_pos)² − R):
   *
   *   P̄  = sumPi / (N·R·(R−1))       (observed agreement)
   *   P̄e = (S_p² + S_n²) / (N·R)²    (chance agreement)
   *   κ  = (P̄ − P̄e) / (1 − P̄e)      (NULL when P̄e = 1: all votes
   *                                    one category — undefined)
   *
   * All sums are exact integers (DECIMAL(38,0) squares); the three
   * divisions and the final κ are one fixed-order double program
   * rounded to 6 dp, so engines replay it bit-for-bit.
   *
   * Output per `by` group: `n_items`, `pbar`, `pbar_e`, `kappa`.
   *
   * Scale shape: ONE map-side-combined aggregation over per-item
   * counts; the exchange carries three counters per group.
   */
  def fleissKappa(votes: DataFrame, nPosCol: String, r: Int,
                  by: Seq[String] = Nil): DataFrame = {
    require(r >= 2, "Fleiss' kappa needs >= 2 raters")
    val np = col(nPosCol)
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val agg0 = votes.groupBy(by.map(col): _*)
      .agg(count(lit(1)).as("n_items"),
        sum(np).as("__sp"), sum(lit(r.toLong) - np).as("__sn"),
        sum(dec(np) * dec(np) + dec(lit(r.toLong) - np) *
          dec(lit(r.toLong) - np) - lit(r.toLong)).as("__spi"))
    val pbar = col("__spi").cast("double") /
      (col("n_items") * lit(r.toLong) * lit((r - 1).toLong)).cast("double")
    val nr2 = dec(col("n_items") * lit(r.toLong)) *
      dec(col("n_items") * lit(r.toLong))
    val pbarE = (dec(col("__sp")) * dec(col("__sp")) +
      dec(col("__sn")) * dec(col("__sn"))).cast("double") /
      nr2.cast("double")
    agg0.select((by.map(col) :+ col("n_items") :+
      round(pbar, 6).as("pbar") :+ round(pbarE, 6).as("pbar_e") :+
      when(pbarE < 1.0d,
        round((pbar - pbarE) / (lit(1.0d) - pbarE), 6)).as("kappa")): _*)
  }

  /**
   * Corpus BLEU (Papineni et al. 2002, implemented from the published
   * formula) — the generation-scoring workhorse the eval family was
   * missing: modified (clipped) n-gram precision for n = 1..4 pooled
   * at the CORPUS level (clip and total counts sum across pairs
   * before any division — per-sentence BLEU averaging is the classic
   * mistake), with the brevity penalty exp(1 − r/c) when the
   * candidate side is shorter.
   *
   * Exactness: clip/total counts are exact BIGINTs (per-(pair, n,
   * gram) multiset min); each ln pₙ is ONE double division portable-
   * floored to micro-nats; BP's micro term is one double division
   * likewise; the final score exponentiates
   * (bp_µ + Σln pₙ_µ / 4)/10⁶ — a fixed-order double program both
   * engines replay — and 6-dp floors. Any pₙ with zero clipped mass
   * ⇒ BLEU 0 (the standard unsmoothed convention; NULL pₙ reported).
   *
   * Output (one row): `n_pairs`, `cand_tokens`, `ref_tokens`,
   * `p1`..`p4` (6 dp), `bp_micro` (≤ 0), `bleu`.
   *
   * SINGLE-reference BLEU: `pairMap` must carry exactly one reference
   * per candidate id (checked eagerly); [[corpusBleuMulti]] is the
   * several-references shape (per-gram max clip, effective ref length).
   *
   * Pairing is an ID-ONLY map (`pairMap`: candidate id → reference
   * id) against ONE per-doc gram table, so document TEXT never enters
   * an exchange — the gram identity is the house 31-polynomial token
   * hash (the `shingleHashRows` collision contract), and every
   * shuffled row is (id, n, hash, count). A text-pairing window or
   * join would ship the corpus through the shuffle; this shape ships
   * ~28 B per distinct gram.
   *
   * Scale shape: ONE exploded per-doc (n, gram-hash) count (map-side
   * combined), two id joins against the gram table, one hash join on
   * (pair, n, hash), a 4-row fold.
   */
  def corpusBleu(docs: DataFrame, idCol: String, textCol: String,
                 pairMap: DataFrame, candIdCol: String,
                 refIdCol: String): DataFrame = {
    val grams = bleuGramTable(docs, idCol, textCol)
    // pair-table-sized, consumed FOUR times (the contract check below
    // plus cand/ref/lens): materialize once (r17, §2) — the check's
    // action fills the share, the three joins read it
    val pm = Share.once(pairMap.select(col(candIdCol).as("__cid"),
        col(refIdCol).as("__rid")), "corpusBleu.pm")
    // SINGLE-reference contract (checked): a duplicated candidate id
    // here would duplicate cand rows and double-count the clip and
    // total sums, silently inflating precision — [[corpusBleuMulti]]
    // is the shape that takes several references per candidate
    require(pm.groupBy("__cid").count().where(col("count") > 1L).isEmpty,
      "corpusBleu: pairMap must carry exactly one reference per " +
        s"candidate id ('$candIdCol') — multi-reference input detected" +
        " (use corpusBleuMulti)")
    val cand = grams.join(pm.select(col("__cid")),
        col("__id") === col("__cid"))
      .select(col("__cid").as("__p"), col("__n"), col("__gh"),
        col("__c").as("__cc"))
    val ref = grams.join(pm, col("__id") === col("__rid"))
      .select(col("__cid").as("__p"), col("__n"), col("__gh"),
        col("__c").as("__cr"))
    val joined = cand.join(ref, Seq("__p", "__n", "__gh"), "left")
      .select(col("__n"), col("__cc"),
        coalesce(col("__cr"), lit(0L)).as("__cr"))
    // doc-count rows of (id, len), but each evaluation re-tokenizes
    // the corpus — and the cand/ref probes below are two consumers:
    // materialize once (r17, §2)
    val dl = Share.once(docs.select(col(idCol).as("__id"),
        size(bleuToks(textCol)).cast("long").as("__len")), "corpusBleu.dl")
    val lens = pm
      .join(dl.select(col("__id").as("__cid"), col("__len").as("__cl")),
        Seq("__cid"))
      .join(dl.select(col("__id").as("__rid"), col("__len").as("__rl")),
        Seq("__rid"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("__cl")).as("cand_tokens"),
        sum(col("__rl")).as("ref_tokens"))
    bleuReport(joined, lens)
  }

  /**
   * Multi-reference corpus BLEU — [[corpusBleu]] for the standard
   * several-references-per-candidate shape (Papineni et al. 2002 §2.1):
   * each candidate gram's clip ceiling is the MAX of its count across
   * that candidate's references (`greatest`-over-refs), and the brevity
   * penalty uses the EFFECTIVE reference length — per candidate, the
   * reference length closest to the candidate's, ties to the SHORTER
   * (the NIST/sacrebleu convention, deterministic by construction).
   * With exactly one reference per candidate it equals [[corpusBleu]].
   *
   * `pairMap` rows are (candidate id, reference id); duplicates
   * dedup (a repeated pair must not double-count), and `n_pairs`
   * reports DISTINCT CANDIDATES (each scored once, however many
   * references it carries).
   *
   * Exactness: the per-(cand, n, gram) max is an integer decision;
   * everything downstream is [[corpusBleu]]'s micro-nat program
   * verbatim. The effective-length argmin is a lexicographic
   * (|rl − cl|, rl) struct-min — pure integer comparison.
   *
   * Scale shape: [[corpusBleu]]'s id-only joins plus ONE extra
   * (cand, n, gram)-keyed max aggregation (map-side combined); text
   * still never enters an exchange.
   */
  def corpusBleuMulti(docs: DataFrame, idCol: String, textCol: String,
                      pairMap: DataFrame, candIdCol: String,
                      refIdCol: String): DataFrame = {
    val grams = bleuGramTable(docs, idCol, textCol)
    // pair-table-sized, consumed THREE times (cands, the ref-side
    // clip max, the effective-length pass) — and callers often derive
    // it from a window program (q285's per-lang lead()): materialize
    // once (r17, §2)
    val pm = Share.once(pairMap.select(col(candIdCol).as("__cid"),
        col(refIdCol).as("__rid")).distinct(), "corpusBleuMulti.pm")
    val cands = pm.select(col("__cid")).distinct()
    val cand = grams.join(cands, col("__id") === col("__cid"))
      .select(col("__cid").as("__p"), col("__n"), col("__gh"),
        col("__c").as("__cc"))
    // per-gram clip ceiling = max over the candidate's references
    val ref = grams.join(pm, col("__id") === col("__rid"))
      .groupBy(col("__cid").as("__p"), col("__n"), col("__gh"))
      .agg(max(col("__c")).as("__cr"))
    val joined = cand.join(ref, Seq("__p", "__n", "__gh"), "left")
      .select(col("__n"), col("__cc"),
        coalesce(col("__cr"), lit(0L)).as("__cr"))
    // doc-count rows, two consumers, each evaluation re-tokenizes the
    // corpus: materialize once (r17, §2)
    val dl = Share.once(docs.select(col(idCol).as("__id"),
        size(bleuToks(textCol)).cast("long").as("__len")), "corpusBleuMulti.dl")
    // effective reference length per candidate: closest, ties shorter
    val perCand = pm
      .join(dl.select(col("__id").as("__cid"), col("__len").as("__cl")),
        Seq("__cid"))
      .join(dl.select(col("__id").as("__rid"), col("__len").as("__rl")),
        Seq("__rid"))
      .groupBy(col("__cid"))
      .agg(max(col("__cl")).as("__cl"), // constant within the group
        min(struct(abs(col("__rl") - col("__cl")).as("d"),
          col("__rl").as("rl"))).as("__best"))
    val lens = perCand.agg(count(lit(1)).as("n_pairs"),
      sum(col("__cl")).as("cand_tokens"),
      sum(col("__best.rl")).as("ref_tokens"))
    bleuReport(joined, lens)
  }

  /** BLEU tokenization: whitespace split of the lowercased trim. */
  private def bleuToks(textCol: String): Column =
    filter(split(lower(trim(col(textCol))), " "), t => t =!= "")

  /** The per-doc (n, gram-hash) count table shared by the BLEU family.
    *
    * Gram identity = the 31-polynomial fold of the TOKEN hashes (one
    * hash per token, composed per gram) — long keys instead of gram
    * strings, so the count exchange ships 8 B keys. The whole gram
    * build (token hash + per-n fold over every start position) is the
    * fused [[graft.functions.BleuGrams]] expression: the previous
    * nested `flatten(transform(sequence…))` HOF program paid an
    * interpreted lambda dispatch per gram position plus an
    * `element_at` walk per fold step (r16's q285 7.9 s / q253 4.2 s
    * driver cost); BleuGrams hashes each token once and folds every
    * gram in tight JVM loops, one eval per row (bit-equality pinned by
    * BleuGramsSpec). */
  private def bleuGramTable(docs: DataFrame, idCol: String,
                            textCol: String): DataFrame = {
    Share.once(docs
      .select(col(idCol).as("__id"),
        explode(graft.functions.BleuGrams(
          split(lower(trim(col(textCol))), " "))).as("__g"))
      .groupBy(col("__id"), col("__g.n").as("__n"), col("__g.gh").as("__gh"))
      .agg(count(lit(1)).as("__c")), "bleuGramTable.grams")
  }

  /** The shared BLEU tail: per-n totals/clips, the 4-way pivot, and
    * the micro-nat score program. `joined` = (__n, __cc, __cr) rows;
    * `lens` = the 1-row (n_pairs, cand_tokens, ref_tokens). */
  private def bleuReport(joined: DataFrame, lens: DataFrame): DataFrame = {
    def lnMicro(x: Column): Column =
      floor(log(x) * 1e6d + 0.5d).cast("long")
    def pr6(c: Column): Column =
      floor(c * lit(1000000.0) + lit(0.5)).cast("long").cast("double") /
        lit(1000000.0)
    val perN = joined.groupBy("__n")
      .agg(sum(col("__cc")).as("__tot"),
        sum(least(col("__cc"), col("__cr"))).as("__clip"))
    val aggCols = (1 to 4).flatMap(n => Seq(
      coalesce(sum(when(col("__n") === n, col("__clip"))), lit(0L))
        .as(s"__c$n"),
      coalesce(sum(when(col("__n") === n, col("__tot"))), lit(0L))
        .as(s"__t$n")))
    val pivot = perN.agg(aggCols.head, aggCols.tail: _*)
    val row = lens.crossJoin(broadcast(pivot))
    def p(n: Int): Column =
      when(col(s"__t$n") > 0L,
        round(col(s"__c$n").cast("double") /
          col(s"__t$n").cast("double"), 6))
    def lnp(n: Int): Column =
      lnMicro(col(s"__c$n").cast("double") / col(s"__t$n").cast("double"))
    val allPos = (1 to 4).map(n =>
      col(s"__c$n") > 0L && col(s"__t$n") > 0L).reduce(_ && _)
    val bpMicro = when(col("cand_tokens") >= col("ref_tokens"), 0L)
      .otherwise(floor((lit(1.0d) -
        col("ref_tokens").cast("double") /
          col("cand_tokens").cast("double")) * 1e6d + 0.5d).cast("long"))
    val bleu = when(allPos, pr6(exp(
      (bpMicro.cast("double") +
        (lnp(1) + lnp(2) + lnp(3) + lnp(4)).cast("double") / 4.0d) /
        1e6d))).otherwise(lit(0.0d))
    row.select(col("n_pairs"), col("cand_tokens"), col("ref_tokens"),
      p(1).as("p1"), p(2).as("p2"), p(3).as("p3"), p(4).as("p4"),
      bpMicro.as("bp_micro"), bleu.as("bleu"))
  }

  /**
   * Simpson's-paradox direction audit — does the pooled association
   * between x and y point the same way as the WITHIN-GROUP
   * associations, or is the aggregate trend an artifact of group
   * composition (the classic aggregation trap: every cohort improves,
   * the blended metric declines). The pre-flight check before anyone
   * quotes a corpus-wide correlation that group mix could have
   * manufactured.
   *
   * Exactness: association direction per group is the SIGN of the
   * exact covariance numerator n·Σxy − Σx·Σy (DECIMAL(38,0) — no
   * division, no float ever decides a sign); the pooled numerator
   * folds the same per-group partial sums. Inputs are integer by
   * contract (quantize first — the [[Profile.gini]] convention).
   *
   * Output (one row): `n_groups`, `pooled_sign` (−1/0/1), `n_agree`,
   * `n_oppose`, `n_zero`, `paradox` (pooled ≠ 0, at least one group
   * opposes, none agrees — the full reversal).
   *
   * Scale shape: ONE map-side-combined moment aggregation per group
   * (four counters), a 1-row pooled fold, a group-bounded count.
   */
  def simpsonDirection(df: DataFrame, groupCol: String, xCol: String,
                       yCol: String): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val x = col(xCol).cast("long")
    val y = col(yCol).cast("long")
    val base = df.where(x.isNotNull && y.isNotNull &&
        col(groupCol).isNotNull)
      .select(col(groupCol).as("__g"), x.as("__x"), y.as("__y"))
    def signOf(c: Column): Column =
      when(c > 0, 1).when(c < 0, -1).otherwise(0)
    val per = base.groupBy("__g")
      .agg(count(lit(1)).as("__n"), sum(col("__x")).as("__sx"),
        sum(col("__y")).as("__sy"),
        sum(dec(col("__x")) * col("__y")).cast("decimal(38,0)")
          .as("__sxy"))
      .withColumn("__sign", signOf(
        (dec(col("__n")) * col("__sxy") -
          dec(col("__sx")) * dec(col("__sy"))).cast("decimal(38,0)")))
    val pooled = per.agg(sum(col("__n")).as("__np"),
        sum(col("__sx")).as("__sxp"), sum(col("__sy")).as("__syp"),
        sum(col("__sxy")).cast("decimal(38,0)").as("__sxyp"))
      .select(signOf((dec(col("__np")) * col("__sxyp") -
        dec(col("__sxp")) * dec(col("__syp"))).cast("decimal(38,0)"))
        .as("pooled_sign"))
    per.crossJoin(broadcast(pooled))
      .groupBy("pooled_sign")
      .agg(count(lit(1)).as("n_groups"),
        sum(when(col("__sign") === col("pooled_sign") &&
          col("__sign") =!= 0, 1L).otherwise(0L)).as("n_agree"),
        sum(when(col("__sign") =!= col("pooled_sign") &&
          col("__sign") =!= 0, 1L).otherwise(0L)).as("n_oppose"),
        sum(when(col("__sign") === 0, 1L).otherwise(0L)).as("n_zero"))
      .select(col("n_groups"), col("pooled_sign"), col("n_agree"),
        col("n_oppose"), col("n_zero"),
        (col("pooled_sign") =!= 0 && col("n_oppose") > 0L &&
          col("n_agree") === 0L).as("paradox"))
  }

  /**
   * Multiclass precision / recall / F1 per class — the confusion-
   * matrix readout for label-valued classifiers (lang-ID, topic
   * routers, quality tiers) that the binary [[rocAuc]]/[[prAuc]]
   * family can't express. Classes are the UNION of observed gold and
   * predicted labels, so a class the model never predicts (recall
   * hole) and a class it hallucinates (precision hole) both get rows.
   *
   * Exactness — every metric a pure-integer ppm:
   * precision = tp·10⁶ div (tp+fp), recall = tp·10⁶ div (tp+fn),
   * F1 = 2·tp·10⁶ div (2·tp+fp+fn) (the harmonic mean collapses to
   * one integer rational — no float mean of rounded halves). NULL
   * precision/recall when the denominator is empty.
   *
   * Output per class: `label`, `n_gold`, `n_pred`, `tp`, `fp`, `fn`,
   * `precision_ppm`, `recall_ppm`, `f1_ppm`.
   *
   * Scale shape: ONE (gold, pred) matrix aggregation (map-side
   * combined, class²-bounded exchange), then class-bounded folds and
   * joins. Row count never reaches the joins.
   */
  def multiclassMetrics(df: DataFrame, goldCol: String,
                        predCol: String): DataFrame = {
    val cm = df.where(col(goldCol).isNotNull && col(predCol).isNotNull)
      .groupBy(col(goldCol).as("__g"), col(predCol).as("__p"))
      .agg(count(lit(1)).as("__n"))
    val gold = cm.groupBy(col("__g").as("label"))
      .agg(sum(col("__n")).as("n_gold"))
    val pred = cm.groupBy(col("__p").as("label"))
      .agg(sum(col("__n")).as("n_pred"))
    val tp = cm.where(col("__g") === col("__p"))
      .groupBy(col("__g").as("label"))
      .agg(sum(col("__n")).as("__tp"))
    gold.join(pred, Seq("label"), "full_outer")
      .join(tp, Seq("label"), "left")
      .select(col("label"),
        coalesce(col("n_gold"), lit(0L)).as("n_gold"),
        coalesce(col("n_pred"), lit(0L)).as("n_pred"),
        coalesce(col("__tp"), lit(0L)).as("tp"))
      .withColumn("fp", col("n_pred") - col("tp"))
      .withColumn("fn", col("n_gold") - col("tp"))
      .withColumn("precision_ppm",
        when(col("n_pred") > 0L, expr("tp * 1000000 div n_pred")))
      .withColumn("recall_ppm",
        when(col("n_gold") > 0L, expr("tp * 1000000 div n_gold")))
      .withColumn("f1_ppm",
        when(col("tp") + col("fp") + col("fn") > 0L,
          expr("(2 * tp * 1000000) div (2 * tp + fp + fn)")))
  }

  /**
   * Difference-in-differences — the workhorse quasi-experimental
   * estimator (two cohorts × two periods): how much more did the
   * treated cohort's outcome move across the cutover than the control
   * cohort's, net of the shared trend.
   * DiD = (m₁₁ − m₁₀) − (m₀₁ − m₀₀) over cell means, computed as ONE
   * exact rational: values 6-dp-quantize to micro-longs (the
   * cusumStream input convention), cell sums/counts are exact, the
   * four-term numerator over the common denominator n₁₁n₁₀n₀₁n₀₀ is
   * exact DECIMAL(38,0), and ONE double division (then /10⁶) rounds
   * to 6 dp — no mean is rounded before differencing. Cell means are
   * reported via the same fixed-order double program. NULL DiD when
   * any cell is empty.
   *
   * Group/period encoding: 0 = control/before, anything else =
   * treated/after.
   *
   * Output (one row): `n00` `n01` `n10` `n11`, `m00` `m01` `m10`
   * `m11` (6 dp), `did` (6 dp).
   *
   * Scale shape: ONE map-side-combined aggregation; eight counters
   * cross the wire.
   */
  def diffInDiff(df: DataFrame, groupCol: String, periodCol: String,
                 valueCol: String): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val g = col("__g")
    val p = col("__p")
    val base = df.where(col(groupCol).isNotNull &&
        col(periodCol).isNotNull && col(valueCol).isNotNull)
      .select((col(groupCol) =!= 0).as("__g"), (col(periodCol) =!= 0).as("__p"),
        floor(col(valueCol).cast("double") * 1e6d + 0.5d).cast("long")
          .as("__v"))
    def cnt(c: Column) = sum(when(c, 1L).otherwise(0L))
    def sm(c: Column) = sum(when(c, col("__v")).otherwise(0L))
    val agg0 = base.agg(
      cnt(!g && !p).as("n00"), cnt(!g && p).as("n01"),
      cnt(g && !p).as("n10"), cnt(g && p).as("n11"),
      sm(!g && !p).as("s00"), sm(!g && p).as("s01"),
      sm(g && !p).as("s10"), sm(g && p).as("s11"))
    def mean(s: String, n: String): Column =
      when(col(n) > 0L, round(col(s).cast("double") /
        col(n).cast("double") / 1e6d, 6))
    val num = dec(col("s11")) * col("n10") * col("n01") * col("n00") -
      dec(col("s10")) * col("n11") * col("n01") * col("n00") -
      dec(col("s01")) * col("n11") * col("n10") * col("n00") +
      dec(col("s00")) * col("n11") * col("n10") * col("n01")
    val den = dec(col("n11")) * col("n10") * col("n01") * col("n00")
    agg0.select(col("n00"), col("n01"), col("n10"), col("n11"),
      mean("s00", "n00").as("m00"), mean("s01", "n01").as("m01"),
      mean("s10", "n10").as("m10"), mean("s11", "n11").as("m11"),
      when(col("n00") > 0L && col("n01") > 0L && col("n10") > 0L &&
        col("n11") > 0L,
        round(num.cast("double") / den.cast("double") / 1e6d, 6))
        .as("did"))
  }

  /**
   * Krippendorff's alpha, binary data, VARIABLE raters per unit
   * (Krippendorff 2004, implemented from the coincidence-matrix
   * formulation) — the agreement coefficient [[fleissKappa]]'s
   * fixed-R contract can't express: crowd labels where some items got
   * 2 judgments and some got 5, ensemble gates where a member
   * abstains. Input is per-unit (`nPosCol` positive votes out of
   * `nTotCol` ratings); units with fewer than 2 ratings drop (nothing
   * pairable).
   *
   * Within unit u the pairable disagreement coincidence is
   * 2·p_u·q_u/(n_u − 1); with margins n₁ = Σp, n₀ = Σq, n_c = n₁+n₀:
   *
   *   α = 1 − o₀₁·(n_c − 1) / (2·n₁·n₀)
   *
   * Exactness: each unit's coincidence is the PURE-INTEGER
   * (2·p·q·10⁶) div (n−1) micro term summed as BIGINT; the margin
   * products are exact DECIMAL(38,0); α is ONE double division
   * subtracted from 1 and rounded 6 dp. NULL when either margin is
   * zero (all votes one category — chance disagreement undefined).
   *
   * Output per `by` group: `n_units`, `n_ratings`, `n_pos`,
   * `o01_micro`, `alpha`.
   *
   * Scale shape: ONE map-side-combined aggregation over per-unit
   * counts; four counters per group cross the wire.
   */
  def krippendorffAlpha(votes: DataFrame, nPosCol: String,
                        nTotCol: String, by: Seq[String] = Nil): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val p = col(nPosCol).cast("long")
    val n = col(nTotCol).cast("long")
    val base = votes
      .where(p.isNotNull && n.isNotNull && n >= 2L && p >= 0L && p <= n)
      .select((by.map(col) :+ p.as("__p") :+ (n - p).as("__q") :+
        n.as("__n")): _*)
    val agg0 = base.groupBy(by.map(col): _*)
      .agg(count(lit(1)).as("n_units"), sum(col("__n")).as("n_ratings"),
        sum(col("__p")).as("n_pos"),
        sum(expr("(2 * __p * __q * 1000000) div (__n - 1)"))
          .as("o01_micro"))
    agg0.select((by.map(col) :+ col("n_units") :+ col("n_ratings") :+
      col("n_pos") :+ col("o01_micro") :+
      when(col("n_pos") > 0L && col("n_pos") < col("n_ratings") &&
        col("n_ratings") > 1L,
        round(lit(1.0d) -
          (dec(col("o01_micro")) * (col("n_ratings") - 1L)).cast("double") /
            (dec(lit(2L)) * col("n_pos") *
              (col("n_ratings") - col("n_pos")) * lit(1000000L))
              .cast("double"), 6)).as("alpha")): _*)
  }

  /**
   * Split-conformal calibration gate (Vovk et al.; the Papadopoulos
   * split/inductive variant, implemented from the standard recipe):
   * from a CALIBRATION set of integer nonconformity scores, the
   * threshold q̂ = the r-th smallest with r = min(n, ⌈(n+1)(1−α)⌉) —
   * the finite-sample-valid quantile that guarantees P(score ≤ q̂) ≥
   * 1−α on exchangeable data — then the observed coverage of q̂ on a
   * disjoint TEST set. The distribution-free "is my scorer's
   * threshold actually holding its promised rate" audit.
   *
   * Exactness: r is pure integer ceil arithmetic; q̂ is an exact
   * rank selection over the DISTINCT-score histogram (first score
   * whose cumulative count reaches r — integer decisions only);
   * coverage and the α target are integer ppm. Scores cast to BIGINT
   * (the house integer-score convention).
   *
   * Output (one row): `n_cal`, `rank`, `q_hat`, `n_test`, `covered`,
   * `coverage_ppm`, `target_ppm`.
   *
   * Scale shape: two map-side-combined aggregations (per-score
   * histogram; test count), one cumulative window over the
   * score-CARDINALITY-bounded histogram (the [[Sketch.logHistQuantiles]]
   * posture), and a 1-row broadcast onto the test fold. Nothing
   * data-sized is sorted globally.
   */
  def conformalGate(cal: DataFrame, test: DataFrame, scoreCol: String,
                    alphaNum: Int, alphaDen: Int): DataFrame = {
    require(alphaNum >= 1 && alphaDen > alphaNum,
      "conformalGate: alpha must be in (0, 1)")
    val sLong = col(scoreCol).cast("long")
    val calS = cal.where(sLong.isNotNull).select(sLong.as("__s"))
    val hist = calS.groupBy("__s").agg(count(lit(1)).as("__c"))
    val tot = calS.agg(count(lit(1)).as("__ncal"))
    val w = Window.orderBy(col("__s"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val keepNum = alphaDen - alphaNum
    val qrow = hist.withColumn("__cum", sum(col("__c")).over(w))
      .crossJoin(broadcast(tot))
      .withColumn("__r", least(col("__ncal"),
        expr(s"((__ncal + 1) * $keepNum + ${alphaDen - 1}) div $alphaDen")))
      .agg(max(col("__ncal")).as("n_cal"), max(col("__r")).as("rank"),
        min(when(col("__cum") >= col("__r"), col("__s"))).as("q_hat"))
    val testS = test.where(sLong.isNotNull).select(sLong.as("__s"))
    testS.crossJoin(broadcast(qrow))
      .groupBy("n_cal", "rank", "q_hat")
      .agg(count(lit(1)).as("n_test"),
        sum(when(col("__s") <= col("q_hat"), 1L).otherwise(0L))
          .as("covered"))
      .select(col("n_cal"), col("rank"), col("q_hat"), col("n_test"),
        col("covered"),
        when(col("n_test") > 0L, expr("covered * 1000000 div n_test"))
          .otherwise(0L).as("coverage_ppm"),
        lit(keepNum.toLong * 1000000L / alphaDen).as("target_ppm"))
  }

  /**
   * One-way ANOVA over an integer measure across k groups — the
   * k-sample mean-difference test the two-sample [[twoProportionZ]] /
   * [[cuped]] machinery can't give: does the measure's MEAN differ
   * across languages / sources / shards at all? Reports the F
   * statistic with eta-squared (SS_between / SS_total) as the effect
   * size, so a 100 TB corpus's "statistically significant" hairline
   * differences read against how much variance they actually explain.
   *
   * Exactness: per-group moments (n_g, S_g = Σv, Q_g = Σv² summed in
   * DECIMAL — v² alone can hold 20 digits of headroom nowhere) are
   * exact; each group's S_g²/n_g routes through DECIMAL(38,0) and ONE
   * integer division (`div` — nonnegative numerator, so truncation ==
   * floor in every engine), giving UNIT-precision sums of squares:
   * `ssb` = ΣA_g − S² div n and `ssw` = Q − ΣA_g are exact integers,
   * each within k units of the real SS (clamped at 0 where
   * quantization could dip around a true zero) — BIGINT-safe while
   * v²·n_g fits 2⁶³ (~10⁹ rows per group at |v| ≤ 10⁵; bucket or
   * rescale beyond — the `div`'s LONG result is the binding limit,
   * and a ×10⁶ pre-scale would bind 10⁶× earlier). F and eta² are
   * each ONE double division of DECIMAL
   * products, 6 dp; F is NULL when k < 2, n ≤ k, or SSW = 0.
   *
   * Output per `by` group: `k`, `n`, `ssb`, `ssw`, `f`, `eta2`.
   *
   * Scale shape: ONE map-side-combined aggregation to (group,
   * moments) — the only exchange carries ~40 B per group — then a
   * groups-bounded reduction. No row ever re-enters an exchange.
   */
  def anovaOneWay(df: DataFrame, groupCol: String, valueCol: String,
                  by: Seq[String] = Nil): DataFrame = {
    val v = col(valueCol).cast("long")
    val g = df.where(v.isNotNull && col(groupCol).isNotNull)
      .groupBy((by.map(col) :+ col(groupCol).as("__g")): _*)
      .agg(count(lit(1)).as("__ng"), sum(v).as("__sg"),
        sum((v * v).cast("decimal(38,0)")).as("__qg"))
      .withColumn("__ag",
        expr("(cast(__sg as decimal(38,0)) * __sg) div __ng"))
    val m = g.groupBy(by.map(col): _*)
      .agg(count(lit(1)).as("k"), sum(col("__ng")).as("n"),
        sum(col("__sg")).as("__s"), sum(col("__qg")).as("__q"),
        sum(col("__ag")).as("__sa"))
    val ssb = greatest(col("__sa") -
      expr("(cast(__s as decimal(38,0)) * __s) div n"), lit(0L))
    val ssw = greatest((col("__q") - col("__sa")).cast("long"), lit(0L))
    m.withColumn("ssb", ssb).withColumn("ssw", ssw)
      .select((by.map(col) :+ col("k") :+ col("n") :+
        col("ssb") :+ col("ssw") :+
        when(col("k") > 1L && col("n") > col("k") && col("ssw") > 0L,
          round((col("ssb").cast("decimal(38,0)") *
            (col("n") - col("k"))).cast("double") /
            (col("ssw").cast("decimal(38,0)") *
              (col("k") - 1L)).cast("double"), 6))
          .otherwise(lit(null).cast("double")).as("f") :+
        when(col("ssb") + col("ssw") > 0L,
          round(col("ssb").cast("double") /
            (col("ssb") + col("ssw")).cast("double"), 6))
          .otherwise(lit(null).cast("double")).as("eta2")): _*)
  }

  /**
   * Kruskal–Wallis H — [[anovaOneWay]]'s rank-based companion (and
   * [[mannWhitney]]'s k-sample generalization): does the measure's
   * DISTRIBUTION shift across k groups, without assuming normal
   * errors? The readout a heavy-tailed quality-score column needs
   * where ANOVA's F chases outliers.
   *
   * Exactness: the [[mannWhitney]] doubled-average-rank device —
   * per-value histogram ranks r₂ = 2·below + t + 1 are pure BIGINT,
   * each group's doubled rank-sum R₂_g = Σ c·r₂ likewise; R_g²/n_g
   * routes through DECIMAL(38,0) with one UNIT-precision `div` by
   * 4·n_g (nonnegative numerator; ≤ k units total quantization —
   * ≤ 12k/(n(n+1)) absolute error in H, vanishing at corpus n, and
   * the oracle replays the identical floors). H is then ONE
   * fixed-order double program over the exact integers, and the tie
   * correction divides the UNrounded H by (1 − T/(n³−n)); both round
   * 6 dp. H is NULL when k < 2 or n < 2; `h_tie` additionally NULL
   * when every value ties (correction 0). The Σ R²/n fold runs in
   * DECIMAL(38,0) (an earlier BIGINT sum silently overflowed past
   * ~2·10⁶ rows); the remaining envelope is R₂² ≈ 4n⁴ fitting
   * DECIMAL(38,0) — ~10⁹ rows per call, loud (ANSI decimal overflow)
   * past that, never a quietly wrong H.
   *
   * Output: one row — `k`, `n`, `ties` (T = Σ t³−t), `h`, `h_tie`.
   *
   * Scale shape: one (value, group) cell aggregation (distinct
   * values × groups, not rows), a value-cardinality-bounded prefix
   * window, one groups-bounded reduction. The [[mannWhitney]] shape,
   * k-wide.
   */
  def kruskalWallis(df: DataFrame, groupCol: String,
                    valueCol: String): DataFrame = {
    val v = col(valueCol).cast("long")
    val cells = df.where(v.isNotNull && col(groupCol).isNotNull)
      .groupBy(v.as("__v"), col(groupCol).as("__g"))
      .agg(count(lit(1)).as("__c"))
    val vh = cells.groupBy("__v").agg(sum(col("__c")).as("__t"))
    val wPrior = Window.orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = vh
      .withColumn("__below", coalesce(sum(col("__t")).over(wPrior), lit(0L)))
      .withColumn("__r2", col("__below") * 2 + col("__t") + 1)
    val perG = cells.join(ranked, "__v")
      .groupBy("__g")
      .agg(sum(col("__c")).as("__ng"),
        sum(col("__c") * col("__r2")).as("__rg2"))
      .withColumn("__bg",
        expr("(cast(__rg2 as decimal(38,0)) * __rg2) div (4 * __ng)"))
    val ties = ranked.agg(coalesce(sum(
      col("__t") * col("__t") * col("__t") - col("__t")), lit(0L))
      .as("ties"))
    val m = perG.agg(count(lit(1)).as("k"), sum(col("__ng")).as("n"),
        // Σ R²/n ≈ n³: DECIMAL(38,0), not BIGINT — a long sum wraps
        // silently past ~2·10⁶ rows (ADVICE r13)
        sum(col("__bg").cast("decimal(38,0)")).as("__sb"))
      .crossJoin(broadcast(ties))
    val n = col("n")
    val hRaw = lit(12.0d) * col("__sb").cast("double") /
      (n * (n + 1L)).cast("double") -
      lit(3.0d) * (n + 1L).cast("double")
    // n³−n in DECIMAL: the long product overflows past n ≈ 2·10⁶ (ANSI
    // aborts loudly); one exact integer, then one double division
    val corr = lit(1.0d) - col("ties").cast("double") /
      (n.cast("decimal(38,0)") * n * n - n).cast("double")
    m.select(col("k"), col("n"), col("ties"),
      when(col("k") > 1L && n > 1L, round(hRaw, 6))
        .otherwise(lit(null).cast("double")).as("h"),
      when(col("k") > 1L && n > 1L && corr > 0d, round(hRaw / corr, 6))
        .otherwise(lit(null).cast("double")).as("h_tie"))
  }

  /**
   * McNemar's test for PAIRED binary gates — [[cohensKappa]] says two
   * label sources agree; McNemar says whether their DISAGREEMENTS are
   * symmetric, i.e. whether swapping gate A for gate B would change
   * the corpus's keep rate at all. The b/c discordant cells are the
   * whole story: rows where exactly one gate fires.
   *
   * Exactness: b, c are pure BIGINT counters; the continuity-corrected
   * statistic (max(|b−c|−1, 0))²/(b+c) is one DECIMAL(38,0) square and
   * ONE double division, 6 dp; NULL when b+c = 0 (no discordant pairs
   * — the test is undefined, not 0).
   *
   * Output per `by` group: `n`, `b`, `c`, `chi2`.
   *
   * Scale shape: ONE map-side-combined aggregation; the exchange
   * carries three counters per group.
   */
  def mcnemar(df: DataFrame, gate1Col: String, gate2Col: String,
              by: Seq[String] = Nil): DataFrame = {
    val g1 = col(gate1Col)
    val g2 = col(gate2Col)
    val m = df.where(g1.isNotNull && g2.isNotNull)
      .groupBy(by.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sum(when(g1 && !g2, 1L).otherwise(0L)).as("b"),
        sum(when(!g1 && g2, 1L).otherwise(0L)).as("c"))
    val num = greatest(abs(col("b") - col("c")) - 1L, lit(0L))
    m.select((by.map(col) :+ col("n") :+ col("b") :+ col("c") :+
      when(col("b") + col("c") > 0L,
        round((num.cast("decimal(38,0)") * num).cast("double") /
          (col("b") + col("c")).cast("double"), 6))
        .otherwise(lit(null).cast("double")).as("chi2")): _*)
  }

  /**
   * G-test of independence (log-likelihood ratio) over two
   * categorical columns — [[chiSquareIndependence]]'s
   * information-theoretic twin: G = 2·Σ O·ln(O·n / (r·c)) = 2n·MI,
   * additive across partitions of the table (chi-square is not),
   * which is why corpus-drift dashboards prefer it. Reported with
   * the degrees of freedom so the caller reads it against the same
   * chi-square reference distribution.
   *
   * Exactness: the [[mutualInformation]] micro-nat program — each ln
   * is ONE fixed-order double over integer casts, portable-floored to
   * integer micro-nats; `g_micro` = 2·Σ O·lnMicro is pure BIGINT
   * (empty cells contribute nothing to G — unlike chi-square, the
   * O = 0 grid completion has no term), `g` = g_micro/10⁶ exact in
   * double far past any real table.
   *
   * Output: one row — `n`, `r_a`, `r_b`, `dof`, `g_micro`, `g`.
   *
   * Scale shape: ONE data pass to the (a, b) cell grid; margins and
   * the total derive from the grid; everything after is grid-keyed
   * joins plus 1-row broadcasts.
   */
  def gTest(df: DataFrame, colA: String, colB: String): DataFrame = {
    val cells = df.where(col(colA).isNotNull && col(colB).isNotNull)
      .select(col(colA).as("__a"), col(colB).as("__b"))
      .groupBy("__a", "__b").agg(count(lit(1)).as("__c"))
    val ma = cells.groupBy("__a").agg(sum(col("__c")).as("__ca"))
    val mb = cells.groupBy("__b").agg(sum(col("__c")).as("__cb"))
    val nr = cells.agg(sum(col("__c")).as("__n"),
      count_distinct(col("__a")).as("r_a"),
      count_distinct(col("__b")).as("r_b"))
    def lnMicro(x: Column): Column =
      floor(log(x) * 1e6d + 0.5d).cast("long")
    def d(c: Column): Column = c.cast("double")
    val gSum = cells.join(ma, "__a").join(mb, "__b")
      .crossJoin(broadcast(nr.select(col("__n"))))
      .select((col("__c") *
        lnMicro((d(col("__c")) * d(col("__n"))) /
          (d(col("__ca")) * d(col("__cb"))))).as("__t"))
      .agg(coalesce(sum(col("__t")), lit(0L)).as("__sg"))
    nr.crossJoin(broadcast(gSum))
      .select(col("__n").as("n"), col("r_a"), col("r_b"),
        ((col("r_a") - 1L) * (col("r_b") - 1L)).as("dof"),
        (col("__sg") * 2L).as("g_micro"),
        (col("__sg").cast("double") * 2.0d / 1e6d).as("g"))
  }

  /**
   * Cohen's d (with Hedges' g small-sample correction) between two
   * groups of an integer measure — the effect SIZE companion to
   * [[mannWhitney]]/[[anovaOneWay]]'s test statistics: a 100 TB corpus
   * makes everything "significant"; d says how many pooled standard
   * deviations apart the means actually are.
   *
   * Exactness: per-group BIGINT moments (Σv² in DECIMAL); each
   * group's within-SS routes through the [[anovaOneWay]]
   * DECIMAL(38,0) unit-precision `div` (clamped at 0; the same
   * v²·n_g < 2⁶³ envelope applies); means are one
   * double division each; d = (mean_a − mean_b) / √(SSW/(n−2)) and
   * g = d·(1 − 3/(4n−9)) are fixed-order double programs, 6 dp.
   * NULL d/g when n_a + n_b < 3 or the pooled SS is 0. A `by` group
   * where EITHER sample is empty emits no row at all (an effect size
   * between a sample and nothing is not 0 — absence is the honest
   * answer).
   *
   * Output per `by` group: `n_a`, `n_b`, `mean_a`, `mean_b`, `d`, `g`.
   *
   * Scale shape: ONE map-side-combined aggregation carrying six
   * counters per group; nothing else touches the data.
   */
  def cohensD(df: DataFrame, groupCol: String, valueCol: String,
              a: String, b: String, by: Seq[String] = Nil): DataFrame = {
    val v = col(valueCol).cast("long")
    val isA = col(groupCol) === a
    val m = df.where(v.isNotNull &&
        (col(groupCol) === a || col(groupCol) === b))
      .groupBy(by.map(col): _*)
      .agg(sum(when(isA, 1L).otherwise(0L)).as("n_a"),
        sum(when(!isA, 1L).otherwise(0L)).as("n_b"),
        sum(when(isA, v).otherwise(0L)).as("__sa"),
        sum(when(!isA, v).otherwise(0L)).as("__sb"),
        sum(when(isA, (v * v).cast("decimal(38,0)")).otherwise(lit(0L).cast("decimal(38,0)"))).as("__qa"),
        sum(when(!isA, (v * v).cast("decimal(38,0)")).otherwise(lit(0L).cast("decimal(38,0)"))).as("__qb"))
    val sswa = greatest((col("__qa") -
      expr("(cast(__sa as decimal(38,0)) * __sa) div n_a")).cast("long"), lit(0L))
    val sswb = greatest((col("__qb") -
      expr("(cast(__sb as decimal(38,0)) * __sb) div n_b")).cast("long"), lit(0L))
    val n = col("n_a") + col("n_b")
    val meanA = col("__sa").cast("double") / col("n_a").cast("double")
    val meanB = col("__sb").cast("double") / col("n_b").cast("double")
    val withSs = m.where(col("n_a") > 0L && col("n_b") > 0L)
      .withColumn("__ssw", sswa + sswb)
    val s2 = col("__ssw").cast("double") / (n - 2L).cast("double")
    val dVal = (meanA - meanB) / sqrt(s2)
    withSs.select((by.map(col) :+ col("n_a") :+ col("n_b") :+
      round(meanA, 6).as("mean_a") :+ round(meanB, 6).as("mean_b") :+
      when(n > 2L && col("__ssw") > 0L, round(dVal, 6))
        .otherwise(lit(null).cast("double")).as("d") :+
      when(n > 2L && col("__ssw") > 0L,
        round(dVal * (lit(1.0d) - lit(3.0d) /
          (lit(4.0d) * n.cast("double") - 9.0d)), 6))
        .otherwise(lit(null).cast("double")).as("g")): _*)
  }

  /**
   * Brown–Forsythe test — variance-homogeneity check for
   * [[anovaOneWay]]'s equal-variance assumption, and itself the
   * "did the SPREAD change" gate a drift dashboard wants beside the
   * mean shift: one-way ANOVA over |v − median_g|, the
   * median-centered (robust) Levene variant.
   *
   * Exactness: the group median is the deterministic LOWER median —
   * the value at rank (n_g+1) div 2 of the group's ascending order —
   * so the absolute deviations stay pure integers and the whole
   * [[anovaOneWay]] exactness contract applies to them unchanged.
   * (The convention is stated here because both engines must replay
   * it; quantile interpolation would leak doubles into the moments.)
   *
   * Output: [[anovaOneWay]]'s row over the deviations — `k`, `n`,
   * `ssb`, `ssw`, `f`, `eta2`.
   *
   * Scale shape: one per-group sort-window pass for the rank-median
   * (partitioned by group — each partition orders only its own rows),
   * a groups-bounded median broadcast back onto the rows, then the
   * [[anovaOneWay]] single-aggregation shape.
   */
  def brownForsythe(df: DataFrame, groupCol: String,
                    valueCol: String): DataFrame = {
    val v = col(valueCol).cast("long")
    val base = df.where(v.isNotNull && col(groupCol).isNotNull)
      .select(col(groupCol).as("__g"), v.as("__v"))
    val w = Window.partitionBy(col("__g")).orderBy(col("__v"))
    val wc = Window.partitionBy(col("__g"))
    val med = base
      .withColumn("__rn", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(wc))
      .where(col("__rn") === expr("(__n + 1) div 2"))
      .select(col("__g"), col("__v").as("__med"))
    val dev = base.join(broadcast(med), "__g")
      .select(col("__g"), abs(col("__v") - col("__med")).as("__z"))
    anovaOneWay(dev, "__g", "__z")
  }

  /**
   * Wald's sequential probability ratio test (SPRT) — the
   * SEQUENTIAL two-hypothesis gate the fixed-horizon z-test
   * ([[twoProportionZ]]) is not: for a Bernoulli outcome, the
   * log-likelihood ratio of H1 (rate p1) vs H0 (rate p0) after n
   * trials with k successes is k·ln(p1/p0) + (n−k)·ln((1−p1)/(1−p0)),
   * compared against the Wald boundaries ln((1−β)/α) (accept H1) and
   * ln(β/(1−α)) (accept H0) — the earliest-valid-stopping design for
   * "did the new filter move the rate" checks that run WHILE data
   * arrives.
   *
   * Exactness: the four ln constants are computed ONCE here as
   * portable micro-nat literals (floor(ln·10⁶ + 0.5) — the
   * [[rankWeightsMicro]] precedent: the oracle embeds the SAME
   * literals), so the LLR is a pure BIGINT program k·w1 + (n−k)·w0
   * and the decision is an integer comparison. Both weights carry
   * sign; p0/p1 are exact rationals.
   *
   * Output per `by` group: `n`, `k`, `llr_micro`, `upper_micro`,
   * `lower_micro`, `decision` ∈ {accept_h1, accept_h0, continue}.
   *
   * Scale shape: ONE map-side-combined aggregation (two counters per
   * group); the LLR/decision is group-bounded arithmetic. The
   * streaming twin serves the same state live.
   */
  def sprt(df: DataFrame, labelCol: String,
           p0Num: Long, p0Den: Long, p1Num: Long, p1Den: Long,
           alphaMilli: Long = 50L, betaMilli: Long = 50L,
           by: Seq[String] = Nil): DataFrame = {
    val (w1, w0, up, lo) = sprtConstants(p0Num, p0Den, p1Num, p1Den,
      alphaMilli, betaMilli)
    val pos = col(labelCol)
    val m = df.where(pos.isNotNull)
      .groupBy(by.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sum(when(pos, 1L).otherwise(0L)).as("k"))
    val llr = col("k") * lit(w1) + (col("n") - col("k")) * lit(w0)
    m.select((by.map(col) :+ col("n") :+ col("k") :+
      llr.as("llr_micro") :+ lit(up).as("upper_micro") :+
      lit(lo).as("lower_micro") :+
      when(llr >= up, "accept_h1").when(llr <= lo, "accept_h0")
        .otherwise("continue").as("decision")): _*)
  }

  /** The SPRT micro-nat literals (w1, w0, upper, lower) — shared by
    * the batch op, the streaming twin, and the oracle generator. */
  private[graft] def sprtConstants(p0Num: Long, p0Den: Long, p1Num: Long,
                                   p1Den: Long, alphaMilli: Long,
                                   betaMilli: Long): (Long, Long, Long, Long) = {
    require(p0Num > 0 && p0Num < p0Den && p1Num > 0 && p1Num < p1Den,
      "sprt: rates must be strict probabilities")
    require(p1Num * p0Den != p0Num * p1Den, "sprt: p0 and p1 must differ")
    require(alphaMilli > 0 && alphaMilli < 1000 &&
      betaMilli > 0 && betaMilli < 1000, "sprt: alpha/beta in (0,1)")
    def lnMicro(x: Double): Long = math.floor(math.log(x) * 1e6 + 0.5).toLong
    val p0 = p0Num.toDouble / p0Den
    val p1 = p1Num.toDouble / p1Den
    val a = alphaMilli.toDouble / 1000
    val b = betaMilli.toDouble / 1000
    (lnMicro(p1 / p0), lnMicro((1 - p1) / (1 - p0)),
      lnMicro((1 - b) / a), lnMicro(b / (1 - a)))
  }

  /**
   * Cochran–Armitage trend test — is a binary outcome's rate
   * MONOTONE in an ordered dose (length bucket, quality decile,
   * dedup round)? The chi-square of independence burns its power on
   * arbitrary differences; this spends all of it on the linear trend
   * the curriculum / filtering question actually asks.
   *
   * Exactness: with integer dose scores t_i and per-dose (n_i, r_i)
   * BIGINT counts, Z² = N·A² / (R(N−R)·(N·Σt²n − (Σtn)²)) where
   * A = N·Σt·r − R·Σt·n — every product routed through DECIMAL(38,0),
   * ONE double division, 6 dp. `direction` is sign(A): +1 means the
   * positive rate rises with the dose. NULL z2 when the outcome is
   * constant (R = 0 or R = N) or all doses coincide (denominator 0).
   *
   * Output: one row — `n`, `r`, `k`, `z2`, `direction`.
   *
   * Scale shape: ONE map-side-combined aggregation to per-dose
   * counts (doses, not rows, cross the exchange), then a
   * doses-bounded reduction.
   */
  def cochranArmitage(df: DataFrame, doseCol: String,
                      labelCol: String): DataFrame = {
    val t = col(doseCol).cast("long")
    val pos = col(labelCol)
    val perDose = df.where(t.isNotNull && pos.isNotNull)
      .groupBy(t.as("__t"))
      .agg(count(lit(1)).as("__n"),
        sum(when(pos, 1L).otherwise(0L)).as("__r"))
    val m = perDose.agg(count(lit(1)).as("k"),
      sum(col("__n")).as("n"), sum(col("__r")).as("r"),
      sum(col("__t") * col("__n")).as("__tn"),
      sum(col("__t") * col("__t") * col("__n")).as("__ttn"),
      sum(col("__t") * col("__r")).as("__tr"))
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val aNum = dec(col("n")) * col("__tr") - dec(col("r")) * col("__tn")
    val denom = (dec(col("r")) * (col("n") - col("r")))
      .cast("decimal(38,0)") *
      (dec(col("n")) * col("__ttn") - dec(col("__tn")) * col("__tn"))
        .cast("decimal(38,0)")
    m.select(col("n"), col("r"), col("k"),
      when(col("r") > 0L && col("r") < col("n") && denom > 0,
        round((dec(col("n")) * aNum * aNum).cast("double") /
          denom.cast("double"), 6))
        .otherwise(lit(null).cast("double")).as("z2"),
      when(aNum > 0, 1L).when(aNum < 0, -1L).otherwise(0L)
        .as("direction"))
  }
}
