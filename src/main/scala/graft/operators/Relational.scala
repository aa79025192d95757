package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BinaryType

import graft.core.Share

/**
 * Record-level and relational operators re-expressing the reference's
 * transform/materialization surface (SURVEY.md §2.2, §2.4, §2.5) as pure
 * Catalyst column programs — no UDFs, so predicate pushdown, column
 * pruning and whole-stage codegen all apply.
 */
object Relational {

  /** Pick a working-column name that cannot collide with the input schema
    * (inputs like `events.props` may legitimately flatten into
    * `__`-prefixed columns under the reference's A4 metadata semantics). */
  private def fresh(base: String, taken: Iterable[String]): String = {
    val t = taken.toSet
    if (!t(base)) base
    else Iterator.from(1).map(i => s"$base$i").find(n => !t(n)).get
  }

  /**
   * PII mask: replace a column with a constant.
   * Reference: `MaskField$Value` SMT replacing `private_info` with
   * "CENSORED" (reference README.md:104-107).
   * A constant projection — Catalyst constant-folds it; at 100 TB this
   * costs nothing beyond the write.
   */
  def maskColumn(df: DataFrame, column: String, replacement: String = "CENSORED"): DataFrame =
    df.withColumn(column, lit(replacement))

  /**
   * Latest-state materialization of a changelog: keep, per key, the row
   * ranked FIRST by `ordering`. This is the table-level semantics of the
   * reference's `ExtractNewRecordState` unwrap + compacted topic
   * (postgres/connector.json:11-14): the per-key newest row wins.
   *
   * `ordering` is used verbatim — pass direction explicitly (e.g.
   * `Seq($"ts".desc, $"event_id".desc)`) and ALWAYS include a unique
   * tie-breaker column, otherwise ties pick a nondeterministic winner.
   *
   * Implemented as a ranking window (one shuffle on the key). At scale,
   * per-key state is one row — no skew concerns beyond what AQE handles.
   */
  def latestStatePerKey(df: DataFrame, keys: Seq[String], ordering: Seq[Column]): DataFrame = {
    val rn = fresh("__rn", df.columns)
    val w = Window.partitionBy(keys.map(col): _*).orderBy(ordering: _*)
    df.withColumn(rn, row_number().over(w))
      .filter(col(rn) === 1)
      .drop(rn)
  }

  /** SCD Type-2 materialization of a changelog (the CDC-warehouse twin
    * of A1's latest-state: keep EVERY version with its validity
    * interval instead of only the newest). Each change row becomes a
    * dimension row valid from its own timestamp until the key's next
    * change (`valid_to` null on the current version — the half-open
    * [from, to) convention). `tieBreak` orders simultaneous changes
    * (e.g. the change-log sequence id).
    *
    * Scale shape: one hash shuffle on the key + a per-key sort — the
    * same cost as latest-state; no self-join (the naive form joins the
    * changelog to itself on key and adjacent ts). */
  def scd2(df: DataFrame, keys: Seq[String], tsCol: String,
           tieBreak: Seq[String] = Nil): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy((col(tsCol) +: tieBreak.map(col)): _*)
    df.withColumn("valid_from", col(tsCol))
      .withColumn("valid_to", lead(col(tsCol), 1).over(w))
      .withColumn("is_current", col("valid_to").isNull)
  }

  /** Per-group top-k by `ordering` (direction-bearing columns welcome):
    * ranking window + filter. `rankCol = Some(name)` keeps the 1-based
    * rank in the output under `name`. */
  def topKPerGroup(df: DataFrame, keys: Seq[String], ordering: Seq[Column], k: Int,
                   rankCol: Option[String] = None): DataFrame = {
    val rn = rankCol.getOrElse(fresh("__rn", df.columns))
    val w = Window.partitionBy(keys.map(col): _*).orderBy(ordering: _*)
    val ranked = df.withColumn(rn, row_number().over(w)).filter(col(rn) <= k)
    if (rankCol.isDefined) ranked else ranked.drop(rn)
  }

  /**
   * Per-series delta of consecutive samples — the batch form of PromQL
   * `rate(x[1m])` that the reference's Grafana panels compute
   * (grafana/dashboards/connect.json:1722,1825). `delta = v - lag(v)`
   * over (series, order). Divide by the time delta for a true rate.
   */
  def lagDelta(df: DataFrame, series: Seq[String], ordering: Seq[Column],
               valueCol: String, out: String = "delta"): DataFrame = {
    val w = Window.partitionBy(series.map(col): _*).orderBy(ordering: _*)
    df.withColumn(out, col(valueCol) - lag(col(valueCol), 1).over(w))
  }

  /**
   * Skew-resistant equi join by key salting: the heavy side's rows get
   * a random-free deterministic salt (hash of the whole row modulo
   * `saltFactor`), the other side is replicated across all salt values,
   * and the join runs on (keys, salt) — splitting each hot key's rows
   * across `saltFactor` reducers instead of funneling them into one.
   *
   * Use when AQE's skew-join split is not enough (e.g. a single key
   * holding >> one partition's worth on BOTH sides of a shuffle join).
   * Results are identical to a plain inner equi join.
   *
   * With `hotKeyThreshold = Some(t)` the salting is TWO-PATH: one
   * map-combined key-count pass finds the heavy-hitter keys (count ≥ t;
   * the hot set is ≤ |skewed|/t keys by construction, so it broadcasts),
   * only rows of those keys are salted/replicated, and everything else
   * takes the plain equi join — replication cost drops from
   * |replicated|·factor to |hot dim rows|·factor, which is what makes
   * the technique affordable when the dim side is itself large. `None`
   * salts everything (the right call when most keys are hot or the
   * replicated side is trivially small).
   *
   * Detection is exact counting, not sampling: deterministic on every
   * run/engine (the engine's no-rand contract), and the count shuffle
   * carries one long per distinct key — noise next to the join itself.
   */
  def saltedJoin(skewed: DataFrame, replicated: DataFrame, keys: Seq[String],
                 saltFactor: Int, hotKeyThreshold: Option[Long] = None): DataFrame = {
    require(saltFactor >= 1, "saltFactor must be >= 1")
    def saltAll(s0: DataFrame, r0: DataFrame): DataFrame = {
      val salt = fresh("__salt", s0.columns ++ r0.columns)
      // deterministic per-row salt: hash of all columns (no rand() — the
      // engine's determinism contract), uniform enough to split hot keys
      val s = s0.withColumn(salt,
        pmod(xxhash64(s0.columns.map(col): _*), lit(saltFactor.toLong)))
      val r = r0.withColumn(salt,
        explode(sequence(lit(0L), lit(saltFactor.toLong - 1))))
      s.join(r, keys :+ salt).drop(salt)
    }
    hotKeyThreshold match {
      case None => saltAll(skewed, replicated)
      case Some(t) =>
        require(t >= 1, "hotKeyThreshold must be >= 1")
        val nCol = fresh("__hk_n", skewed.columns ++ replicated.columns)
        val hot = broadcast(
          skewed.groupBy(keys.map(col): _*).agg(count(lit(1)).as(nCol))
            .filter(col(nCol) >= t).select(keys.map(col): _*))
        val hotFacts = skewed.join(hot, keys, "left_semi")
        val coldFacts = skewed.join(hot, keys, "left_anti")
        val hotDim = replicated.join(hot, keys, "left_semi")
        // cold facts carry no hot key, so joining the FULL dim is exact
        // (hot dim rows simply find no partner) and saves an anti-join
        saltAll(hotFacts, hotDim).unionByName(coldFacts.join(replicated, keys))
    }
  }

  /**
   * As-of join (§2.3): enrich each probe row with the newest build-side
   * row of the same key whose timestamp is <= the probe's (the
   * enrich-with-latest-dim-version pattern; DuckDB spells it ASOF JOIN).
   *
   * Implemented as the union-window trick — the scalable shape:
   * both sides union into one relation tagged by origin, one shuffle
   * on the key, one per-key sort by (ts, tag), and
   * `last(payload, ignoreNulls)` carries the most recent build payload
   * forward onto each probe row. No explode, no range bucketing, no
   * per-probe subquery — cost is a single sort-shuffle regardless of
   * how many build versions precede each probe.
   *
   * Build rows sort BEFORE probe rows at equal timestamps, so the match
   * condition is inclusive (`build.ts <= probe.ts`), matching DuckDB
   * ASOF semantics. The build side must be unique per (key, ts) —
   * pre-collapse with `latestStatePerKey` if it is not, otherwise the
   * carried payload among same-ts duplicates is nondeterministic.
   *
   * The payload travels as ONE struct column and `last(_, ignoreNulls)`
   * carries the whole struct: a build row whose payload value is
   * legitimately NULL still wins (the struct itself is non-null), and
   * multi-column payloads can never mix values from different build
   * rows — both divergences the naive per-column carry has.
   *
   * @param probe     left side, kept in full (left-join semantics)
   * @param build     right side providing the as-of payload
   * @param keys      equi-key column names present on both sides
   * @param tsCol     timestamp column name present on both sides
   * @param payload   build-side columns to carry (must not collide with
   *                  probe columns)
   */
  def asOfJoin(probe: DataFrame, build: DataFrame, keys: Seq[String],
               tsCol: String, payload: Seq[String]): DataFrame = {
    require(payload.nonEmpty, "asOfJoin: payload must name at least one build column")
    require(payload.forall(build.columns.contains),
      s"asOfJoin: payload ${payload.mkString(",")} missing from build side")
    require(!payload.exists(probe.columns.contains),
      "asOfJoin: payload columns must not collide with probe columns")
    val tag = fresh("__tag", probe.columns ++ build.columns ++ payload)
    val pay = fresh("__pay", probe.columns ++ build.columns ++ payload :+ tag)
    val common = keys :+ tsCol
    val payType = org.apache.spark.sql.types.StructType(payload.map(p => build.schema(p)))
    val probeSide = probe
      .withColumn(tag, lit(1))
      .select(probe.columns.map(col) :+
        lit(null).cast(payType).as(pay) :+ col(tag): _*)
    val buildSide = build
      .withColumn(tag, lit(0))
      .select(common.map(col) ++
        probe.columns.filterNot(common.contains).map(c => lit(null).cast(probe.schema(c).dataType).as(c)) :+
        struct(payload.map(col): _*).as(pay) :+ col(tag): _*)
      .select(probeSide.columns.map(col): _*) // align column order
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol).asc, col(tag).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    probeSide.unionByName(buildSide)
      .select((probe.columns.map(col) :+
        last(col(pay), ignoreNulls = true).over(w).as(pay) :+ col(tag)): _*)
      .filter(col(tag) === 1)
      .select(probe.columns.map(col) ++
        payload.map(p => col(s"$pay.$p").as(p)): _*)
  }

  /**
   * Distributed exact interpolated quantiles (§2.4) — the scale-safe
   * replacement for Spark's built-in `percentile`, which is an
   * ImperativeAggregate buffering every (value → count) of a group inside
   * ONE aggregation buffer: correct at test scale, memory-unbounded when a
   * 100× scale-up concentrates ~N/groups mostly-distinct doubles in a
   * single buffer.
   *
   * Same semantics as Spark `percentile` / DuckDB `quantile_cont`: linear
   * interpolation at rank h = q·(n−1) over the sorted non-null values,
   * result = v⌊h⌋ + (h−⌊h⌋)·(v⌊h⌋₊₁ − v⌊h⌋).
   *
   * Shape (every stage distributed, no O(group) buffer anywhere):
   *  1. hash-agg (group, value) → count          — distinct-value compression
   *  2. per-group min/max/n                      — tiny, broadcast back
   *  3. value-range bucketing (`buckets` equal-width ranges per group);
   *     per-(group, bucket) totals; per-group prefix over ≤`buckets` rows
   *     gives each bucket's exclusive offset (the only window whose
   *     partition is group-wide is bucket-count-sized by construction)
   *  4. per-(group, bucket) running count + broadcast offset → exact
   *     global cumulative count per distinct value, computed in parallel
   *  5. one final hash-agg per group: the value at 0-indexed position p is
   *     min(value | cum > p) — values increase with cum, so the covering
   *     row wins; interpolate the two straddling positions.
   *
   * Skewed value distributions only unbalance bucket SIZES (a bucket is
   * still streamed through a spillable window sort, ~rows/buckets each for
   * uniform data); correctness never depends on the bucketing.
   *
   * @param quantiles (outputColumn, q) pairs, each q in [0, 1]
   * @return one row per group: groupCols ++ quantile columns (double)
   */
  def exactQuantiles(df: DataFrame, groupCols: Seq[String], valueCol: String,
                     quantiles: Seq[(String, Double)], buckets: Int = 256): DataFrame = {
    val gcols = groupCols.map(col)
    val v = col(valueCol)
    val counts = df.filter(v.isNotNull)
      .groupBy((gcols :+ v.as(valueCol)): _*)
      .agg(count(lit(1)).as("__cnt"))
    exactQuantilesFromCounts(counts, groupCols, valueCol, "__cnt",
      quantiles, buckets)
  }

  /** [[exactQuantiles]] over a PRE-AGGREGATED per-(group, value)
    * histogram (`cntCol` = multiplicity of `valueCol` in the group) —
    * the entry point for callers that already hold the distinct-value
    * compression, e.g. [[madOutliers]]' second pass, whose deviation
    * histogram is a deterministic per-VALUE transform of the first
    * pass's histogram and must not re-scan the corpus to rebuild it.
    * Values must be non-null; weights must be >= 1 (a histogram).
    * Result is identical to running exactQuantiles over the expanded
    * rows. */
  def exactQuantilesFromCounts(counts0: DataFrame, groupCols: Seq[String],
                               valueCol: String, cntCol: String,
                               quantiles: Seq[(String, Double)],
                               buckets: Int = 256): DataFrame = {
    require(quantiles.nonEmpty, "exactQuantiles: need at least one quantile")
    require(quantiles.forall { case (_, q) => q >= 0.0 && q <= 1.0 },
      "exactQuantiles: quantiles must be in [0, 1]")
    require(buckets >= 1, "exactQuantiles: buckets must be >= 1")
    val gcols = groupCols.map(col)
    val v = col(valueCol)
    val counts = counts0.withColumnRenamed(cntCol, "__cnt")
    // NOTE (r16, measured): four consumers re-evaluate this subtree
    // (stats, withStats, and — via bucketed — the offsets branch and
    // the window pass), and materializing it once here LOOKS like the
    // obvious dedup. It is a wall-clock pessimization (q154 5.2 s →
    // 8.1 s, q209/q136/q274/q153 all +10-25% at sf0.1): on a
    // distinct-heavy value column the materialized compression is
    // ~corpus-sized, so cache write + 4 cache reads cost more than
    // the 4 parallel re-aggregations, locally AND at scale (a 100 TB
    // near-unique column caches ~100 TB to local disk). The r8 note
    // below records the same lesson for the window-derived variant.
    // (Exchange reuse still dedups the shuffle itself: only the
    // post-shuffle operators replay per consumer.)
    val stats = counts.groupBy(gcols: _*)
      .agg(min(v).as("__vmin"), max(v).as("__vmax"), sum(col("__cnt")).as("__n"))
    val withStats = counts.join(broadcast(stats), groupCols)
    val span = col("__vmax") - col("__vmin")
    val bkt = when(span === 0, lit(0L)).otherwise(
      least(floor((v - col("__vmin")) / span * buckets).cast("long"),
        lit(buckets.toLong - 1)))
    val bucketed = withStats.withColumn("__bkt", bkt)
    // Offsets come from a SEPARATE per-(group, bucket) aggregation
    // branch, not from the window output. Deriving totals from the
    // window (max running count) was tried in r8 and is a wall-clock
    // pessimization: the broadcast subtree then sits ABOVE the window,
    // so the expensive in-bucket sort evaluates twice, sequentially
    // (only the exchange below it is reused), where this shape runs
    // the cheap totals branch in parallel with the one window sort —
    // measured 1.65 s vs 2.37 s at sf0.1 in the full bench.
    val perBucket = bucketed.groupBy((gcols :+ col("__bkt")): _*)
      .agg(sum(col("__cnt")).as("__bsum"))
    val wB = Window.partitionBy(gcols: _*).orderBy("__bkt")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offsets = perBucket
      .withColumn("__off", sum(col("__bsum")).over(wB) - col("__bsum"))
      .select((gcols :+ col("__bkt") :+ col("__off")): _*)
    val wIn = Window.partitionBy((gcols :+ col("__bkt")): _*).orderBy(v)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = bucketed
      .join(broadcast(offsets), groupCols :+ "__bkt")
      .withColumn("__cum", col("__off") + sum(col("__cnt")).over(wIn))
    val aggs = quantiles.zipWithIndex.flatMap { case ((_, q), i) =>
      val h = lit(q) * (col("__n") - 1).cast("double")
      val lo = floor(h)
      Seq(
        min(when(col("__cum") > lo, v)).as(s"__vlo_$i"),
        min(when(col("__cum") > lo + 1, v)).as(s"__vhi_$i"),
        min(h - lo).as(s"__frac_$i"))
    }
    val outCols = gcols ++ quantiles.zipWithIndex.map { case ((name, _), i) =>
      val vlo = col(s"__vlo_$i").cast("double")
      val vhi = coalesce(col(s"__vhi_$i").cast("double"), col(s"__vlo_$i").cast("double"))
      (vlo + col(s"__frac_$i") * (vhi - vlo)).as(name)
    }
    cum.groupBy(gcols: _*).agg(aggs.head, aggs.tail: _*).select(outCols: _*)
  }

  /** Multi-measure [[exactQuantiles]]: several value columns through ONE
    * run of the 5-stage program instead of one run (scan + shuffle +
    * join) per measure. Measures are melted to long form — each row
    * explodes to (group, measureIndex, value) — and the measure index
    * joins the grouping key, so distinct-value compression, bucketing
    * and the covering-row selection all run per (group, measure) in the
    * same job over a single table scan. The melt ships a 4-byte index,
    * never the measure name. Quantile fractions are computed as the
    * union across specs (deduplicated), then a final tiny pivot maps
    * each measure's requested fractions to its output names.
    *
    * @param specs (valueColumn, (outputName, q) pairs) per measure;
    *              output names must be globally unique
    * @return one row per group: groupCols ++ every named quantile
    */
  def exactQuantilesMulti(df: DataFrame, groupCols: Seq[String],
                          specs: Seq[(String, Seq[(String, Double)])],
                          buckets: Int = 256): DataFrame = {
    require(specs.nonEmpty, "exactQuantilesMulti: need at least one measure")
    val outNames = specs.flatMap(_._2.map(_._1))
    require(outNames.distinct.size == outNames.size,
      "exactQuantilesMulti: output names must be unique across measures")
    val gcols = groupCols.map(col)
    val taken = df.columns
    val mvc = fresh("__mv", taken)
    val m = fresh("__m", taken)
    val v = fresh("__v", taken)
    val melted = df
      .select((gcols :+ explode(array(specs.zipWithIndex.map {
        case ((vc, _), i) =>
          struct(lit(i).as("m"), col(vc).cast("double").as("v"))
      }: _*)).as(mvc)): _*)
      .select((gcols :+ col(s"$mvc.m").as(m) :+ col(s"$mvc.v").as(v)): _*)
    val fracs = specs.flatMap(_._2.map(_._2)).distinct.sorted
    val united = exactQuantiles(melted, groupCols :+ m, v,
      fracs.indices.map(i => s"__uq_$i" -> fracs(i)), buckets)
    val pivots = specs.zipWithIndex.flatMap { case ((_, qs), i) =>
      qs.map { case (name, q) =>
        min(when(col(m) === i, col(s"__uq_${fracs.indexOf(q)}"))).as(name)
      }
    }
    united.groupBy(gcols: _*).agg(pivots.head, pivots.tail: _*)
  }

  /**
   * Scalable interval × point join (range/theta join): joins `points`
   * rows to `intervals` rows where the caller's `residual` predicate
   * holds, without a cartesian product.
   *
   * Spark plans a raw range predicate as BroadcastNestedLoopJoin —
   * O(|P|·|I|) comparisons, hopeless at 100 TB. Instead we discretize the
   * point domain into fixed-width buckets: each point lands in one
   * bucket, each interval explodes to the (widened by one, to stay safe
   * under the caller's exact floating-point predicate) bucket range it
   * covers, and a shuffled equi-join on the bucket id pairs up only
   * co-located candidates. The caller's exact predicate is re-applied as
   * the residual filter, so bucketing never changes semantics — it only
   * prunes pairs. Cost: O(Σ interval_width / W) exploded rows and a hash
   * join, both linear-ish and shuffle-partitionable.
   *
   * Guard rails: inverted intervals (hi < lo) match nothing and are
   * dropped before the explode; an interval spanning more than
   * `maxBucketsPerInterval` buckets fails the job loudly (raise_error)
   * instead of OOMing an executor or tripping Spark's max sequence
   * length — pick a larger `bucketWidth` instead.
   *
   * @param residual the exact join predicate evaluated on candidate pairs
   */
  def intervalPointJoin(points: DataFrame, pointCol: Column,
                        intervals: DataFrame, lo: Column, hi: Column,
                        residual: Column, bucketWidth: Double,
                        maxBucketsPerInterval: Int = 4096): DataFrame = {
    require(bucketWidth > 0, "bucketWidth must be positive")
    val taken = points.columns ++ intervals.columns
    val bkt = fresh("__bucket", taken)
    val blo = fresh("__blo", taken)
    val bhi = fresh("__bhi", taken)
    val pb = points.withColumn(bkt, floor(pointCol / bucketWidth).cast("long"))
    val span = col(bhi) - col(blo)
    val ib = intervals
      .filter(hi >= lo)
      .withColumn(blo, floor(lo / bucketWidth).cast("long") - 1)
      .withColumn(bhi, floor(hi / bucketWidth).cast("long") + 1)
      .withColumn(bkt, explode(
        when(span > maxBucketsPerInterval.toLong,
          raise_error(concat(
            lit("intervalPointJoin: interval spans "), span,
            lit(s" buckets > max $maxBucketsPerInterval; increase bucketWidth"))))
          .otherwise(sequence(col(blo), col(bhi)))))
      .drop(blo, bhi)
    pb.join(ib, Seq(bkt))
      .where(residual)
      .drop(bkt)
  }

  /**
   * Interval-overlap theta join without a nested loop — the
   * interval×interval companion to [[intervalPointJoin]] (temporal
   * "concurrent validity" joins: overlapping sessions, colliding
   * reservations, co-active experiment windows). Both sides explode to
   * the fixed-width buckets their interval covers and pair up by
   * bucket equi-join; each overlapping pair is emitted EXACTLY once —
   * in the canonical bucket floor(max(lo_l, lo_r)/w), which both sides
   * cover whenever the intervals overlap — so no distinct pass is
   * needed. Overlap is closed-interval: lo_l ≤ hi_r ∧ lo_r ≤ hi_l.
   *
   * Scale shape: one bucket-keyed shuffle of each side at ×(span/w)
   * fan-out; the per-bucket join is the dense-time skew case (AQE
   * skew-join), and `bucketWidth` trades fan-out against bucket
   * density exactly as in [[intervalPointJoin]]. Same loud failure on
   * an interval spanning more than `maxBucketsPerInterval` buckets.
   *
   * OUTPUT-SIZE caveat (bounded corpora only): the exact overlap
   * join's ANSWER is density-unbounded — a hot key on a shared time
   * axis legitimately overlaps everyone, so per-key output grows with
   * the corpus (the r14 sweep measured 10.5× output on 10× data). At
   * 100 TB use [[intervalOverlapPartnerTopK]], whose per-key partner
   * cap bounds the output at N·k and collapses the pair stream into
   * map-side-combined counts before any wide exchange.
   */
  def intervalOverlapJoin(left: DataFrame, lLo: Column, lHi: Column,
                          right: DataFrame, rLo: Column, rHi: Column,
                          bucketWidth: Double,
                          maxBucketsPerInterval: Int = 4096): DataFrame = {
    require(bucketWidth > 0, "bucketWidth must be positive")
    val taken = left.columns ++ right.columns
    val bkt = fresh("__bucket", taken)
    def exploded(df: DataFrame, lo: Column, hi: Column): DataFrame = {
      val blo = floor(lo / bucketWidth).cast("long")
      val bhi = floor(hi / bucketWidth).cast("long")
      val span = bhi - blo
      df.filter(hi >= lo)
        .withColumn(bkt, explode(
          when(span > maxBucketsPerInterval.toLong,
            raise_error(concat(
              lit("intervalOverlapJoin: interval spans "), span,
              lit(s" buckets > max $maxBucketsPerInterval; increase bucketWidth"))))
            .otherwise(sequence(blo, bhi))))
    }
    exploded(left, lLo, lHi)
      .join(exploded(right, rLo, rHi).withColumnRenamed(bkt, bkt + "_r"),
        col(bkt) === col(bkt + "_r"))
      .where(lLo <= rHi && rLo <= lHi &&
        col(bkt) === floor(greatest(lLo, rLo) / bucketWidth).cast("long"))
      .drop(bkt, bkt + "_r")
  }

  /**
   * BOUNDED concurrency profile over [[intervalOverlapJoin]] — the
   * per-entity output discipline for the "who is co-active with whom"
   * use case. The exact overlap join's answer is density-unbounded: a
   * hot key on a shared time axis (one busy user, one busy hour)
   * legitimately overlaps EVERYONE, so per-key output grows with the
   * corpus (the r14 perturbed-replica sweep measured q152 at 10.5× on
   * 10× data — the answer, not the plan). This variant emits, per
   * key, only its top-`k` partners by shared-overlap count.
   *
   * Scale shape: the covered-bucket pair join is unchanged
   * (exactly-once canonical-bucket emission), but the pair STREAM
   * collapses immediately into (key, partner) counts — a map-side
   * combinable aggregate, so the exchange carries one row per
   * DISTINCT partner pair with a count, never the pair list — and the
   * final per-key rank caps output at N·k. Ties break on the partner
   * id: integer-deterministic, replayable by any engine.
   *
   * HOT-BUCKET guard: output and exchanges are bounded, but the
   * covered-bucket self-join still ENUMERATES O(n²) pairs inside a
   * bucket before the map-side combine — a pathological shared time
   * axis (one bucket covered by most of the corpus) would run a
   * silent quadratic task. A pre-pass counts intervals per bucket
   * (one map-side-combined aggregate over the exploded bucket keys —
   * interval-table-sized, never pair-sized) and the job fails LOUDLY
   * (raise_error, the [[intervalPointJoin]] `maxBucketsPerInterval`
   * precedent) when any bucket's population exceeds
   * `maxKeysPerBucket` — widen `bucketWidth` or pre-aggregate the hot
   * key instead of paying its square. The guard broadcast gates the
   * join's build side, so the failure fires before the enumeration.
   *
   * Output: (`keyCol`, `partner`, `n_shared` = overlapping interval
   * pairs between the two keys, `rank` 1..k).
   */
  def intervalOverlapPartnerTopK(intervals: DataFrame, keyCol: String,
                                 loCol: String, hiCol: String,
                                 bucketWidth: Double, k: Int,
                                 maxBucketsPerInterval: Int = 4096,
                                 maxKeysPerBucket: Int = 1 << 16): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(maxKeysPerBucket >= 1, "maxKeysPerBucket must be >= 1")
    // the interval set feeds THREE consumers (guard pre-pass + both
    // overlap-join sides): materialize it once instead of re-running
    // the caller's upstream (typically a sessionize window pass) three
    // times (r16)
    val base = Share.once(intervals, "intervalOverlapPartnerTopK.base")
    val l = base.select(col(keyCol).as("__k1"),
      col(loCol).as("__lo1"), col(hiCol).as("__hi1"))
    val r = base.select(col(keyCol).as("__k2"),
      col(loCol).as("__lo2"), col(hiCol).as("__hi2"))
    // per-bucket population of the interval set (both join sides are
    // this same set): explode to covered buckets, count, keep the max
    val guard = l.filter(col("__hi1") >= col("__lo1"))
      .select(explode(sequence(
        floor(col("__lo1") / bucketWidth).cast("long"),
        floor(col("__hi1") / bucketWidth).cast("long"))).as("__pb"))
      .groupBy("__pb").agg(count(lit(1)).as("__pop"))
      .agg(max(col("__pop")).as("__maxpop"))
      .select(when(col("__maxpop") > maxKeysPerBucket.toLong,
        raise_error(concat(
          lit("intervalOverlapPartnerTopK: a single time bucket holds "),
          col("__maxpop").cast("string"),
          lit(s" intervals > maxKeysPerBucket $maxKeysPerBucket — the " +
            "in-bucket pair enumeration would be quadratic; widen " +
            "bucketWidth or pre-aggregate the hot key"))))
        .otherwise(lit(1L)).as("__ok"))
    val lg = l.crossJoin(broadcast(guard)).where(col("__ok") === 1L)
      .drop("__ok")
    val counts = intervalOverlapJoin(lg, col("__lo1"), col("__hi1"),
        r, col("__lo2"), col("__hi2"), bucketWidth, maxBucketsPerInterval)
      .filter(col("__k1") =!= col("__k2"))
      .groupBy(col("__k1"), col("__k2"))
      .agg(count(lit(1)).as("n_shared"))
    topKPerGroup(counts, Seq("__k1"),
        Seq(col("n_shared").desc, col("__k2").asc), k, rankCol = Some("rank"))
      .select(col("__k1").as(keyCol), col("__k2").as("partner"),
        col("n_shared"), col("rank"))
  }

  /**
   * Bloom-pruned semi-join (an explicit runtime filter): keep `big` rows
   * whose `bigKey` appears in `keys.keyCol`, pruning the big side with a
   * compact Bloom filter BEFORE the join's exchange ever sees it.
   *
   * The key set is first folded distributedly (`stat.bloomFilter` runs a
   * `treeAggregate`) into a Bloom sketch of `xxhash64(key)` values — a
   * few hundred KB for a million keys at 3% fpp — which ships to every
   * scan task as a constant and probes inside whole-stage codegen
   * (catalyst's `BloomFilterMightContain`, the same expression Spark's
   * own `InjectRuntimeFilter` plants). Rows failing the probe never
   * reach the semi-join exchange, so at 100 TB with a selective key set
   * the shuffle shrinks to the survivors; the exact semi-join on the
   * real key column then removes the Bloom's false positives (and rows
   * whose hashes collide), so the result is EXACTLY the plain semi-join,
   * for any key type. Null big-side keys probe as xxhash64's seed but
   * cannot survive the null-rejecting equi-join — also exact.
   *
   * Versus relying on Spark's automatic runtime filter: the optimizer
   * only injects one under size/selectivity heuristics and inside a
   * single query's join; this operator makes the prune deterministic and
   * lets the built sketch prune ANY number of downstream scans (build
   * once per dim, probe many facts).
   *
   * @param expectedKeys sizes the sketch — overshooting costs bytes,
   *                     undershooting costs false-positive rate (never
   *                     correctness)
   */
  def bloomSemiJoin(big: DataFrame, bigKey: String,
                    keys: DataFrame, keyCol: String,
                    expectedKeys: Long = 1L << 20,
                    fpp: Double = 0.03): DataFrame = {
    val kh = fresh("__bloom_hash", big.columns ++ keys.columns)
    val kk = fresh("__bloom_key", big.columns ++ keys.columns)
    val keyRows = keys.filter(col(keyCol).isNotNull)
    val bf = keyRows.select(xxhash64(col(keyCol)).as(kh))
      .stat.bloomFilter(kh, expectedKeys, fpp)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    val probe = GraftBridge.column(BloomFilterMightContain(
      Literal(bos.toByteArray, BinaryType),
      GraftBridge.expression(xxhash64(col(bigKey)))))
    big.filter(probe)
      .join(keyRows.select(col(keyCol).as(kk)),
        col(bigKey) === col(kk), "left_semi")
  }

  /**
   * Group-wise z-score standardization — the feature-normalization
   * step before any scale-sensitive downstream (quality-score fusion,
   * k-means over mixed features, threshold transfer across strata):
   * z = (x − mean) / stddev per group, population variance.
   *
   * Exactness: the sums Σx and Σx² accumulate in DECIMAL over
   * 6-dp-rounded inputs (order-exact, engine-exact); every DERIVED
   * step — mean = double(Σx)/n, E[x²] = double(Σx²)/n, var =
   * E[x²] − mean², z = (x − mean)/sqrt(var) — is a fixed-order IEEE
   * double program (each op correctly rounded, so any engine
   * replaying the same operand order lands on identical bits), with
   * `z` rounded once to 4 dp. Groups with non-positive computed
   * variance emit z = NULL (constant groups; no sign-flip noise).
   *
   * Scale shape: one map-side-combined moments aggregation (3 values
   * per group), broadcast back, scan-local projection.
   */
  def zscore(df: DataFrame, groupCols: Seq[String], valueCol: String,
             outCol: String = "z"): DataFrame = {
    val x = round(col(valueCol).cast("double"), 6).cast("decimal(28,6)")
    val m = df.groupBy(groupCols.map(col): _*)
      .agg(count(col(valueCol)).as("__zn"), // non-null rows only
        sum(x).cast("double").as("__zs"),
        sum((x * x).cast("decimal(38,12)")).cast("double").as("__zss"))
      .withColumn("__zmean", col("__zs") / col("__zn"))
      .withColumn("__zvar",
        col("__zss") / col("__zn") - col("__zmean") * col("__zmean"))
      .select((groupCols.map(col) :+ col("__zmean") :+ col("__zvar")): _*)
    df.join(broadcast(m), groupCols)
      .withColumn(outCol,
        when(col("__zvar") > 0,
          round((col(valueCol).cast("double") - col("__zmean")) /
            sqrt(col("__zvar")), 4))
          .otherwise(lit(null).cast("double")))
      .drop("__zmean", "__zvar")
  }

  /**
   * Winsorization — the robust-statistics companion to
   * [[exactQuantiles]]: per group, values CLAMP into the exact
   * [qLow, qHigh] quantile interval instead of filtering
   * (`Sampling.quantileThresholdFilter` drops rows; this keeps every
   * row and tames the tails — what a feature-normalization or
   * outlier-robust aggregation pass wants). Cuts come from the same
   * 5-stage distributed exact-quantile program and join back as a
   * broadcast (one row per group); the clamp is a scan-local
   * `least/greatest` projection.
   *
   * Output: input columns + `loCol`/`hiCol` (the group's cuts) +
   * `outCol` (the clamped double).
   */
  def winsorize(df: DataFrame, groupCols: Seq[String], valueCol: String,
                qLow: Double, qHigh: Double, outCol: String = "winsorized",
                loCol: String = "q_lo", hiCol: String = "q_hi"): DataFrame = {
    require(qLow >= 0.0 && qLow <= qHigh && qHigh <= 1.0,
      "need 0 <= qLow <= qHigh <= 1")
    val cuts = exactQuantiles(df, groupCols, valueCol,
      Seq(loCol -> qLow, hiCol -> qHigh))
    df.join(broadcast(cuts), groupCols)
      .withColumn(outCol,
        least(greatest(col(valueCol).cast("double"), col(loCol)), col(hiCol)))
  }

  /**
   * Median-absolute-deviation outlier flags — the robust companion to
   * [[zscore]] (a mean/stddev z is itself dragged by the outliers it
   * hunts; median and MAD have a 50% breakdown point, the standard
   * robust gate for heavy-tailed quality scores). Two passes of the
   * exact distributed quantile program: the per-group median, then the
   * median of |x − med|; a row is an outlier when |x − med| > k·MAD
   * (raw MAD — apply the 1.4826 normal-consistency factor in `k` if
   * normal-equivalent sigmas are wanted). Groups with MAD = 0 (over
   * half the mass on one value) flag every deviating row.
   *
   * Appends `med`, `mad`, `deviation` (|x − med|, round 6) and
   * `is_outlier`; both quantile passes broadcast one row per group.
   */
  def madOutliers(df: DataFrame, groupCols: Seq[String], valueCol: String,
                  k: Double = 3.0): DataFrame = {
    require(k > 0, "k must be positive")
    val gcols = groupCols.map(col)
    val v = col(valueCol)
    // ONE distinct-value histogram feeds BOTH medians (r17): the
    // deviation |x − med| is a deterministic per-VALUE transform, so
    // the second pass's histogram is the first pass's histogram with
    // the value column mapped and re-summed — vocabulary-sized work.
    // The previous shape ran a second full exactQuantiles over the
    // per-ROW deviation table, which embedded the whole first program
    // (corpus scan + shuffle included) inside every one of the second
    // program's consumers (q154's 160-Exchange plan, 8.2 s driver).
    val counts = df.filter(v.isNotNull)
      .groupBy((gcols :+ v.as(valueCol)): _*)
      .agg(count(lit(1)).as("__cnt"))
    val med = exactQuantilesFromCounts(counts, groupCols, valueCol, "__cnt",
      Seq("med" -> 0.5))
    val devCounts = counts.join(broadcast(med), groupCols)
      .select((gcols :+
        round(abs(v.cast("double") - col("med")), 6).as("deviation") :+
        col("__cnt")): _*)
      .groupBy((gcols :+ col("deviation")): _*)
      .agg(sum(col("__cnt")).as("__cnt"))
    val mad = exactQuantilesFromCounts(devCounts, groupCols, "deviation",
        "__cnt", Seq("mad" -> 0.5))
      // quantize before the threshold compare: both engines' quantile
      // interpolations agree to well under 1e-6, so the 6-dp grid makes
      // the outlier boundary replay-stable
      .withColumn("mad", round(col("mad"), 6))
    df.join(broadcast(med), groupCols)
      .withColumn("deviation",
        round(abs(col(valueCol).cast("double") - col("med")), 6))
      .join(broadcast(mad), groupCols)
      .withColumn("is_outlier", col("deviation") > lit(k) * col("mad"))
  }

  /**
   * Percentile-rank transform (rank-based quantile normalization) —
   * the scale-free alternative to [[zscore]]: each value maps to its
   * group's average-rank percentile, pct = (2·below + ties + 1) /
   * (2·n) — an ALL-INTEGER numerator and one double division rounded
   * to 6, so ties share one deterministic value and engines agree
   * bit-for-bit. The feature-prep step that makes scores comparable
   * across strata with different score scales.
   *
   * Scale shape: rows collapse to the per-(group, value) histogram in
   * one map-side-combined aggregation; the cumulative window runs
   * over that histogram (the rocAuc architecture) and the result
   * joins back by (group, value) — distinct-value cardinality on the
   * wire, never a data-sized sort.
   */
  def percentileRank(df: DataFrame, groupCols: Seq[String],
                     valueCol: String, outCol: String = "pct"): DataFrame = {
    val gcols = groupCols.map(col)
    val hist = df.where(col(valueCol).isNotNull)
      .groupBy((gcols :+ col(valueCol)): _*)
      .agg(count(lit(1)).as("__c"))
    val wc = org.apache.spark.sql.expressions.Window
      .partitionBy(gcols: _*).orderBy(col(valueCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val wg = org.apache.spark.sql.expressions.Window.partitionBy(gcols: _*)
    val pct = hist
      .withColumn("__below", coalesce(sum(col("__c")).over(wc), lit(0L)))
      .withColumn("__n", sum(col("__c")).over(wg))
      .select((gcols :+ col(valueCol) :+
        round((col("__below") * 2 + col("__c") + 1).cast("double") /
          (col("__n") * 2), 6).as(outCol)): _*)
    df.join(pct, groupCols :+ valueCol)
  }

  /**
   * Blocked fuzzy entity matching: all DISTINCT-string pairs within
   * Levenshtein distance `maxDist`, found by pigeonhole blocking —
   * each string splits into `chunks` positional character chunks, and
   * a pair becomes a candidate iff SOME (chunk_index, chunk_value)
   * matches exactly; the exact `levenshtein` residual then decides.
   * For same-length strings and substitution edits the pigeonhole is
   * a complete recall guarantee when `chunks > maxDist` (k
   * substitutions can touch at most k chunks); insert/delete edits
   * shift positions and can escape the blocks — for indel-heavy
   * near-dup text use the n-gram MinHash family (q52) instead. This
   * operator targets FIXED-FORMAT keys (product names, codes, typo'd
   * vocab) where substitutions dominate.
   *
   * Strings dedup first (one representative row per distinct string,
   * MIN id), so blocking cardinality is vocabulary-bounded, not
   * corpus-bounded. Output: (id_a, id_b, str_a, str_b, dist) with
   * id_a < id_b, one row per pair (candidates found via several
   * chunks collapse by the pair key before the residual runs once).
   *
   * Scale shape: explode-by-chunks is a ×`chunks` map; the only
   * exchange keys on (chunk_index, chunk_value) — never all-pairs;
   * per-block fan-out is block-size², the standard blocking trade
   * (pick `chunks` so blocks stay selective on the key format). The
   * levenshtein residual runs post-dedup, once per candidate pair,
   * inside codegen.
   */
  def editBlockedPairs(df: DataFrame, idCol: String, strCol: String,
                       maxDist: Int, chunks: Int): DataFrame = {
    require(maxDist >= 1, "maxDist must be >= 1")
    require(chunks > maxDist, "need chunks > maxDist for the pigeonhole")
    val reps = df
      .select(col(strCol).as("__s"), col(idCol).as("__id"))
      .where(col("__s").isNotNull)
      .groupBy("__s").agg(min(col("__id")).as("__id"))
    // Positional chunks over the string's own length: chunk i covers
    // [i*ceil(len/chunks), (i+1)*ceil(len/chunks)) — empty tail chunks
    // (short strings) drop out of the explode.
    val width = ceil(length(col("__s")).cast("double") / chunks).cast("int")
    val keyed = reps.select(col("__id"), col("__s"),
        posexplode(transform(sequence(lit(0), lit(chunks - 1)),
          i => substring(col("__s"), lit(1) + i * width, width))))
      .where(col("col") =!= "")
      .select(col("__id"), col("__s"), col("pos").as("__ci"),
        col("col").as("__cv"))
    keyed.as("a")
      .join(keyed.as("b"),
        col("a.__ci") === col("b.__ci") && col("a.__cv") === col("b.__cv")
          && col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("id_a"), col("b.__id").as("id_b"),
        col("a.__s").as("str_a"), col("b.__s").as("str_b"))
      .distinct()
      .withColumn("dist", levenshtein(col("str_a"), col("str_b")))
      .where(col("dist") <= maxDist)
  }

  /**
   * Weighted exact quantiles — [[exactQuantiles]] where each row
   * counts `weightCol` times: "the median doc length BY TOKEN MASS",
   * the budget-weighted readout an unweighted median misreports
   * whenever size and count disagree (they always do in a corpus).
   * Type-1 (lower) weighted quantile: the smallest value whose
   * cumulative weight covers the cut.
   *
   * Exactness: the decision is PURE INTEGER — value v is the p-th
   * percentile iff 100·cumWeight(v) ≥ p·W with exact BIGINT weights,
   * so quantiles are integer percents by contract and no float ever
   * enters the walk. Zero/negative weights drop.
   * Output: `by`* + one double column per requested percentile.
   *
   * Scale shape: one per-(group, value) weight histogram (distinct
   * values, not rows, cross the exchange), one prefix-sum window on
   * the group partitioning, one min-aggregation — the
   * [[exactQuantiles]] shape minus the bucket stage (the histogram
   * IS the bounded frame).
   */
  def weightedQuantiles(df: DataFrame, by: Seq[String], valueCol: String,
                        weightCol: String,
                        quantiles: Seq[(String, Int)]): DataFrame = {
    require(quantiles.nonEmpty, "weightedQuantiles: need >= 1 quantile")
    require(quantiles.forall { case (_, p) => p >= 1 && p <= 100 },
      "weightedQuantiles: percents must be in [1, 100]")
    val v = col(valueCol)
    val hist = df.where(v.isNotNull && col(weightCol).isNotNull &&
        col(weightCol) > 0L)
      .groupBy((by.map(col) :+ v.as("__v")): _*)
      .agg(sum(col(weightCol).cast("long")).as("__w"))
    val wc = Window.partitionBy(by.map(col): _*).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = hist.groupBy(by.map(col): _*).agg(sum(col("__w")).as("__tw"))
    val cum = hist.withColumn("__cum", sum(col("__w")).over(wc))
      .join(tot, by)
    val aggs = quantiles.map { case (name, p) =>
      min(when(col("__cum") * 100L >= col("__tw") * p.toLong, col("__v")))
        .cast("double").as(name)
    }
    cum.groupBy(by.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }
}
