package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * One-pass table profiling — the ANALYZE-shaped report every ingest job
 * runs before training-set assembly (and the reference's operators rely
 * on the warehouse for: row counts, null rates, cardinalities feeding
 * connector sizing and partition decisions).
 *
 * `numeric` profiles a set of numeric columns in ONE scan: per column
 * the row count, null count, exact distinct count, min/max, and an
 * order-independent exact sum/mean (decimal accumulation, so the
 * result does not depend on partitioning or merge order — the same
 * decimal-sum determinism trick the aggregate queries use).
 *
 * Scale shape: the melt is a narrow explode in the scan projection —
 * rows × |cols| (name, value) pairs, never whole rows — and the ONE
 * data-sized exchange carries the value-compressed relation: map-side
 * partials collapse each partition to its distinct (col, value, count)
 * triples before the shuffle (the `exactQuantiles` architecture), so
 * every statistic — count, nulls, exact ndv, min/max, decimal-exact
 * sum — derives from the compressed relation in a final |cols|-group
 * aggregate with NO distinct-expand over raw rows. At 100 TB a
 * near-unique column makes the compressed relation approach row count;
 * the documented trade there is `approx_count_distinct` over the raw
 * melt — exactness for a constant-size HLL sketch per column.
 */
object Profile {

  /** One row per profiled column: `col_name, n_rows, n_null,
    * n_distinct, vmin, vmax, vsum, vmean` (sum/mean decimal-exact,
    * rounded to 4/6 places). */
  def numeric(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "Profile.numeric: need at least one column")
    val melted = df
      .select(explode(array(cols.map(c =>
        struct(lit(c).as("col_name"), col(c).cast("double").as("v"))): _*))
        .as("m"))
      .select(col("m.col_name").as("col_name"), col("m.v").as("v"))
    // value compression: one row per distinct (col, value) — nulls form
    // their own group, so null bookkeeping survives the compression
    val compressed = melted.groupBy("col_name", "v")
      .agg(count(lit(1)).as("__cnt"))
    compressed.groupBy("col_name")
      .agg(
        sum(col("__cnt")).as("n_rows"),
        coalesce(sum(when(col("v").isNull, col("__cnt"))), lit(0L))
          .as("n_null"),
        count(col("v")).as("n_distinct"),
        min(col("v")).as("vmin"),
        max(col("v")).as("vmax"),
        round(sum(col("v").cast("decimal(38,6)") * col("__cnt"))
          .cast("double"), 4).as("vsum"),
        round(sum(col("v").cast("decimal(38,6)") * col("__cnt"))
          .cast("double") /
          sum(when(col("v").isNotNull, col("__cnt")).otherwise(0L)), 6)
          .as("vmean"))
  }

  /**
   * String-column catalog — the string third of ANALYZE beside
   * [[numeric]] and [[histogram]]: per column the row/null counts,
   * EXACT distinct count, and length statistics (min/max/total, all
   * integer-exact). The melt carries (column, 128-bit value hash,
   * length) — never the value itself — so the one data-sized exchange
   * shuffles ~28 B per cell REGARDLESS of string size (the exact-dedup
   * posture: a distinct count on two independent 64-bit hashes is
   * exact unless they collide within one column, ~2⁻¹²⁸ per pair —
   * the same documented contract `exactSurvivors` runs dedup on);
   * duplicate values collapse into map-side partials exactly like
   * [[numeric]]'s value compression, so a boilerplate-heavy corpus
   * compresses BEFORE the wire.
   */
  def strings(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "Profile.strings: need at least one column")
    val melted = df
      .select(explode(array(cols.map { c =>
        val v = col(c).cast("string")
        struct(lit(c).as("col_name"),
          when(v.isNotNull, xxhash64(lit(0L), v)).as("h1"),
          when(v.isNotNull, xxhash64(lit(1L), v)).as("h2"),
          length(v).cast("long").as("len"))
      }: _*)).as("m"))
      .select(col("m.col_name").as("col_name"), col("m.h1").as("h1"),
        col("m.h2").as("h2"), col("m.len").as("len"))
    // one row per distinct (col, value-hash); nulls form their own group
    val compressed = melted.groupBy("col_name", "h1", "h2")
      .agg(count(lit(1)).as("__cnt"), min(col("len")).as("len"))
    compressed.groupBy("col_name")
      .agg(
        sum(col("__cnt")).as("n_rows"),
        coalesce(sum(when(col("h1").isNull, col("__cnt"))), lit(0L))
          .as("n_null"),
        count(col("h1")).as("n_distinct"),
        min(col("len")).as("min_len"),
        max(col("len")).as("max_len"),
        coalesce(sum(col("len") * col("__cnt")), lit(0L)).as("sum_len"))
  }

  /**
   * Exact equi-width histogram — ANALYZE's other half: `buckets` equal
   * spans over `[min, max]`, exact counts per non-empty bucket. The
   * global (min, max) is ONE row, broadcast into the bucketing
   * projection (the `exactQuantiles` stats shape), so the histogram is
   * a scan + one tiny `buckets`-key aggregation — no sort, no
   * data-sized shuffle, any scale. Bucket arithmetic is plain IEEE
   * (`floor((v-min)/span·buckets)`, top edge clamped into the last
   * bucket), replayable bit-exactly by an external engine.
   */
  def histogram(df: DataFrame, valueCol: String, buckets: Int): DataFrame = {
    require(buckets >= 1, "Profile.histogram: buckets must be >= 1")
    val v = col(valueCol).cast("double")
    val stats = df.filter(v.isNotNull)
      .agg(min(v).as("__vmin"), max(v).as("__vmax"))
    val span = col("__vmax") - col("__vmin")
    val bkt = when(span === 0, lit(0L)).otherwise(
      least(floor((v - col("__vmin")) / span * buckets).cast("long"),
        lit(buckets - 1L)))
    df.filter(v.isNotNull)
      .join(broadcast(stats))
      .select(bkt.as("bucket"), col("__vmin").as("__m"), span.as("__s"))
      .groupBy("bucket", "__m", "__s") // __m/__s constant: keys for free
      .agg(count(lit(1)).as("cnt"))
      .select(col("bucket"),
        (col("__m") + col("bucket") * col("__s") / buckets).as("lo"),
        (col("__m") + (col("bucket") + 1) * col("__s") / buckets).as("hi"),
        col("cnt"))
  }

  /**
   * Key-skew diagnostics — the report that DECIDES the engine's own
   * skew machinery (salting factors in `Relational.saltedJoin`, AQE
   * skew thresholds, partition-count sizing): per candidate key
   * column, the row/key counts, the hottest key and its share, and
   * the Gini coefficient of the key-frequency distribution
   * (0 = uniform, →1 = one hot key owns everything), from
   * G = Σᵢ (2i − k − 1)·cᵢ / (k·n) over ascending-sorted counts —
   * the numerator stays EXACT in DECIMAL(38,0), the one division is a
   * fixed-order double rounded to 6.
   *
   * Output per column: `col_name, n_rows, n_keys, max_key_rows,
   * top_key` (ties → greatest key string), `top_share`, `gini`.
   * Nulls are excluded (they are a null-RATE question — `numeric`/
   * `strings` report those).
   *
   * Scale shape: one melted scan collapses to the (col, key, count)
   * relation via a map-side-combined aggregate — the only data-sized
   * exchange, ~24 B per distinct key. The rank window then sorts
   * key-cardinality rows per column (ndv-bounded, the same contract
   * as [[strings]]; a near-unique key column makes this ndv ≈ rows —
   * exactly the column whose skew report you don't need).
   */
  /**
   * Pairwise Pearson correlation matrix in ONE scan — ANALYZE's
   * multivariate half (which features move together decides what a
   * mixture rebalance or a quality-gate ensemble can treat as
   * independent). Inputs quantize to 6 dp and every moment — Σx, Σx²,
   * Σxy — accumulates in DECIMAL (order-exact); each pair's
   * r = (n·Σxy − Σx·Σy) / sqrt((n·Σx² − Σx²ᵗ)·(n·Σy² − Σy²ᵗ)) is then
   * a fixed-order double program rounded to 6, NULL for zero-variance
   * columns. Rows with a null in ANY profiled column are dropped
   * first (listwise deletion — every pair sees the same n).
   *
   * Output: (`col_a`, `col_b`, `n`, `corr`), one row per unordered
   * pair, ordered. Scale shape: one map-side-combined aggregation to
   * a single row of C + C(C+1)/2 + C(C−1)/2 sums; the pair explosion
   * is a literal projection of that row.
   */
  def corrMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, "Profile.corrMatrix: need at least two columns")
    val complete = df.where(cols.map(c => col(c).isNotNull).reduce(_ && _))
    def q(c: String) = round(col(c).cast("double"), 6).cast("decimal(28,6)")
    val sums =
      Seq(count(lit(1)).as("__n")) ++
        cols.map(c => sum(q(c)).cast("double").as(s"__s_$c")) ++
        cols.map(c => sum((q(c) * q(c)).cast("decimal(38,12)"))
          .cast("double").as(s"__ss_$c")) ++
        cols.combinations(2).map { case Seq(a, b) =>
          sum((q(a) * q(b)).cast("decimal(38,12)"))
            .cast("double").as(s"__sp_${a}_$b")
        }.toSeq
    // ONE row; the C(C-1)/2 pair projections sit in one plan, so
    // exchange reuse runs the scan + aggregate once
    val one = complete.agg(sums.head, sums.tail: _*)
    val pairRows = cols.combinations(2).map { case Seq(a, b) =>
      val n = col("__n").cast("double")
      val cov = n * col(s"__sp_${a}_$b") - col(s"__s_$a") * col(s"__s_$b")
      val va = n * col(s"__ss_$a") - col(s"__s_$a") * col(s"__s_$a")
      val vb = n * col(s"__ss_$b") - col(s"__s_$b") * col(s"__s_$b")
      one.select(lit(a).as("col_a"), lit(b).as("col_b"),
        col("__n").as("n"),
        when(va > 0d && vb > 0d, round(cov / sqrt(va * vb), 6))
          .otherwise(lit(null).cast("double")).as("corr"))
    }.toSeq
    pairRows.reduce(_ unionByName _).orderBy("col_a", "col_b")
  }

  def keySkew(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "Profile.keySkew: need at least one column")
    val melted = df
      .select(explode(array(cols.map { c =>
        struct(lit(c).as("col_name"), col(c).cast("string").as("k"))
      }: _*)).as("m"))
      .select(col("m.col_name").as("col_name"), col("m.k").as("__v"))
      .where(col("__v").isNotNull)
    val counts = melted.groupBy("col_name", "__v")
      .agg(count(lit(1)).as("__c"))
    val sizes = counts.groupBy("col_name")
      .agg(count(lit(1)).as("__k"), sum(col("__c")).as("__n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("col_name").orderBy(col("__c"), col("__v"))
    counts.join(broadcast(sizes), "col_name")
      .withColumn("__i", row_number().over(w))
      .withColumn("__g",
        (lit(2L) * col("__i") - col("__k") - lit(1L)).cast("decimal(19,0)")
          * col("__c"))
      .groupBy("col_name")
      .agg(max(col("__n")).as("n_rows"), max(col("__k")).as("n_keys"),
        max(col("__c")).as("max_key_rows"),
        max(struct(col("__c"), col("__v"))).getField("__v").as("top_key"),
        sum(col("__g")).as("__gn"))
      .select(col("col_name"), col("n_rows"), col("n_keys"),
        col("max_key_rows"), col("top_key"),
        round(col("max_key_rows").cast("double") / col("n_rows"), 6)
          .as("top_share"),
        round(col("__gn").cast("double") /
          (col("n_keys").cast("double") * col("n_rows")), 6).as("gini"))
  }

  /**
   * Benford first-digit conformance — the fabricated-feed detector
   * for naturally-occurring numeric columns (prices, populations,
   * file sizes): observed first-significant-digit shares vs Benford's
   * log₁₀(1 + 1/d) law. A synthetic or tampered feed's digits go flat
   * or spike; a natural multiplicative process follows the law.
   *
   * Digit extraction is PURE INTEGER (no float log10 whose boundary
   * could flip a digit): the value scales to an exact integer by
   * `scale` (e.g. 100 for 2-dp money), and the first digit is
   * m ÷ 10^(decimal-length − 1) — both engines print the same
   * decimal representation of a BIGINT. Shares and deviations are
   * integer ppm; the expected ppm rounds log₁₀(1+1/d) once (all nine
   * constants sit ≥ 4e-3·ppm from a rounding boundary — checked).
   * Output: one row per digit 1–9 — (`digit`, `n`, `obs_ppm`,
   * `exp_ppm`, `dev_ppm` = |obs − exp|).
   *
   * Scale shape: one map-side-combined 9-bucket aggregation of the
   * scan; the grid join is a 9-row broadcast.
   */
  def benford(df: DataFrame, valueCol: String, scale: Long = 1L): DataFrame = {
    require(scale >= 1L, "benford: scale must be >= 1")
    val m = round(col(valueCol).cast("double") * scale).cast("long")
    val digit = (col("__m") /
      pow(lit(10.0), (length(col("__m").cast("string")) - 1).cast("double")))
      .cast("int")
    val counts = df
      .select(m.as("__m"))
      .where(col("__m").isNotNull && col("__m") > 0L)
      .select(digit.as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n"))
    val spark = df.sparkSession
    import spark.implicits._
    val grid = spark.createDataset((1 to 9).map(_.toLong)).toDF("digit")
      .select(col("digit").cast("int").as("digit"))
    val tot = counts.agg(sum(col("n")).as("__tot"))
    grid.join(counts, Seq("digit"), "left")
      .crossJoin(broadcast(tot))
      .select(col("digit"),
        coalesce(col("n"), lit(0L)).as("n"),
        floor((coalesce(col("n"), lit(0L)) * 1000000L).cast("double") /
          col("__tot").cast("double")).cast("long").as("obs_ppm"),
        round(log(10.0, lit(1.0) + lit(1.0) / col("digit")) *
          lit(1000000.0)).cast("long").as("exp_ppm"))
      .withColumn("dev_ppm", abs(col("obs_ppm") - col("exp_ppm")))
  }

  /**
   * Categorical concentration report — the Herfindahl–Hirschman index
   * and its inverse (the "effective number of sources") per group:
   * the one-line answer to "is this lang's corpus really diverse, or
   * is it one crawl wearing twenty source tags?". HHI = Σ(cᵢ/n)²;
   * 1/HHI is the count of equal-weight sources that would concentrate
   * the same (inverse Simpson) — comparable across groups of any size
   * where a raw source count is not.
   *
   * Exactness: HHI reports as a PURE-INTEGER ppm (Σcᵢ²·10⁶ div n² —
   * floor division, both operands exact BIGINT; no float touches the
   * index); the effective count is ONE double division
   * portable-rounded 6. Output: `by`* +
   * (n, n_cats, hhi_ppm, eff_cats).
   *
   * Scale shape: one (group, category) count aggregation
   * (vocab-bounded rows cross the exchange), one group roll-up.
   */
  def concentration(df: DataFrame, by: Seq[String],
                    catCol: String): DataFrame = {
    val cells = df.where(col(catCol).isNotNull)
      .groupBy((by.map(col) :+ col(catCol)): _*)
      .agg(count(lit(1)).as("__c"))
    cells.groupBy(by.map(col): _*)
      .agg(sum(col("__c")).as("n"),
        count(lit(1)).as("n_cats"),
        sum(col("__c") * col("__c")).as("__s2"))
      .select((by.map(col) :+ col("n") :+ col("n_cats") :+
        expr("(__s2 * 1000000) div (n * n)").as("hhi_ppm") :+
        (floor((col("n") * col("n")).cast("double") /
          col("__s2").cast("double") * 1e6d + 0.5d) / 1e6d)
          .as("eff_cats")): _*)
  }

  /**
   * One data-contract check row: (`check`, `n`, `n_bad`, `bad_ppm`) —
   * the shape a contract suite unions into its report. `bad` is a
   * predicate over `df`'s rows; nulls in the predicate count as
   * violations (a check that can't evaluate has failed).
   */
  def checkRow(df: DataFrame, name: String, bad: Column): DataFrame =
    df.agg(count(lit(1)).as("n"),
        sum(when(coalesce(bad, lit(true)), 1L).otherwise(0L)).as("n_bad"))
      .select(lit(name).as("check"), col("n"), col("n_bad"),
        when(col("n") > 0L, expr("n_bad * 1000000 div n"))
          .otherwise(0L).as("bad_ppm"))

  /**
   * Referential-integrity check row: child rows whose foreign key has
   * no parent — the contract every star-schema ingest must hold
   * before joins silently drop rows. NULL foreign keys count as
   * orphans (they'd vanish in an inner join too).
   *
   * Scale shape: ONE left-anti join on the key (shuffle- or
   * broadcast-hash by statistics; never row-pairing) + two counts.
   */
  def refIntegrity(child: DataFrame, fkCol: String, parent: DataFrame,
                   pkCol: String, name: String): DataFrame = {
    val orphans = child.select(col(fkCol).as("__fk"))
      .join(parent.select(col(pkCol).as("__fk")).distinct(),
        Seq("__fk"), "left_anti")
      .agg(count(lit(1)).as("__o"))
    child.agg(count(lit(1)).as("n")).crossJoin(broadcast(orphans))
      .select(lit(name).as("check"), col("n"), col("__o").as("n_bad"),
        when(col("n") > 0L, expr("__o * 1000000 div n"))
          .otherwise(0L).as("bad_ppm"))
  }

  /**
   * Duplicate-primary-key check row: rows carrying a key that occurs
   * more than once (ALL rows of a duplicated key count — the number
   * of rows an idempotent upsert would have to reconcile).
   */
  def dupPk(df: DataFrame, pkCol: String, name: String): DataFrame = {
    val dups = df.groupBy(col(pkCol)).agg(count(lit(1)).as("__c"))
      .where(col("__c") > 1L)
      .agg(coalesce(sum(col("__c")), lit(0L)).as("__d"))
    df.agg(count(lit(1)).as("n")).crossJoin(broadcast(dups))
      .select(lit(name).as("check"), col("n"), col("__d").as("n_bad"),
        when(col("n") > 0L, expr("__d * 1000000 div n"))
          .otherwise(0L).as("bad_ppm"))
  }

  /**
   * k-anonymity / l-diversity privacy audit (Sweeney 2002; Machanavajjhala
   * et al. 2007 — the standard re-identification readouts, implemented
   * from the definitions): equivalence classes are the distinct
   * combinations of the quasi-identifier columns; the table is
   * k-anonymous at k = the SMALLEST class size (every record hides
   * among at least k−1 others), and l-diverse at l = the smallest
   * per-class count of DISTINCT sensitive values (a class whose
   * sensitive column is constant re-identifies the attribute even when
   * k is large). The audit a pipeline runs before releasing
   * user-derived training data.
   *
   * Output (one row): `n_rows`, `n_classes`, `k_anonymity`,
   * `l_diversity`, `rows_small_ppm` (share of rows in classes smaller
   * than `kMin`, ppm — the suppression workload), `avg_class_micro`
   * (mean class size in micro-units). All values exact integers.
   *
   * Scale shape: ONE map-side-combined aggregation on the quasi keys
   * (count + exact distinct of the sensitive value per class), then a
   * scalar fold of the class table. No row-level data leaves the
   * class aggregation.
   */
  def kAnonymity(df: DataFrame, quasiCols: Seq[String],
                 sensitiveCol: String, kMin: Int = 5): DataFrame = {
    require(quasiCols.nonEmpty, "kAnonymity: need quasi-identifier columns")
    val classes = df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("__n"),
        countDistinct(col(sensitiveCol)).as("__l"))
    classes.agg(
        sum(col("__n")).as("n_rows"),
        count(lit(1)).as("n_classes"),
        min(col("__n")).as("k_anonymity"),
        min(col("__l")).as("l_diversity"),
        sum(when(col("__n") < kMin.toLong, col("__n")).otherwise(0L))
          .as("__small"))
      .select(col("n_rows"), col("n_classes"), col("k_anonymity"),
        col("l_diversity"),
        when(col("n_rows") > 0L, expr("__small * 1000000 div n_rows"))
          .otherwise(0L).as("rows_small_ppm"),
        when(col("n_classes") > 0L,
          expr("n_rows * 1000000 div n_classes"))
          .otherwise(0L).as("avg_class_micro"))
  }

  /**
   * First-gate rejection attribution — the ablation bookkeeping every
   * corpus pipeline owes its operators: documents die at the FIRST
   * gate that fires (pipeline order), so "dedup killed 40%" and
   * "quality killed 40%" stop double-counting the same docs, while
   * `n_failing` still reports each gate's UNCONDITIONAL kill count
   * (the overlap between the two views is the redundancy signal —
   * a gate whose n_first ≪ n_failing is mostly shadowed by earlier
   * gates and may be droppable).
   *
   * `gates` are (name, fail-condition) pairs IN PIPELINE ORDER; names
   * must be identifier-safe (they become column names internally).
   * Output: one row per gate + a final `kept` row —
   * (`gate`, `n_first`, `n_failing` — NULL on the kept row,
   * `first_ppm`, `failing_ppm`). All counts exact integers from ONE
   * aggregation.
   *
   * Scale shape: ONE map-side-combined scan (2·|gates| counters), a
   * |gates|-row unpivot. Nothing data-sized after the scan.
   */
  def rejectionAttribution(df: DataFrame,
                           gates: Seq[(String, Column)]): DataFrame = {
    require(gates.nonEmpty, "rejectionAttribution: need gates")
    require(gates.forall(_._1.matches("[A-Za-z_][A-Za-z0-9_]*")),
      "gate names must be identifier-safe")
    val first = gates.foldRight(lit("kept")) { case ((n, c), acc) =>
      when(c, lit(n)).otherwise(acc)
    }
    val flagged = df.select((first.as("__first") +:
      gates.map { case (n, c) =>
        when(c, 1L).otherwise(0L).as(s"__f_$n")
      }): _*)
    val aggs = (count(lit(1)).as("__n") +:
      gates.flatMap { case (n, _) => Seq(
        sum(when(col("__first") === n, 1L).otherwise(0L)).as(s"__a_$n"),
        sum(col(s"__f_$n")).as(s"__t_$n"))
      }) :+ sum(when(col("__first") === "kept", 1L).otherwise(0L))
        .as("__kept")
    val row = flagged.agg(aggs.head, aggs.tail: _*)
    val stackExpr = s"stack(${gates.length + 1}, " +
      (gates.map { case (n, _) => s"'$n', __a_$n, __t_$n" } :+
        s"'kept', __kept, CAST(NULL AS BIGINT)").mkString(", ") +
      ") as (gate, n_first, n_failing)"
    row.select(col("__n"), expr(stackExpr))
      .select(col("gate"), col("n_first"), col("n_failing"),
        when(col("__n") > 0L, expr("n_first * 1000000 div __n"))
          .as("first_ppm"),
        when(col("__n") > 0L && col("n_failing").isNotNull,
          expr("n_failing * 1000000 div __n")).as("failing_ppm"))
  }

  /**
   * Leave-one-group-out ablation of a corpus-level mean — data
   * valuation at the SOURCE grain: for each group g, what happens to
   * the corpus mean of `valueCol` if g is removed entirely
   * (Δ_g = mean(all ∖ g) − mean(all)). A negative Δ says the source
   * was PROPPING the metric UP (removing it hurts); the cheap exact
   * stand-in for retrain-per-ablation studies when the metric is a
   * mean (quality score, token count, dedup rate). Values are integer
   * by contract (quantize first — the [[gini]] convention).
   *
   * Exactness: per-group (n, Σv) are exact BIGINTs; both means and
   * the delta come from ONE rational
   * ((S−S_g)·N − S·(N−N_g)) / (N·(N−N_g)) in DECIMAL(38,0), one
   * double division, 6 dp. A group that IS the whole corpus gets a
   * NULL delta (nothing left to measure).
   *
   * Output per group: `n`, `mean` (6 dp), `loo_mean` (6 dp),
   * `delta` (6 dp), `share_ppm` (of rows).
   *
   * Scale shape: ONE map-side-combined aggregation + a 1-row total
   * broadcast onto the group-bounded table.
   */
  def looAblation(df: DataFrame, groupCol: String,
                  valueCol: String): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val v = col(valueCol).cast("long")
    val per = df.where(v.isNotNull && col(groupCol).isNotNull)
      .groupBy(col(groupCol).as("grp"))
      .agg(count(lit(1)).as("n"), sum(v).as("__s"))
    val tot = per.agg(sum(col("n")).as("__nt"), sum(col("__s")).as("__st"))
    val joined = per.crossJoin(broadcast(tot))
    val rest = col("__nt") - col("n")
    val deltaNum = dec(col("__st") - col("__s")) * col("__nt") -
      dec(col("__st")) * rest
    val deltaDen = dec(col("__nt")) * rest
    joined.select(col("grp"), col("n"),
      round(col("__s").cast("double") / col("n").cast("double"), 6)
        .as("mean"),
      when(rest > 0L, round((col("__st") - col("__s")).cast("double") /
        rest.cast("double"), 6)).as("loo_mean"),
      when(rest > 0L, round(deltaNum.cast("double") /
        deltaDen.cast("double"), 6)).as("delta"),
      expr("n * 1000000 div __nt").as("share_ppm"))
  }

  /**
   * Gini index + top-decile share of a non-negative integer measure
   * per group — the INEQUALITY readout for numeric magnitudes
   * ([[concentration]]'s HHI covers categorical mass): how unevenly is
   * corpus volume spread across documents, spend across customers,
   * traffic across keys. The capacity question "do 10% of the docs
   * carry half the tokens?" answered exactly.
   *
   * Gini by the rank formula over ascending order:
   * G = (2·Σ i·x₍ᵢ₎ − (n+1)·Σx) / (n·Σx). Both Σ i·x and the decile
   * cut are TIE-INVARIANT (equal values contribute the same sum under
   * any rank permutation, and a cut splitting a tie group takes k
   * copies of the same value), so ranking by value alone is
   * deterministic. Numerators are exact DECIMAL(38,0); ONE double
   * division rounds to 6 dp. Top decile = the ⌈n/10⌉ highest-ranked
   * rows; its share is integer ppm.
   *
   * Output per group: `n`, `total`, `gini` (6 dp; NULL when total 0),
   * `top_decile_ppm` (NULL when total 0). Negative/NULL values drop
   * (Gini is defined for non-negative measures).
   *
   * Scale shape: one key-partitioned sort-window (rank) + one
   * aggregation on the same partitioning — a single shuffle of
   * (key, value) pairs; no payload beyond the 16 B pair.
   */
  def gini(df: DataFrame, by: Seq[String], valueCol: String): DataFrame = {
    require(by.nonEmpty, "gini: need at least one group column")
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val v = col(valueCol).cast("long")
    val base = df.where(v.isNotNull && v >= 0L)
      .select((by.map(col) :+ v.as("__v")): _*)
    val w = Window.partitionBy(by.map(col): _*).orderBy(col("__v"))
    val wAll = Window.partitionBy(by.map(col): _*)
    val ranked = base.withColumn("__i", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(wAll))
    val g = ranked.groupBy(by.map(col): _*)
      .agg(max(col("__n")).as("n"),
        sum(col("__v")).as("total"),
        sum(dec(col("__i")) * dec(col("__v"))).cast("decimal(38,0)")
          .as("__iw"),
        sum(when(col("__i") > col("__n") - expr("(__n + 9) div 10"),
          col("__v")).otherwise(0L)).as("__top"))
    val num = dec(lit(2L)) * col("__iw") -
      dec(col("n") + 1L) * dec(col("total"))
    val den = dec(col("n")) * dec(col("total"))
    g.select((by.map(col) :+ col("n") :+ col("total") :+
      when(col("total") > 0L,
        round(num.cast("double") / den.cast("double"), 6)).as("gini") :+
      when(col("total") > 0L, expr("__top * 1000000 div total"))
        .as("top_decile_ppm")): _*)
  }

  /**
   * l-diversity distribution — [[kAnonymity]] reports the single worst
   * class; this profiles the WHOLE anonymity surface: for every
   * distinct-sensitive-count l, how many equivalence classes sit at
   * that diversity, how many rows they hold, and the worst Shannon
   * entropy among them (entropy l-diversity, the stricter variant:
   * a class can have 5 distinct values and still be 99% one value).
   *
   * Exactness: class/cell counts are pure BIGINT; per-class entropy
   * follows the [[Eval.mutualInformation]] micro-nat program — each
   * ln is ONE fixed-order double over integer casts, portable-floored
   * to micro-nats, weighted sums in BIGINT, one portable-rounded
   * division per class (`min_h_micro` = the minimum of those exact
   * integers, so the readout is engine-independent).
   *
   * Output: one row per observed l — `l`, `n_classes`, `n_rows`,
   * `min_h_micro` (micro-nats; ln(l)·10⁶ is the ceiling).
   *
   * Scale shape: ONE pass to (quasi*, sensitive) cells, a
   * cells-bounded class rollup, an l-bounded final rollup. The
   * exchanges carry quasi-cardinality, never rows.
   */
  def lDiversityProfile(df: DataFrame, quasiCols: Seq[String],
                        sensitiveCol: String): DataFrame = {
    require(quasiCols.nonEmpty,
      "lDiversityProfile: need quasi-identifier columns")
    val cells = df
      .where(col(sensitiveCol).isNotNull &&
        quasiCols.map(col(_).isNotNull).reduce(_ && _))
      .groupBy((quasiCols.map(col) :+ col(sensitiveCol).as("__s")): _*)
      .agg(count(lit(1)).as("__c"))
    def lnMicro(x: Column): Column =
      floor(log(x) * 1e6d + 0.5d).cast("long")
    val withN = cells.withColumn("__n",
      sum(col("__c")).over(Window.partitionBy(quasiCols.map(col): _*)))
    val classes = withN
      .groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("__l"), max(col("__n")).as("__n"),
        sum(col("__c") *
          lnMicro(col("__n").cast("double") / col("__c").cast("double")))
          .as("__hs"))
    classes
      .withColumn("__h",
        floor(col("__hs").cast("double") / col("__n").cast("double") +
          0.5d).cast("long"))
      .groupBy(col("__l").as("l"))
      .agg(count(lit(1)).as("n_classes"), sum(col("__n")).as("n_rows"),
        min(col("__h")).as("min_h_micro"))
  }

  /**
   * t-closeness over an ORDERED sensitive attribute — the gate
   * l-diversity can't give: a class can be perfectly diverse yet
   * still leak ("every row in this class is in the top balance
   * decile"). Per equivalence class, the earth-mover's distance
   * between the class's sensitive distribution and the global one,
   * EMD = Σᵢ |CumP_i − CumQ_i| / (m−1) over the m ordered values —
   * the standard ordered-attribute form.
   *
   * Exactness: cumulative counts cross-multiply (|cum_c·G − cum_g·n|)
   * in DECIMAL(38,0), each class's EMD quantizes by ONE integer
   * division — `(Σ·10⁶) div (n·G·(m−1))` (nonnegative numerator) —
   * so t_max, the row-weighted average, and the violation count are
   * all integer decisions. m = 1 (constant attribute) yields EMD 0
   * for every class.
   *
   * Output: one row — `n_rows`, `n_classes`, `m`, `t_max` (6 dp),
   * `avg_micro` (row-weighted mean EMD in ppm), `n_over`
   * (classes with EMD·10⁶ > `thresholdMicro`).
   *
   * Scale shape: one pass to (quasi*, value) cells, a completion
   * join against the m-bounded global value list (zero cells carry
   * cumulative mass), one per-class window over m rows, one
   * classes-bounded rollup. Exchanges carry quasi-cardinality × m.
   */
  def tCloseness(df: DataFrame, quasiCols: Seq[String],
                 sensitiveCol: String,
                 thresholdMicro: Long = 200000L): DataFrame = {
    require(quasiCols.nonEmpty, "tCloseness: need quasi-identifier columns")
    val v = col(sensitiveCol).cast("long")
    val base = df.where(v.isNotNull &&
        quasiCols.map(col(_).isNotNull).reduce(_ && _))
      .select((quasiCols.map(col) :+ v.as("__v")): _*)
    val cells = base.groupBy((quasiCols.map(col) :+ col("__v")): _*)
      .agg(count(lit(1)).as("__c"))
    val global = cells.groupBy("__v").agg(sum(col("__c")).as("__g"))
    val classTot = cells.groupBy(quasiCols.map(col): _*)
      .agg(sum(col("__c")).as("__n"))
    // complete grid: every class x every global value (zero cells
    // still move cumulative mass)
    val grid = classTot.crossJoin(broadcast(global))
      .join(cells, quasiCols :+ "__v", "left")
      .na.fill(0L, Seq("__c"))
    val wCum = Window.partitionBy(quasiCols.map(col): _*)
      .orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = grid
      .withColumn("__cc", sum(col("__c")).over(wCum))
      .withColumn("__cg", sum(col("__g")).over(
        Window.partitionBy(quasiCols.map(col): _*).orderBy(col("__v"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__gt", sum(col("__g")).over(
        Window.partitionBy(quasiCols.map(col): _*)))
      .withColumn("__m", count(lit(1)).over(
        Window.partitionBy(quasiCols.map(col): _*)))
      .withColumn("__rk", row_number().over(
        Window.partitionBy(quasiCols.map(col): _*).orderBy(col("__v"))))
      .where(col("__rk") < col("__m"))
      .withColumn("__num",
        abs(col("__cc").cast("decimal(38,0)") * col("__gt") -
          col("__cg").cast("decimal(38,0)") * col("__n")))
    val perClass = cum.groupBy((quasiCols.map(col) :+ col("__n") :+
        col("__gt") :+ col("__m")): _*)
      .agg(sum(col("__num")).as("__snum"))
      .withColumn("__emd",
        expr("(cast(__snum as decimal(38,0)) * 1000000) div " +
          "(cast(__n as decimal(38,0)) * __gt * (__m - 1))"))
    val single = classTot.agg(sum(col("__n")).as("n_rows"),
      count(lit(1)).as("n_classes"))
    val emdAgg = perClass.agg(
      max(col("__m")).as("m"),
      max(col("__emd")).as("__tmax"),
      sum(col("__n") * col("__emd")).as("__wsum"),
      sum(when(col("__emd") > thresholdMicro, 1L).otherwise(0L))
        .as("n_over"))
    single.crossJoin(broadcast(emdAgg))
      .select(col("n_rows"), col("n_classes"),
        coalesce(col("m"), lit(1L)).as("m"),
        round(coalesce(col("__tmax"), lit(0L)).cast("double") / 1e6d, 6)
          .as("t_max"),
        coalesce(expr("__wsum div n_rows"), lit(0L)).as("avg_micro"),
        coalesce(col("n_over"), lit(0L)).as("n_over"))
  }
}
