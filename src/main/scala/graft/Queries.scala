package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

import graft.codec.Debezium
import graft.core.{Pipeline, PipelineSpec, Share, Tables}
import graft.multimodal.Multimodal
import graft.operators.{Affinity, Behavior, CorpusLM, Dedup, Eval, Graph, Layout, Profile, Relational, Sampling, Similarity, Sketch, TextMetrics, Web}
import graft.sources.PromText
import graft.streaming.StreamingOps

/**
 * The canonical query set Q1–Q28 (SURVEY.md §2.11): one DataFrame program
 * per operator capability, each paired with ANSI SQL the driver runs in
 * DuckDB over the same parquet tables.
 *
 * Determinism rules (SURVEY §2.11, FIXTURES.md): every query ends in a
 * total ORDER BY; doubles go through ROUND(x,4); order-sensitive double
 * SUMs are computed in DECIMAL (exact, associative — engine-independent)
 * and only cast back to double at the end; timestamps are NTZ/UTC.
 * Column names are aliased identically on both sides — the driver's
 * compare sorts columns by name before hashing.
 */
object Queries {

  type Q = (SparkSession, String) => DataFrame

  /** Exact decimal image of a double expression, for order-independent
    * sums: double→decimal rounding is per-element and deterministic in
    * both engines; decimal addition is exact and associative. */
  private def dec6(c: Column): Column = c.cast("decimal(18,6)")
  private def dec4(c: Column): Column = c.cast("decimal(18,4)")

  // ---------------------------------------------------------------- Q1–Q4
  // scans, projections, masks, filters, incremental high-water mark

  /** Q1 scan + projection (S3 bulk scan). Column-pruned parquet read. */
  val q01: Q = (s, dir) =>
    Tables.lineitem(s, dir)
      .select("l_orderkey", "l_linenumber")
      .orderBy("l_orderkey", "l_linenumber")

  /** Q2 mask projection (P1, reference MaskField SMT). */
  val q02: Q = (s, dir) =>
    Relational.maskColumn(Tables.customer(s, dir), "c_name")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")

  /** Q3 filter / pushed predicate (P3). */
  val q03: Q = (s, dir) =>
    Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp_ntz"))
      .select("o_orderkey")
      .orderBy("o_orderkey")

  /** Q4 incremental high-water-mark predicate (S1 JDBC timestamp mode):
    * the hwm is a 1-row aggregate broadcast against the fact side — no
    * driver-side collect, scales to any fact size. */
  val q04: Q = (s, dir) => {
    val e = Tables.events(s, dir)
    val hwm = e.filter(col("event_id") < 500).agg(max("ts").as("__hwm"))
    e.crossJoin(broadcast(hwm))
      .where(col("ts") > col("__hwm"))
      .select("event_id")
      .orderBy("event_id")
  }

  // ---------------------------------------------------------------- Q5–Q11
  // joins

  /** Q5 equi inner join (J1). */
  val q05: Q = (s, dir) =>
    Tables.nation(s, dir)
      .join(Tables.region(s, dir), col("n_regionkey") === col("r_regionkey"))
      .select("n_name", "r_name")
      .orderBy("n_name", "r_name")

  /** Q6 multi-way join + aggregation — revenue per nation. Dimension
    * tables broadcast; the lineitem⋈orders⋈customer chain shuffles on its
    * keys and partial-aggregates map-side. */
  val q06: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir)
    val o = Tables.orders(s, dir)
    val c = Tables.customer(s, dir)
    val n = Tables.nation(s, dir)
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(round(sum(dec6(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
        .cast("double"), 4).as("revenue"))
      .orderBy("n_name")
  }

  /** Q7 broadcast join (J2): part is the small dim, hinted explicitly. */
  val q07: Q = (s, dir) =>
    Tables.lineitem(s, dir)
      .join(broadcast(Tables.part(s, dir)), col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n"))
      .orderBy("p_brand")

  /** Q8 left outer join (J1): customers with order counts incl. zero. */
  val q08: Q = (s, dir) =>
    Tables.customer(s, dir)
      .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("n_orders"))
      .orderBy("c_custkey")

  /** Q9 semi join (J3). */
  val q09: Q = (s, dir) =>
    Tables.customer(s, dir)
      .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey")
      .orderBy("c_custkey")

  /** Q10 anti join (J3): customers with no orders since mid-1998 (the
    * unfiltered anti join is empty at every SF — every customer has
    * orders — and the 1998-06-01 cutoff is the earliest that is
    * non-vacuous at sf0.001/0.01/0.1 alike: 3/8/142 rows). */
  val q10: Q = (s, dir) =>
    Tables.customer(s, dir)
      .join(
        Tables.orders(s, dir)
          .filter(col("o_orderdate") >= lit("1998-06-01").cast("timestamp_ntz")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey")
      .orderBy("c_custkey")

  /** Q11 theta/range join (J4) via the bucketed interval join — an
    * equi-join on bucket id + residual predicate instead of the
    * BroadcastNestedLoopJoin Spark would otherwise plan. */
  val q11: Q = (s, dir) => {
    // Eager aggregation below the range join: the final answer is a
    // count, so both sides compress to (join-relevant columns → row
    // count) FIRST and the pair count is Σ ecnt·ocnt — exact integers.
    // The range join then enumerates candidate pairs of DISTINCT
    // values, not rows: duplicated values (10× per replica in the r7
    // sweep's scaled data; any real dataset with repeated measurements)
    // stop multiplying candidate pairs, and all-distinct data pays only
    // two map-side-combined hash aggs. Spark does not push aggregates
    // through joins on its own; measured 98 s → ~1 s at sf1.0.
    val e = Tables.events(s, dir).select("value")
      .groupBy("value").agg(count(lit(1)).as("__ecnt"))
    val o = Tables.orders(s, dir).select("o_totalprice", "o_orderstatus")
      .groupBy("o_totalprice", "o_orderstatus").agg(count(lit(1)).as("__ocnt"))
    val lo = col("o_totalprice") * lit(0.001)
    val hi = col("o_totalprice") * lit(0.001) + lit(0.5)
    val residual = col("value") >= col("o_totalprice") * lit(0.001) &&
      col("value") <= col("o_totalprice") * lit(0.001) + lit(0.5)
    // interval width is exactly 0.5; width/8 buckets minimize candidate
    // pairs (measured on sf0.1: 59M pairs at w=0.5 → 20M at w=0.0625 —
    // below that the ±1 safety margin dominates and pairs rise again)
    Relational.intervalPointJoin(e, col("value"), o, lo, hi, residual, bucketWidth = 0.0625)
      .groupBy("o_orderstatus")
      .agg(sum(col("__ecnt") * col("__ocnt")).as("n"))
      .orderBy("o_orderstatus")
  }

  // ---------------------------------------------------------------- Q12–Q19
  // aggregations, windows, top-k, set ops

  /** Q12 hash agg + exact distinct (§2.4). */
  val q12: Q = (s, dir) =>
    Tables.orders(s, dir)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), countDistinct(col("o_custkey")).as("n_cust"))
      .orderBy("o_orderstatus")

  /** Q13 rollup with grouping indicators (§2.4). NULL group cells are
    * coalesced to 'ALL' so null-ordering differences between engines
    * can't flap the total order. */
  val q13: Q = (s, dir) =>
    Tables.lineitem(s, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(
        grouping(col("l_returnflag")).cast("int").as("g_rf"),
        grouping(col("l_linestatus")).cast("int").as("g_ls"),
        round(sum(col("l_quantity")), 4).as("sum_qty"),
        count(lit(1)).as("n"))
      .select(col("g_rf"), col("g_ls"),
        coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
        coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
        col("sum_qty"), col("n"))
      .orderBy("g_rf", "g_ls", "rf", "ls")

  /** Q14 cube (§2.4). */
  val q14: Q = (s, dir) =>
    Tables.orders(s, dir)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(
        grouping(col("o_orderstatus")).cast("int").as("g_s"),
        grouping(col("o_orderpriority")).cast("int").as("g_p"),
        count(lit(1)).as("n"))
      .select(col("g_s"), col("g_p"),
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n"))
      .orderBy("g_s", "g_p", "status", "priority")

  /** Q15 window ranking / per-group top-k (§2.5): top-3 orders per
    * customer by date. One shuffle on the partition key. */
  val q15: Q = (s, dir) =>
    Relational.topKPerGroup(
      Tables.orders(s, dir).select("o_custkey", "o_orderkey", "o_orderdate"),
      keys = Seq("o_custkey"),
      ordering = Seq(col("o_orderdate"), col("o_orderkey")),
      k = 3, rankCol = Some("rn"))
      // long rn: oracle ROW_NUMBER() is BIGINT and the checker's
      // type-identity gate wants representation parity, not just values
      .select(col("o_custkey"), col("o_orderkey"), col("rn").cast("long").as("rn"))
      .orderBy("o_custkey", "rn")

  /** Q16 window frame / running sum (§2.5). The sum runs in DECIMAL so
    * the result is engine-independent regardless of how the window
    * aggregation tree associates additions. */
  val q16: Q = (s, dir) => {
    val w = Window.partitionBy("o_custkey")
      .orderBy("o_orderdate", "o_orderkey")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(s, dir)
      .select(col("o_custkey"), col("o_orderkey"),
        round(sum(dec4(col("o_totalprice"))).over(w).cast("double"), 4).as("running"))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** Q17 lag/rate (§2.9, PromQL rate analogue): per-user value delta. */
  val q17: Q = (s, dir) =>
    Relational.lagDelta(Tables.events(s, dir),
      series = Seq("user_id"),
      ordering = Seq(col("ts"), col("event_id")),
      valueCol = "value", out = "delta")
      .select(col("event_id"), col("user_id"), round(col("delta"), 4).as("delta"))
      .orderBy("event_id")

  /** Q18 global top-k (§2.5): plans as TakeOrderedAndProject — no full
    * sort materialization, scales as a per-partition heap + merge. */
  val q18: Q = (s, dir) =>
    Tables.orders(s, dir)
      .select("o_orderkey", "o_totalprice")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(10)

  /** Q19 set ops (§2.6): intersect / except / union-all cardinalities. */
  val q19: Q = (s, dir) => {
    val o = Tables.orders(s, dir).select(col("o_custkey").as("custkey"))
    val c = Tables.customer(s, dir).select(col("c_custkey").as("custkey"))
    val inter = o.intersect(c).agg(count(lit(1)).as("n")).withColumn("op", lit("intersect"))
    val exc = c.except(o).agg(count(lit(1)).as("n")).withColumn("op", lit("except"))
    val uni = o.unionAll(c).agg(count(lit(1)).as("n")).withColumn("op", lit("union_all"))
    inter.unionByName(exc).unionByName(uni)
      .select("op", "n")
      .orderBy("op")
  }

  // ---------------------------------------------------------------- Q20–Q21
  // scalar function surface

  /** Q20 string/date/math functions (F1–F6). */
  val q20: Q = (s, dir) =>
    Tables.lineitem(s, dir)
      .filter(col("l_quantity") < 5)
      .select(
        col("l_orderkey"), col("l_linenumber"),
        concat(lit("o_"), col("l_orderkey").cast("string")).as("tag"),
        substring(col("l_returnflag"), 1, 1).as("rf"),
        year(col("l_shipdate")).cast("long").as("yr"),
        round(col("l_extendedprice") * (lit(1.0) + col("l_tax")), 4).as("gross"))
      // yr/gross/rf complete the sort key: the synthetic lineitem does
      // NOT keep (l_orderkey, l_linenumber) unique (TPC-H would), and
      // tie rows with distinct payloads order differently per engine —
      // found by the r7 sf1.0 sweep, latent at any SF. rf covers the
      // last non-key-derived output column (tag is orderkey-derived),
      // making the ordering total over the output.
      .orderBy("l_orderkey", "l_linenumber", "yr", "gross", "rf")

  /** Q21 JSON functions (F4): path extraction from the props column. */
  val q21: Q = (s, dir) =>
    Tables.events(s, dir)
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))
      .orderBy("event_id")

  // ---------------------------------------------------------------- Q22–Q24
  // event-time windows + CDC latest-state

  /** Q22 tumbling window (ST7): the exact operator
    * (`StreamingOps.tumblingAgg`) that drives the streaming variant —
    * one plan, two execution modes; epoch-aligned so DuckDB's
    * date_trunc matches. The watermark is a no-op in batch. */
  val q22: Q = (s, dir) =>
    StreamingOps.tumblingAgg(Tables.events(s, dir),
        tsCol = "ts", windowDuration = "1 hour", watermarkDelay = "10 minutes",
        keyCols = Seq("event_type"), valueCol = "value")
      .orderBy("wstart", "event_type")

  /** Q23 session window (ST7), 30-minute gap — the same
    * `StreamingOps.sessionAgg` operator that drives the streaming
    * variant. Oracle is the gaps-and-islands formulation; Spark
    * sessions are half-open [start, last+gap), so a gap of exactly
    * 30 min starts a new session on both sides. */
  val q23: Q = (s, dir) =>
    StreamingOps.sessionAgg(Tables.events(s, dir),
        tsCol = "ts", gap = "30 minutes", watermarkDelay = "10 minutes",
        keyCols = Seq("user_id"))
      .select("user_id", "session_start", "n")
      .orderBy("user_id", "session_start")

  /** Q24 CDC latest-state materialization (A1/A2): events as a changelog
    * keyed by user_id; newest row per key wins, event_id breaks ties. */
  val q24: Q = (s, dir) =>
    Relational.latestStatePerKey(Tables.events(s, dir),
      keys = Seq("user_id"),
      ordering = Seq(col("ts").desc, col("event_id").desc))
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"),
        round(col("value"), 4).as("value"))
      .orderBy("user_id")

  // ---------------------------------------------------------------- Q25–Q28
  // LLM-pipeline north-star ops

  /** Q25 exact dedup (north star): group by a 128-bit hash pair of the
    * normalized text (the shuffle carries 16 bytes per row, never the
    * corpus body — the 100 TB shape), min doc_id survives, survivor
    * counts per lang. The oracle groups on the text itself; the hash
    * pair makes a cross-engine divergence require an xxhash64 double
    * collision (< 10⁻¹⁴ even at 10¹² docs). */
  val q25: Q = (s, dir) => {
    val d = Tables.documents(s, dir)
    d.join(Dedup.exactSurvivors(d, "doc_id", "text"), "doc_id")
      .groupBy("lang")
      .agg(count(lit(1)).as("n"))
      .orderBy("lang")
  }

  /** Q26 text analysis (north star): token counts, top-20. explode +
    * hash agg; partial aggregation keeps the shuffle small. */
  val q26: Q = (s, dir) =>
    Tables.documents(s, dir)
      .select(explode(split(lower(col("text")), " ")).as("token"))
      .filter(col("token") =!= "")
      .groupBy("token")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(20)

  /** Q27 similarity search (north star): brute-force cosine top-5 of
    * vec_id=0. The 1-row query vector broadcasts; dot products are a
    * codegen'd zip_with/aggregate — no UDF. Scale path: LSH/IVF
    * candidate pruning (q30), same residual scoring. The target is
    * reduced to exactly one row via MIN so both engines behave
    * identically whether vec_id=0 is absent or duplicated. */
  val q27: Q = (s, dir) => {
    def dot(a: Column, b: Column): Column = Similarity.dot(a, b)
    val emb = Tables.embeddings(s, dir)
      .withColumn("e", col("embedding").cast("array<double>"))
    val tgt = emb.filter(col("vec_id") === 0).agg(min(col("e")).as("t_e"))
    emb.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(tgt))
      .select(col("vec_id"),
        round(dot(col("e"), col("t_e")) /
          (sqrt(dot(col("e"), col("e"))) * sqrt(dot(col("t_e"), col("t_e")))), 4)
          .as("score"))
      .orderBy(col("score").desc, col("vec_id"))
      .limit(5)
  }

  /** Q28 multimodal columns (north star): documents × embeddings joined
    * on id, filtered by label, n_chars stats per lang. avg computed as
    * exact-int-sum / count so both engines divide identical operands. */
  val q28: Q = (s, dir) =>
    Tables.documents(s, dir)
      .join(Tables.embeddings(s, dir), col("doc_id") === col("vec_id"))
      .filter(col("label") === 1)
      .groupBy("lang")
      .agg(count(lit(1)).as("n"),
        round(sum(col("n_chars")).cast("double") / count(lit(1)), 4).as("avg_chars"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"))
      .orderBy("lang")

  // ---------------------------------------------------------------- Q29
  // CDC codec: envelope encode → Debezium unwrap → latest-state

  /** Q29 CDC envelope roundtrip (S4 + A1–A4): events re-expressed as a
    * Debezium changelog — each row serialized into the full
    * `{before,after,source,op,ts_ms}` JSON envelope (op derived
    * deterministically from event_type: signup→c, error→d, else u),
    * then unwrapped with delete-rewrite + `__op`/`__ts_ms` metadata, and
    * materialized to per-key latest state. Exercises the exact transform
    * chain of the reference's flagship CDC task
    * (postgres/connector.json:11-14) end to end in one batch plan.
    * Timestamps travel as epoch millis (envelope wire precision), so the
    * latest-state ordering is on (ms, event_id) on both sides. */
  val q29: Q = (s, dir) => {
    val rowSchema = StructType(Seq(
      StructField("event_id", LongType),
      StructField("user_id", LongType),
      StructField("value", DoubleType)))
    val op = when(col("event_type") === "signup", "c")
      .when(col("event_type") === "error", "d")
      .otherwise("u")
    val rowStruct = struct(col("event_id"), col("user_id"), col("value"))
    val tsMs = unix_millis(col("ts").cast("timestamp")) // UTC session: NTZ cast is exact
    val enveloped = Tables.events(s, dir).select(
      to_json(struct(
        when(op === "d", rowStruct).as("before"),
        when(op =!= "d", rowStruct).as("after"),
        struct(lit("postgresql").as("connector"), lit("graft").as("db"),
          lit("events").as("table"), tsMs.as("ts_ms"),
          col("event_id").as("lsn")).as("source"),
        op.as("op"),
        tsMs.as("ts_ms"))).as("value"))
    val unwrapped = Debezium.unwrap(enveloped, "value", rowSchema)
    Relational.latestStatePerKey(unwrapped, Seq("user_id"),
        Seq(col("__ts_ms").desc, col("event_id").desc))
      .select(col("user_id"), col("event_id"), col("__op"), col("__deleted"),
        round(col("value"), 4).as("value"))
      .orderBy("user_id")
  }

  // ---------------------------------------------------------------- Q30–Q33
  // near-dup dedup, pruned kNN, observability remainder

  /** Q30 near-duplicate pairs (north star, SURVEY §7 step 7): MinHash
    * over 3-word shingles, 16×3 LSH banding, exact Jaccard residual
    * ≥ 0.8. The oracle is the brute-force all-pairs formulation; the
    * banding (miss probability ≈ 3·10⁻⁵ at the threshold) only prunes
    * candidates, the residual keeps the result exact. */
  val q30: Q = (s, dir) =>
    Dedup.nearDupPairs(Tables.documents(s, dir), "doc_id", "text",
        threshold = 0.8, shingleWidth = 3, bands = 16, rowsPerBand = 3)
      .select(col("d1"), col("d2"), round(col("jaccard"), 4).as("jaccard"))
      .orderBy("d1", "d2")

  /** Q31 pruned exact kNN (north star scale path for Q27): Cauchy–
    * Schwarz upper bound → top-C exact rescore → thresholded exact
    * top-k. Equals brute force by construction (see Similarity
    * scaladoc), so the oracle is the plain brute-force query. */
  val q31: Q = (s, dir) =>
    Similarity.boundedExactKnn(
      Tables.embeddings(s, dir).withColumn("e", col("embedding").cast("array<double>")),
      "vec_id", "e", targetId = 1L, k = 10, candidateCount = 64)

  /** Q32 label remap (§2.9, PromQL label_replace / JMX relabel rules):
    * regex-remap the event_type label (click/view → engagement), then
    * aggregate per remapped label — the reference's Grafana status-remap
    * panel (grafana/dashboards/connect.json:1581) as a DataFrame op. */
  val q32: Q = (s, dir) =>
    Tables.events(s, dir)
      .withColumn("label", regexp_replace(col("event_type"), "^(click|view)$", "engagement"))
      .groupBy("label")
      .agg(count(lit(1)).as("n"),
        round(sum(dec6(col("value"))).cast("double"), 4).as("sum_value"))
      .orderBy("label")

  /** Q33 windowed rate (§2.9, PromQL rate(x[1h])): per event_type and
    * 1-hour tumbling window, (max − min)/window_seconds of the value
    * gauge — the Grafana poll/write-rate panels
    * (grafana/dashboards/connect.json:1722,1825) over event time. */
  val q33: Q = (s, dir) =>
    Tables.events(s, dir)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(round(((max(col("value")) - min(col("value"))) / lit(3600.0)), 6).as("rate"))
      .select(col("window.start").as("wstart"), col("event_type"), col("rate"))
      .orderBy("wstart", "event_type")

  /** The fixed sign-LSH geometry shared by q35 and its oracle: 8 seeded
    * ±1 hyperplanes over the 64-dim embeddings. Deterministic, so the
    * DuckDB oracle inlines the identical coefficients and reproduces
    * the exact candidate set (integer-quantized projections — no float
    * summation-order hazard). */
  private val lshPlanes = Similarity.hyperplanes(planes = 8, dim = 64, seed = 42L)

  /** Per-JVM memoized persisted-asset paths for the serving-posture
    * gates (q291/q292/q294): the index builds ONCE per (gate, sfDir)
    * and every later invocation — Bench runs each gate 4× (warm-up +
    * median-of-3) — scores against the already-persisted parquet, so
    * the timed section measures SERVING, not the index rebuild the
    * incremental posture exists to avoid; deleteOnExit stops /tmp
    * accumulating a copy per run. */
  private val persistedAssets =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def persistedAsset(name: String, sfDir: String)
                            (write: String => Unit): String =
    persistedAssets.computeIfAbsent(s"$name:$sfDir", _ => {
      val p = java.nio.file.Files.createTempDirectory(s"graft-$name-idx")
      p.toFile.deleteOnExit()
      write(p.toString)
      p.toString
    })

  /** Q35 LSH-bucketed ANN (north star scale path, SURVEY §4): sign-LSH
    * bucket codes, Hamming-radius-2 multi-probe, exact cosine rescore
    * of the candidate subset. Approximate by contract — the oracle
    * replicates the bucketing, so the result is exact over the
    * deterministic candidate set. */
  val q35: Q = (s, dir) =>
    Similarity.lshTopK(
      Tables.embeddings(s, dir).withColumn("e", col("embedding").cast("array<double>")),
      "vec_id", "e", targetId = 2L, k = 5, planes = lshPlanes, radius = 2)

  private def lshOracle: String = {
    def codeExpr(vecSql: String): String =
      lshPlanes.zipWithIndex.map { case (p, i) =>
        s"(CASE WHEN list_dot_product(list_transform($vecSql, x -> round(x * 1024)), " +
          s"[${p.map(c => s"$c.0").mkString(",")}]) >= 0 THEN ${1L << i} ELSE 0 END)"
      }.mkString(" + ")
    "WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings), " +
      "tgt AS (SELECT MIN(e) AS t_e FROM c WHERE vec_id = 2), " +
      s"tc AS (SELECT ${codeExpr("(SELECT t_e FROM tgt)")} AS t_code), " +
      s"cand AS (SELECT vec_id, e FROM c WHERE vec_id <> 2 " +
      s"AND bit_count(xor(${codeExpr("e")}, (SELECT t_code FROM tc))) <= 2), " +
      "scored AS (SELECT vec_id, list_dot_product(e, (SELECT t_e FROM tgt)) / " +
      "(sqrt(list_dot_product(e, e)) * sqrt(list_dot_product((SELECT t_e FROM tgt), (SELECT t_e FROM tgt)))) AS raw FROM cand) " +
      "SELECT vec_id, ROUND(raw, 4) AS score FROM scored ORDER BY score DESC, vec_id LIMIT 5"
  }

  /** Q36 SimHash near-dup pairs (north star dedup family): 60-bit
    * simhash over word tokens from the PORTABLE polynomial hash family
    * (char-level rolling hash + pairwise-independent bit expansion —
    * pure integer arithmetic), EXACT pigeonhole chunk banding (no
    * probabilistic misses), Hamming ≤ 3 residual. The portable basis
    * makes the codes engine-independent, so the DuckDB oracle replays
    * them exactly (the xxhash64 basis kept in `simhashNearDupPairs`
    * could only support a rows-only check). */
  val q36: Q = (s, dir) =>
    Dedup.portableSimhashNearDupPairs(Tables.documents(s, dir), "doc_id", "text",
        maxHamming = 3, bits = 60)
      .orderBy("d1", "d2")

  private def simhashOracle: String =
    // replay of Dedup.portableSimhashCodes: h = fold(chars, 5381, h*33+c mod P);
    // bit b = (((h + b·2654435761) mod P)² mod P) mod 2; vote ±1 per token;
    // pack 60 bits; then brute-force all-pairs Hamming (banding is
    // lossless by pigeonhole)
    "WITH toks AS (SELECT doc_id, unnest(list_filter(str_split(lower(trim(text)), ' '), t -> t <> '')) AS t " +
      "FROM documents), " +
      "th AS (SELECT doc_id, list_reduce(list_prepend(CAST(5381 AS BIGINT), " +
      "list_transform(range(1, length(t) + 1), i -> CAST(unicode(substr(t, CAST(i AS INT), 1)) AS BIGINT))), " +
      "(a, c) -> (a * 33 + c) % 1000000007) AS h FROM toks), " +
      "votes AS (SELECT doc_id, b, SUM(CASE WHEN " +
      "(((h + b * 2654435761) % 1000000007) * ((h + b * 2654435761) % 1000000007)) % 1000000007 % 2 = 1 " +
      "THEN 1 ELSE -1 END) AS v FROM th CROSS JOIN (SELECT unnest(range(0, 60)) AS b) bb GROUP BY doc_id, b), " +
      "codes AS (SELECT doc_id, CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS code " +
      "FROM votes GROUP BY doc_id) " +
      "SELECT a.doc_id AS d1, b.doc_id AS d2, " +
      "CAST(bit_count(xor(a.code, b.code)) AS INT) AS hamming " +
      "FROM codes a JOIN codes b ON a.doc_id < b.doc_id " +
      "WHERE bit_count(xor(a.code, b.code)) <= 3 ORDER BY d1, d2"

  /** Q37 embedding-cosine near-dup pairs (north star dedup family):
    * deterministic sign-LSH code blocking (radius 2 of 8 bits, exact
    * pigeonhole) + exact cosine ≥ 0.3 residual. The code filter is part
    * of the contract, so the DuckDB oracle reproduces the result
    * exactly from the same inlined hyperplanes. BOUNDED-CORPUS
    * semantics by declaration: at cosine ≥ 0.3 in 64 dims ~1% of
    * RANDOM pairs qualify, so the full pair list is Ω(N²/100) — an
    * answer, not a plan, that cannot ship at 100 TB. q289 is the
    * production posture (per-doc top-⌈log₂N⌉ cap, output ≤ N·k). */
  val q37: Q = (s, dir) =>
    Dedup.embeddingNearDupPairs(
        Tables.embeddings(s, dir).withColumn("e", col("embedding").cast("array<double>")),
        "vec_id", "e", planes = lshPlanes, codeRadius = 2, threshold = 0.3)
      .select(col("d1"), col("d2"), round(col("cosine"), 4).as("cosine"))
      .orderBy("d1", "d2")

  private def embNearDupOracle: String =
    embPairOracle("a.vec_id < b.vec_id", "d1", "d2")

  /** q132's oracle: the q123 twin corpus, sign-LSH pairs at ≥ 0.9,
    * transitive min-label clusters (recursive CTE), then IVF
    * cell-pruned candidates (stride-37 centroids, q78's assignment
    * CTEs — the pruning is part of the operator contract) and
    * per-probe top-5 cosine with the cluster-mate exclusion. */
  private def hardNegOracle: String = {
    def codeExpr(vecSql: String): String =
      lshPlanes.zipWithIndex.map { case (p, i) =>
        s"(CASE WHEN list_dot_product(list_transform($vecSql, x -> round(x * 1024)), " +
          s"[${p.map(c => s"$c.0").mkString(",")}]) >= 0 THEN ${1L << i} ELSE 0 END)"
      }.mkString(" + ")
    "WITH RECURSIVE e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
      "eu AS (SELECT vec_id, v FROM e0 " +
      "UNION ALL SELECT vec_id + 100000, list_transform(v, x -> x + (vec_id % 10) * CAST(0.015 AS DOUBLE)) FROM e0), " +
      s"c AS (SELECT vec_id, v, ${codeExpr("v")} AS code, " +
      "list_transform(v, x -> round(x * 1024)) AS q FROM eu), " +
      "pr AS (SELECT a.vec_id AS d1, b.vec_id AS d2 FROM c a JOIN c b " +
      "ON a.vec_id < b.vec_id AND bit_count(xor(a.code, b.code)) <= 2 " +
      "AND list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.9), " +
      "nodes AS (SELECT d1 AS id FROM pr UNION SELECT d2 FROM pr), " +
      "edges AS (SELECT d1 AS src, d2 AS dst FROM pr UNION SELECT d2, d1 FROM pr), " +
      "reach(id, lbl) AS (SELECT id, id FROM nodes " +
      "UNION SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.id), " +
      "cl AS (SELECT id, MIN(lbl) AS cluster_id FROM reach GROUP BY id), " +
      "rr AS (SELECT c.vec_id, c.v, COALESCE(cl.cluster_id, c.vec_id) AS rep " +
      "FROM c LEFT JOIN cl ON c.vec_id = cl.id), " +
      "cent AS (SELECT vec_id AS cid, q AS cv FROM c WHERE vec_id % 37 = 0), " +
      "dist AS (SELECT c.vec_id, cent.cid, " +
      "list_dot_product(c.q, c.q) - 2 * list_dot_product(c.q, cent.cv) + list_dot_product(cent.cv, cent.cv) AS d2 " +
      "FROM c, cent), " +
      "asg AS (SELECT vec_id, cid FROM (SELECT vec_id, cid, " +
      "ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM dist) t WHERE rn = 1), " +
      "pc AS (SELECT vec_id AS probe_id, cid FROM (SELECT vec_id, cid, " +
      "ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM dist WHERE vec_id < 5) t WHERE rn <= 8), " +
      "cand AS (SELECT pc.probe_id, a.vec_id FROM asg a JOIN pc USING (cid) WHERE a.vec_id <> pc.probe_id), " +
      "pb AS (SELECT vec_id AS probe_id, v AS pv, rep AS prep FROM rr WHERE vec_id < 5), " +
      "sc AS (SELECT pb.probe_id, rr.vec_id AS neighbor_id, " +
      "list_dot_product(rr.v, pb.pv) / (sqrt(list_dot_product(rr.v, rr.v)) * sqrt(list_dot_product(pb.pv, pb.pv))) AS raw " +
      "FROM cand JOIN rr ON cand.vec_id = rr.vec_id JOIN pb ON cand.probe_id = pb.probe_id " +
      "WHERE rr.rep <> pb.prep), " +
      "rk AS (SELECT probe_id, neighbor_id, raw, ROW_NUMBER() OVER " +
      "(PARTITION BY probe_id ORDER BY raw DESC, neighbor_id) AS rank FROM sc) " +
      "SELECT probe_id, neighbor_id, ROUND(raw, 4) AS score, CAST(rank AS INT) AS rank " +
      "FROM rk WHERE rank <= 5 ORDER BY probe_id, rank"
  }

  /** q93's oracle: same inlined-hyperplane blocking, cross-split pairs. */
  private def crossEmbOracle: String =
    embPairOracle("a.vec_id % 7 = 0 AND b.vec_id % 7 <> 0", "eval_id", "train_id")

  /** Sign-LSH + exact-cosine pair oracle, parameterized by the pair
    * predicate and output id column names (shared by q37 and q93). */
  private def embPairOracle(pairPred: String, c1: String, c2: String): String = {
    def codeExpr(vecSql: String): String =
      lshPlanes.zipWithIndex.map { case (p, i) =>
        s"(CASE WHEN list_dot_product(list_transform($vecSql, x -> round(x * 1024)), " +
          s"[${p.map(c => s"$c.0").mkString(",")}]) >= 0 THEN ${1L << i} ELSE 0 END)"
      }.mkString(" + ")
    s"WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e, " +
      s"${codeExpr("CAST(embedding AS DOUBLE[])")} AS code FROM embeddings), " +
      s"p AS (SELECT a.vec_id AS $c1, b.vec_id AS $c2, a.e AS ae, b.e AS be FROM c a JOIN c b " +
      s"ON $pairPred AND bit_count(xor(a.code, b.code)) <= 2), " +
      s"s AS (SELECT $c1, $c2, list_dot_product(ae, be) / " +
      "(sqrt(list_dot_product(ae, ae)) * sqrt(list_dot_product(be, be))) AS cs FROM p) " +
      s"SELECT $c1, $c2, ROUND(cs, 4) AS cosine FROM s WHERE cs >= 0.3 ORDER BY $c1, $c2"
  }

  /** Q34 as-of join (§2.3): each purchase event enriched with the
    * newest signup of the same user at-or-before it (the standard
    * enrich-with-latest-dim-version pattern). The build side is
    * collapsed to one row per (user, ts) first — the operator's
    * determinism contract. Oracle: DuckDB's native ASOF LEFT JOIN. */
  val q34: Q = (s, dir) => {
    val e = Tables.events(s, dir)
    val purchases = e.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts")
    val signups = Relational.latestStatePerKey(
        e.filter(col("event_type") === "signup"),
        keys = Seq("user_id", "ts"), ordering = Seq(col("event_id").desc))
      .select(col("user_id"), col("ts"), col("event_id").as("signup_event_id"))
    Relational.asOfJoin(purchases, signups,
        keys = Seq("user_id"), tsCol = "ts", payload = Seq("signup_event_id"))
      .select("event_id", "user_id", "signup_event_id")
      .orderBy("event_id")
  }

  // ---------------------------------------------------------------- Q38–Q40
  // text analysis (north star): quality scoring, language-ID, fingerprints

  /** Non-empty word tokens of a normalized text column. */
  private def toks(text: Column): Column =
    filter(split(lower(trim(text)), " "), t => t =!= "")

  /** Q38 text quality scoring (north star): per-language corpus stats —
    * token counts, mean token length, stopword ratio — from exact
    * integer sums (identical division operands in both engines). */
  val q38: Q = (s, dir) => {
    val stop = Seq("the", "a", "of", "and", "in", "to", "is")
    val t = toks(col("text"))
    val stopN = size(filter(t, x => x.isInCollection(stop)))
    val charN = aggregate(transform(t, x => length(x)), lit(0L), (a, x) => a + x)
    Tables.documents(s, dir)
      .select(col("lang"), size(t).as("n_tok"), stopN.as("n_stop"), charN.as("n_char"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n"),
        round(sum(col("n_tok")).cast("double") / count(lit(1)), 4).as("avg_tokens"),
        round(sum(col("n_char")).cast("double") / sum(col("n_tok")), 4).as("avg_token_len"),
        round(sum(col("n_stop")).cast("double") / sum(col("n_tok")), 4).as("stopword_ratio"))
      .orderBy("lang")
  }

  /** Q39 language-ID (north star): marker-token scoring with a
    * deterministic alphabetical tie-break — the n-gram-heuristic
    * mechanism over the documents table (the synthetic corpus shares
    * one vocabulary, so the interesting part is the operator, not the
    * confusion matrix). */
  val q39: Q = (s, dir) => {
    val markers = Seq(
      "de" -> Seq("der", "die", "das", "und"),
      "en" -> Seq("the", "a", "of", "and"),
      "es" -> Seq("el", "la", "los", "y"),
      "fr" -> Seq("le", "la", "les", "et"))
    val t = toks(col("text"))
    def score(ws: Seq[String]): Column = size(filter(t, x => x.isInCollection(ws)))
    val Seq(sDe, sEn, sEs, sFr) = markers.map { case (_, ws) => score(ws) }
    val predicted = when(sDe >= sEn && sDe >= sEs && sDe >= sFr, "de")
      .when(sEn >= sEs && sEn >= sFr, "en")
      .when(sEs >= sFr, "es")
      .otherwise("fr")
    Tables.documents(s, dir)
      .select(col("lang"), predicted.as("predicted"))
      .groupBy("lang", "predicted")
      .agg(count(lit(1)).as("n"))
      .orderBy("lang", "predicted")
  }

  /** Q40 document fingerprinting (north star): char-level polynomial
    * rolling hash (Rabin–Karp shape, h = h·31 + code mod 2³¹−1) over
    * the normalized text — pure integer arithmetic, bit-identical in
    * any engine. Per-language fingerprint stats. */
  val q40: Q = (s, dir) => {
    val norm = lower(trim(col("text")))
    // one codegen'd fold over the whole normalized text (TokenHash is
    // the same recurrence whether the string is a token or a document)
    val fp = TextMetrics.tokenHash(norm)
    Tables.documents(s, dir)
      .select(col("lang"), fp.as("fp"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n"),
        countDistinct(col("fp")).as("n_fp"),
        min(col("fp")).as("min_fp"))
      .orderBy("lang")
  }

  /** Q41 regex token counting (north star text analysis): a BPE-ish
    * pre-tokenizer — alpha runs, digit runs, and single symbols as
    * separate tokens (`[a-z]+|[0-9]+|[^a-z0-9\s]`) — with per-language
    * token-class counts. The pattern sticks to constructs Java regex
    * and DuckDB's RE2 interpret identically. */
  val q41: Q = (s, dir) => {
    val t = regexp_extract_all(lower(trim(col("text"))),
      lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))
    val isAlpha = (x: Column) => x.rlike("^[a-z]+$")
    val isNum = (x: Column) => x.rlike("^[0-9]+$")
    Tables.documents(s, dir)
      .select(col("lang"), t.as("tok"))
      .groupBy("lang")
      .agg(
        sum(size(col("tok"))).as("n_tokens"),
        sum(size(filter(col("tok"), isAlpha))).as("n_alpha"),
        sum(size(filter(col("tok"), isNum))).as("n_num"))
      .orderBy("lang")
  }

  /** Q42 exact percentiles (§2.4 aggregation surface): interpolated
    * median/p95 of price AND median quantity per return flag, via
    * `Relational.exactQuantilesMulti` — both measures melted through
    * ONE run of the distributed counts-based exact quantile program
    * (value→count hash agg, bucketed prefix-sum, covering-row
    * selection; r7 ran the 5-stage pipeline once per measure plus a
    * join). Unlike Spark's
    * built-in `percentile` (an ImperativeAggregate whose per-group
    * buffer holds every distinct value — memory-unbounded at 100×),
    * no stage here holds O(group) state. Interpolation is the same
    * h = q·(n−1) linear form as `quantile_cont`, so the oracle
    * hash-matches; ROUND(,4) absorbs the last ulp. */
  val q42: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir)
    Relational.exactQuantilesMulti(li, Seq("l_returnflag"), Seq(
      "l_extendedprice" -> Seq("p50" -> 0.5, "p95" -> 0.95),
      "l_quantity" -> Seq("q50" -> 0.5)))
      .select(col("l_returnflag"),
        round(col("p50"), 4).as("p50"),
        round(col("p95"), 4).as("p95"),
        round(col("q50"), 4).as("q50"))
      .orderBy("l_returnflag")
  }

  /** Q43 full outer join (§2.3 — the declared-but-unexercised member of
    * the equi-join family): key-range–restricted sides guarantee rows
    * on both null sides. COALESCE merges the key, indicator columns
    * mark the provenance. */
  val q43: Q = (s, dir) => {
    val c = Tables.customer(s, dir)
      .filter(col("c_custkey") <= 900).select("c_custkey")
    val o = Tables.orders(s, dir)
      .filter(col("o_custkey") >= 100)
      .groupBy("o_custkey").agg(count(lit(1)).as("n_orders"))
    c.join(o, col("c_custkey") === col("o_custkey"), "full_outer")
      .select(
        coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
        col("c_custkey").isNotNull.cast("int").as("has_c"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"))
      .orderBy("custkey")
  }

  /** Q44 explicit GROUPING SETS (§2.4): the third grouping-shape the
    * engine exposes beside rollup (q13) and cube (q14) — two 1-D
    * marginals plus the grand total, via SQL (the Dataset API has no
    * direct groupingSets builder). */
  val q44: Q = (s, dir) => {
    Tables.lineitem(s, dir).createOrReplaceTempView("graft_q44_lineitem")
    s.sql(
      """SELECT CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
        |       CAST(GROUPING(l_linestatus) AS INT) AS g_ls,
        |       COALESCE(l_returnflag, 'ALL') AS rf,
        |       COALESCE(l_linestatus, 'ALL') AS ls,
        |       COUNT(*) AS n
        |FROM graft_q44_lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY g_rf, g_ls, rf, ls""".stripMargin)
  }

  /** Q45 counter rate with reset handling (§2.9): PromQL's `rate()`
    * treats a decrease as a counter reset and counts the new value as
    * the increase. Per user: sum of per-step increases divided by the
    * observed time span — the faithful Prometheus semantics over the
    * events value column as a pseudo-counter. */
  val q45: Q = (s, dir) => {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val prev = lag(col("value"), 1).over(w)
    val increase = when(prev.isNull, lit(0.0))
      .when(col("value") >= prev, col("value") - prev)
      .otherwise(col("value")) // reset: counter restarted at `value`
    val spanSec = (unix_millis(max(col("ts")).cast("timestamp")) -
      unix_millis(min(col("ts")).cast("timestamp"))).cast("double") / 1000.0
    Tables.events(s, dir)
      .select(col("user_id"), col("ts"), increase.as("inc"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_samples"),
        round(sum(dec6(col("inc"))).cast("double"), 4).as("total_increase"),
        round(spanSec, 4).as("span_sec"))
      .filter(col("span_sec") > 0)
      .orderBy("user_id")
  }

  /** Q46 IVF ANN (north star scale path #2, beside q35's sign-LSH):
    * deterministic stride-sampled coarse quantizer, integer-quantized
    * exact cell assignment, nprobe-cell candidate search, exact cosine
    * rescore. Approximate by contract; the oracle replays the identical
    * assignment, so the result is exact over the deterministic
    * candidate set. */
  val q46: Q = (s, dir) =>
    Similarity.ivfTopK(
      Tables.embeddings(s, dir).withColumn("e", col("embedding").cast("array<double>")),
      "vec_id", "e", targetId = 3L, k = 10, centroidStride = 37L, nprobe = 8)

  /** q259's oracle: [[ivfOracle]] with the stride DERIVED exactly as
    * `Similarity.sqrtStride` derives it — N div ceil(sqrt(N)) with the
    * same floor-sqrt + one s² ≥ N adjust. */
  private def ivfSqrtOracle: String = {
    val s0 = "CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT)"
    "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, " +
      "list_transform(CAST(embedding AS DOUBLE[]), x -> round(x * 1024)) AS q FROM embeddings), " +
      "nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM e), " +
      "st AS (SELECT CASE WHEN n <= 1 THEN 1 ELSE greatest(1, " +
      s"n // (CASE WHEN $s0 * $s0 >= n THEN $s0 ELSE $s0 + 1 END)) END AS stride FROM nn), " +
      "cent AS (SELECT vec_id AS cid, q AS cv FROM e, st WHERE vec_id % st.stride = 0), " +
      "dist AS (SELECT e.vec_id, cent.cid, " +
      "list_dot_product(e.q, e.q) - 2 * list_dot_product(e.q, cent.cv) + " +
      "list_dot_product(cent.cv, cent.cv) AS d2 FROM e, cent), " +
      "asg AS (SELECT vec_id, cid FROM (SELECT vec_id, cid, " +
      "ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM dist) t WHERE rn = 1), " +
      "probes AS (SELECT cid FROM dist WHERE vec_id = 3 ORDER BY d2, cid LIMIT 8), " +
      "cand AS (SELECT a.vec_id FROM asg a JOIN probes p USING (cid) WHERE a.vec_id <> 3), " +
      "tgt AS (SELECT MIN(v) AS t FROM e WHERE vec_id = 3), " +
      "scored AS (SELECT e.vec_id, list_dot_product(e.v, (SELECT t FROM tgt)) / " +
      "(sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product((SELECT t FROM tgt), (SELECT t FROM tgt)))) AS raw " +
      "FROM e JOIN cand USING (vec_id)) " +
      "SELECT vec_id, ROUND(raw, 4) AS score FROM scored ORDER BY score DESC, vec_id LIMIT 10"
  }

  private def ivfOracle: String =
    "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, " +
      "list_transform(CAST(embedding AS DOUBLE[]), x -> round(x * 1024)) AS q FROM embeddings), " +
      "cent AS (SELECT vec_id AS cid, q AS cv FROM e WHERE vec_id % 37 = 0), " +
      "dist AS (SELECT e.vec_id, cent.cid, " +
      "list_dot_product(e.q, e.q) - 2 * list_dot_product(e.q, cent.cv) + " +
      "list_dot_product(cent.cv, cent.cv) AS d2 FROM e, cent), " +
      "asg AS (SELECT vec_id, cid FROM (SELECT vec_id, cid, " +
      "ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM dist) t WHERE rn = 1), " +
      "probes AS (SELECT cid FROM dist WHERE vec_id = 3 ORDER BY d2, cid LIMIT 8), " +
      "cand AS (SELECT a.vec_id FROM asg a JOIN probes p USING (cid) WHERE a.vec_id <> 3), " +
      "tgt AS (SELECT MIN(v) AS t FROM e WHERE vec_id = 3), " +
      "scored AS (SELECT e.vec_id, list_dot_product(e.v, (SELECT t FROM tgt)) / " +
      "(sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product((SELECT t FROM tgt), (SELECT t FROM tgt)))) AS raw " +
      "FROM e JOIN cand USING (vec_id)) " +
      "SELECT vec_id, ROUND(raw, 4) AS score FROM scored ORDER BY score DESC, vec_id LIMIT 10"

  /** Q47 control-plane SMT chain (P2 whitelist + P6 conditional mask +
    * P5 drop-fields with schema guard, §3.1): the transform pipeline is
    * built from the JSON connector-config twin (`PipelineSpec.fromJson`
    * → `Pipeline.build`), not hand-wired DataFrame code — proving the
    * REST-shaped config surface produces oracle-exact results. */
  val q47: Q = (s, dir) => {
    val json =
      s"""{"name": "smt-chain",
         |  "source": {"type": "file", "options": {"format": "parquet",
         |    "path": "$dir/documents.parquet",
         |    "schema": "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"}},
         |  "transforms": [
         |    {"type": "whitelist", "options": {"field": "lang", "values": "en,fr"}},
         |    {"type": "mask_when", "options": {"field": "source",
         |      "predicate": "n_chars < 200", "replacement": "CENSORED"}},
         |    {"type": "drop_fields", "options": {"fields": "text",
         |      "keep.schema.compatible.ddl": "doc_id BIGINT, lang STRING, source STRING, n_chars BIGINT"}}],
         |  "sink": {"type": "noop"}}""".stripMargin
    Pipeline.build(s, PipelineSpec.fromJson(json), streaming = false)
      .groupBy("lang")
      .agg(count(lit(1)).as("n"),
        sum(when(col("source") === "CENSORED", 1L).otherwise(0L)).as("n_masked"))
      .orderBy("lang")
  }

  /** Q48 incrementing-mode high-water mark (S2, reference
    * `mode=incrementing` / `incrementing.column.name`): new rows are
    * those whose monotonically-increasing id exceeds the last id seen —
    * the id-column twin of q04's timestamp mode, same broadcast-hwm
    * no-collect shape. */
  val q48: Q = (s, dir) => {
    val e = Tables.events(s, dir)
    val hwm = e.filter(col("event_type") === "signup" && col("user_id") < 50)
      .agg(max("event_id").as("__hwm"))
    e.crossJoin(broadcast(hwm))
      .where(col("event_id") > col("__hwm"))
      .select("event_id", "user_id")
      .orderBy("event_id")
  }

  /** Q49 end-to-end training-data prep (north star composition): the
    * realistic pipeline shape — exact dedup survivors → quality gate
    * (≥ 10 tokens, stopword ratio < 0.5 as an exact integer comparison:
    * 2·n_stop < n_tok, no float thresholds) → language-ID label →
    * per-(lang, predicted) corpus stats. One plan: the dedup hash
    * shuffle, a semi-join back, and a final aggregation. */
  val q49: Q = (s, dir) => {
    val stop = Seq("the", "a", "of", "and", "in", "to", "is")
    val t = toks(col("text"))
    val markers = Seq(
      "de" -> Seq("der", "die", "das", "und"),
      "en" -> Seq("the", "a", "of", "and"),
      "es" -> Seq("el", "la", "los", "y"),
      "fr" -> Seq("le", "la", "les", "et"))
    def score(ws: Seq[String]): Column = size(filter(t, x => x.isInCollection(ws)))
    val Seq(sDe, sEn, sEs, sFr) = markers.map { case (_, ws) => score(ws) }
    val predicted = when(sDe >= sEn && sDe >= sEs && sDe >= sFr, "de")
      .when(sEn >= sEs && sEn >= sFr, "en")
      .when(sEs >= sFr, "es")
      .otherwise("fr")
    val d = Tables.documents(s, dir)
    // All text-derived values are computed SCAN-SIDE, before the
    // survivor join: the join's doc side then shuffles only thin
    // derived columns, never `text` (at 100x scale the survivor join
    // degrades BHJ→SMJ, and a post-join tokenization would drag the
    // corpus through that exchange — pinned by PlanQualitySpec's
    // no-broadcast wide-payload pass).
    val scored = d
      .withColumn("__n_tok", size(t))
      .withColumn("__n_stop", size(filter(t, x => x.isInCollection(stop))))
      .filter(col("__n_tok") >= 10 && lit(2) * col("__n_stop") < col("__n_tok"))
      .select(col("doc_id"), col("lang"), predicted.as("predicted"), col("n_chars"))
    scored.join(Dedup.exactSurvivors(d, "doc_id", "text"), "doc_id")
      .groupBy("lang", "predicted")
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
      .orderBy("lang", "predicted")
  }

  /** Q50 Prometheus exposition roundtrip (S7/S8 under the correctness
    * gate): events rendered as exposition-format sample lines
    * (`name{labels} value ts`), re-parsed by `PromText.parse`, then
    * aggregated per series. parse ∘ format is the identity on every
    * field (shortest-repr double strings round-trip exactly), so the
    * oracle aggregates the raw table directly — any parser divergence
    * (label splitting, value/timestamp casts) breaks the hash. */
  val q50: Q = (s, dir) => {
    val e = Tables.events(s, dir)
    val line = concat(
      lit("graft_value{user=\""), col("user_id").cast("string"),
      lit("\",type=\""), col("event_type"), lit("\"} "),
      col("value").cast("string"), lit(" "),
      unix_millis(col("ts").cast("timestamp")).cast("string"))
    // regex-parse is the dominant per-row cost: fan the under-split
    // single-row-group fixture out so it runs on all cores
    PromText.parse(Tables.fanOut(e.select(line.as("value"))), "value")
      .groupBy(col("name"),
        element_at(col("labels"), "user").cast("long").as("user_id"),
        element_at(col("labels"), "type").as("event_type"))
      .agg(count(lit(1)).as("n"),
        round(sum(dec6(col("value"))).cast("double"), 4).as("sum_value"),
        max(col("ts_ms")).as("max_ts"))
      .orderBy("user_id", "event_type")
  }

  /** Q51 multimodal binary columns (north star): text payloads as opaque
    * bytes → fixed-size frame sampling (`Multimodal.frameSample`, every
    * 4th 64-byte frame) → per-frame md5 digests → per-language frame
    * stats. Byte-level slicing and hashing agree across engines on the
    * ASCII corpus (substring on BINARY/BLOB is byte-based in both). */
  val q51: Q = (s, dir) => {
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("text").cast("binary").as("bin"))
    Multimodal.frameSample(d, "bin", frameSize = 64, everyN = 4)
      .select(col("lang"), col("frame_idx"),
        length(col("frame")).as("fbytes"), md5(col("frame")).as("digest"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_frames"),
        sum(col("fbytes")).as("total_bytes"),
        countDistinct(col("digest")).as("n_digests"),
        min(col("digest")).as("min_digest"))
      .orderBy("lang")
  }

  /** Q52 char-n-gram Jaccard near-dup pairs (north star dedup family —
    * the character-level member beside word-shingle MinHash q30):
    * 10-char shingles, same 16×3 MinHash banding, exact Jaccard ≥ 0.8
    * residual. Char n-grams survive word-boundary edits (joined/split
    * words) that break word shingles. Width 10, not 5: on this
    * small-vocabulary corpus 5-grams are non-selective (random-pair
    * Jaccard avg 0.17 → the banding floods with candidates, 32 s at
    * sf0.1), while 10-grams drop it to 0.017 with the identical
    * ≥ 0.8 result set. Oracle: brute-force all-pairs over the same
    * shingle sets. */
  val q52: Q = (s, dir) =>
    Dedup.nearDupPairs(Tables.documents(s, dir), "doc_id", "text",
        threshold = 0.8, shingleWidth = 10, bands = 16, rowsPerBand = 3,
        charLevel = true)
      .select(col("d1"), col("d2"), round(col("jaccard"), 4).as("jaccard"))
      .orderBy("d1", "d2")

  /** Q53 sliding window (ST7 — the third window shape beside tumbling
    * q22 and session q23): 1-hour windows every 30 minutes, so each
    * event lands in exactly 2 overlapping windows. Driven by the same
    * `StreamingOps.slidingAgg` operator as the streaming variant;
    * epoch-aligned starts so the oracle can replay the window set. */
  val q53: Q = (s, dir) =>
    StreamingOps.slidingAgg(Tables.events(s, dir),
        tsCol = "ts", windowDuration = "1 hour", slideDuration = "30 minutes",
        watermarkDelay = "10 minutes", keyCols = Seq("event_type"), valueCol = "value")
      .orderBy("wstart", "event_type")

  /** Q54 batch kNN join (north star similarity at pipeline shape): exact
    * cosine top-3 neighbors for every probe in a query batch
    * (`Similarity.knnJoin`, vec_id < 5) in ONE plan — broadcast probes,
    * map-side scoring, a (probe, id, score)-only ranking shuffle. The
    * realistic embedding-dedup/retrieval shape vs q27's single target. */
  val q54: Q = (s, dir) => {
    val e = Tables.embeddings(s, dir)
      .withColumn("e", col("embedding").cast("array<double>"))
    Similarity.knnJoin(e, e.filter(col("vec_id") < 5), "vec_id", "e", k = 3)
      .withColumn("rank", col("rank").cast("long"))
      .orderBy("probe_id", "rank")
  }

  /** Q55 duplicate clustering (north star — pairs → groups): connected
    * components over the q30 near-dup pair graph via min-label
    * propagation (`Dedup.dupClusters`), so transitive chains collapse
    * into one cluster keyed by its minimum doc_id — the canonical-
    * representative assignment a dedup pipeline actually applies.
    * Oracle: recursive-CTE transitive closure over the same pairs. */
  val q55: Q = (s, dir) =>
    Dedup.dupClusters(
        Dedup.nearDupPairs(Tables.documents(s, dir), "doc_id", "text",
          threshold = 0.8, shingleWidth = 3, bands = 16, rowsPerBand = 3),
        "d1", "d2")
      .select(col("id").as("doc_id"), col("cluster_id"))
      .orderBy("doc_id")

  /** Q56 skew-salted join (§2.3 / 100 TB posture): the
    * lineitem ⋈ orders revenue aggregation routed through
    * `Relational.saltedJoin` in its two-path hot-key form — keys with
    * ≥4 fact rows are salted (deterministic per-row salt, replicated
    * dim, join on (key, salt)); cold keys take the plain equi join; the
    * union is asserted equal to the plain join by the oracle. The
    * mechanism AQE's skew-split cannot cover (both-side single-key
    * skew) under the correctness gate, without paying factor×
    * replication for the cold majority. */
  val q56: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("okey"), col("l_extendedprice"), col("l_discount"))
    val o = Tables.orders(s, dir)
      .select(col("o_orderkey").as("okey"), col("o_orderpriority"))
    Relational.saltedJoin(li, o, Seq("okey"), saltFactor = 4,
        hotKeyThreshold = Some(4L))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        round(sum(dec6(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
          .cast("double"), 4).as("revenue"))
      .orderBy("o_orderpriority")
  }

  /** Q57 interval self-join funnel (§2.3 stream-stream join, batch
    * twin): purchases within 30 minutes of a signup by the same user —
    * the equi-key (user) + time-bound condition shape Structured
    * Streaming's stream-stream join requires, planned as a sort-merge
    * join with a range residual (no BNLJ: the equi key anchors the
    * shuffle). StreamingSpec asserts the watermarked streaming variant
    * equals this batch form. */
  val q57: Q = (s, dir) => {
    val e = Tables.events(s, dir)
    val sgn = e.filter(col("event_type") === "signup")
      .select(col("user_id"), col("ts").as("t1"))
    val pur = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("t2"), col("value"))
    sgn.join(pur, "user_id")
      .filter(col("t2") >= col("t1") &&
        col("t2") < col("t1") + expr("INTERVAL 30 MINUTES"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_pairs"),
        round(sum(dec6(col("value"))).cast("double"), 4).as("sum_value"))
      .orderBy("user_id")
  }

  /** Q58 multimodal decode pipeline (north star): documents as opaque
    * binary Assets → `Multimodal.decodeFeatures` — the typed
    * `mapPartitions` seam where a real media decoder plugs in (the
    * Scala analogue of `mapInPandas`; decode itself is the deterministic
    * stub histogram) → features joined back to metadata → per-lang
    * stats over exact integer histogram bins. The one query whose hot
    * path is intentionally NOT a Catalyst expression — it gates the
    * partition-batched typed-Dataset plumbing itself. Oracle replays
    * the byte histogram via per-char codepoint arithmetic (ASCII
    * corpus: bytes are chars, enforced by the corpus invariant test). */
  val q58: Q = (s, dir) => {
    import graft.multimodal.{Asset, Multimodal}
    val d = Tables.documents(s, dir)
    val assets = d.select(
        col("doc_id").as("asset_id"), lit("text/plain").as("media_type"),
        col("text").cast("binary").as("bytes"),
        lit(0).as("width"), lit(0).as("height"))
      .as[Asset](org.apache.spark.sql.Encoders.product[Asset])
    // The per-doc mean byte travels as EXACT integer micro-units:
    // recover the integer byte sum from the decoder's double mean
    // (|float error| ≪ 0.5, so round() is exact), then integer-divide.
    // Summing per-doc DOUBLE means hits double→decimal half-up
    // boundaries that DuckDB and the JVM resolve differently (observed
    // one 4th-decimal quantum of drift at sf0.1) — integers cannot.
    val meanMicro = expr(
      "CAST(ROUND(mean_byte * n_bytes) AS BIGINT) * 1000000 div n_bytes")
    Multimodal.decodeFeatures(assets).toDF()
      .join(d.select(col("doc_id"), col("lang")), col("asset_id") === col("doc_id"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n"),
        sum(col("n_bytes")).as("total_bytes"),
        sum(meanMicro).as("sum_mean_micro"),
        // byte/16 bins 3 (0x30-3F: digits + :;<=>?), 6 (0x60-6F) and
        // 7 (0x70-7F) — the lowercase range plus adjacent punctuation;
        // exact longs either way
        sum(element_at(col("histogram"), 4)).as("h3"),
        sum(element_at(col("histogram"), 7)).as("h6"),
        sum(element_at(col("histogram"), 8)).as("h7"))
      .orderBy("lang")
  }

  /** Q59 JMX-exporter relabel (§2.9 — the reference's
    * kafka-connect.yml:6-106 rule list): raw MBean-style metric names →
    * renamed series + regex-extracted label columns via `Relabel.relabel`
    * (rename + capture-group labels in the scan projection, no shuffle
    * until the aggregate), then a sum-by over the extracted labels. The
    * raw names are constructed from events columns so the oracle can
    * rebuild and relabel them with the identical RE2-safe pattern. */
  val q59: Q = (s, dir) => {
    val e = Tables.events(s, dir)
    val raw = concat(
      lit("kafka.connect<type=task-metrics, connector="), col("event_type"),
      lit(", task="), pmod(col("user_id"), lit(4L)), lit("><>poll-total"))
    graft.obs.Relabel.relabel(
        e.select(raw.as("raw"), col("value")), "raw",
        "kafka\\.connect<type=task-metrics, connector=([a-z]+), task=([0-9]+)><>poll-total",
        "kafka_connect_task_poll_total",
        Map("connector" -> 1, "task" -> 2))
      .groupBy("name", "connector", "task")
      .agg(count(lit(1)).as("n"),
        round(sum(dec6(col("value"))).cast("double"), 4).as("sum_value"))
      .orderBy("name", "connector", "task")
  }

  /** Q60 full dedup pipeline (north star capstone): the complete corpus
    * dedup a training-data pipeline runs — exact dedup (128-bit hash
    * survivors) → near-dup pair detection over the survivors → connected-
    * component clustering → keep only each cluster's canonical (minimum)
    * member → per-lang corpus stats. q25/q30/q55 gate the stages; this
    * gates their composition end to end. */
  val q60: Q = (s, dir) => {
    val d = Tables.documents(s, dir)
    val exact = d.join(Dedup.exactSurvivors(d, "doc_id", "text"), "doc_id")
    val clusters = Dedup.dupClusters(
      Dedup.nearDupPairs(exact, "doc_id", "text",
        threshold = 0.8, shingleWidth = 3, bands = 16, rowsPerBand = 3),
      "d1", "d2")
    val dropIds = clusters.filter(col("id") =!= col("cluster_id"))
      .select(col("id").as("doc_id"))
    exact.join(dropIds, Seq("doc_id"), "left_anti")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .orderBy("lang")
  }

  /** Q61 window gap-fill (§2.9 — Grafana's null-as-zero fill): the
    * complete (hour × event_type) grid over the observed time range,
    * with zero counts where no events landed. The grid is a broadcast-
    * sized dimension cross product (|hours| × |types|, derived from two
    * 1-row/tiny aggregates — never corpus-sized), left-joined to the
    * real counts: the standard dense-timeline shape dashboards need. */
  val q61: Q = (s, dir) => {
    val e = Tables.events(s, dir)
    val hours = e
      .agg(date_trunc("hour", min(col("ts"))).as("lo"),
        date_trunc("hour", max(col("ts"))).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"), expr("INTERVAL 1 HOUR")))
        .as("wstart"))
    val types = e.select("event_type").distinct()
    val counts = e
      .groupBy(date_trunc("hour", col("ts")).as("wstart"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    hours.crossJoin(broadcast(types))
      .join(counts, Seq("wstart", "event_type"), "left")
      .select(col("wstart"), col("event_type"),
        coalesce(col("n"), lit(0L)).as("n"))
      .orderBy("wstart", "event_type")
  }

  /** Q62 pivot (§2.4 — the wide-format aggregation surface): per-user
    * event counts pivoted to one column per event type. The pivot value
    * list is explicit (no discovery scan, deterministic column order);
    * the oracle is the equivalent conditional aggregation. */
  val q62: Q = (s, dir) =>
    Tables.events(s, dir)
      .groupBy("user_id")
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy("user_id")

  /** Q63 analytic window family (§2.5 breadth beside q15's row_number/
    * rank, q16's frames, q17's lag): dense_rank, ntile quartiles,
    * cume_dist (never divides by zero, unlike percent_rank on 1-row
    * partitions) and a running first_value — all over one deterministic
    * (date, key) order. */
  val q63: Q = (s, dir) => {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(s, dir)
      .filter(col("o_custkey") <= 200)
      .select(col("o_custkey"), col("o_orderkey"),
        dense_rank().over(w).cast("long").as("dr"),
        ntile(4).over(w).cast("long").as("nt"),
        round(cume_dist().over(w), 4).as("cd"),
        first(col("o_orderkey"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .as("first_ok"))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** Q64 schema-evolution merge (§2.6 / S3 topic-per-table landing):
    * two differently-shaped entity tables union by NAME with missing
    * columns null-padded (`unionByName(allowMissingColumns = true)`) —
    * the merge a multi-table capture feed needs when schemas drift —
    * then per-source presence stats. */
  val q64: Q = (s, dir) => {
    val c = Tables.customer(s, dir)
      .select(col("c_custkey").as("id"), col("c_name").as("name"),
        lit("customer").as("src"))
    val sup = Tables.supplier(s, dir)
      .select(col("s_suppkey").as("id"), col("s_name").as("name"),
        col("s_acctbal").as("bal"), lit("supplier").as("src"))
    c.unionByName(sup, allowMissingColumns = true)
      .groupBy("src")
      .agg(count(lit(1)).as("n"),
        count(col("bal")).as("n_bal"),
        round(sum(dec6(coalesce(col("bal"), lit(0.0)))).cast("double"), 4).as("sum_bal"))
      .orderBy("src")
  }

  /** Q65 right outer join (§2.3 — the last declared-but-unexercised
    * equi-join member beside inner q05, left q08, semi q09, anti q10,
    * full q43): suppliers right-joined to nation, so every nation
    * appears even with zero suppliers in the filtered slice. */
  val q65: Q = (s, dir) => {
    val sup = Tables.supplier(s, dir).filter(col("s_acctbal") > 5000)
    sup.join(Tables.nation(s, dir),
        col("s_nationkey") === col("n_nationkey"), "right_outer")
      .select(col("n_name"), col("s_suppkey"))
      .groupBy("n_name")
      .agg(count(col("s_suppkey")).as("n_suppliers"))
      .orderBy("n_name")
  }

  /** Q66 deterministic sampling + stratified quotas (north star: data
    * mixing): a 300‰ portable-hash sample of the corpus, then at most
    * 25 documents per (lang) stratum by the same deterministic
    * pseudo-random order (`Sampling`). No rand() — the oracle replays
    * the identical selection with plain integer arithmetic. */
  val q66: Q = (s, dir) => {
    val sampled = Sampling.hashSample(Tables.documents(s, dir), "doc_id", permille = 300)
    Sampling.stratifiedQuota(sampled, Seq("lang"), "doc_id", quota = 25)
      .groupBy("lang")
      .agg(count(lit(1)).as("n"),
        sum(col("n_chars")).as("sum_chars"),
        min(col("doc_id")).as("min_id"),
        max(col("doc_id")).as("max_id"))
      .orderBy("lang")
  }

  /** Q67 weighted mixture sampling (north star: the data-mixing
    * recipe): per-language sampling rates (en 500‰, de 300‰, fr 100‰,
    * default 50‰) over the same portable selector as q66 — nested,
    * reproducible samples; per-lang survivor stats. */
  val q67: Q = (s, dir) =>
    Sampling.mixtureSample(Tables.documents(s, dir), "lang", "doc_id",
        Map("en" -> 500, "de" -> 300, "fr" -> 100), defaultPermille = 50)
      .groupBy("lang")
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
      .orderBy("lang")

  /** Q68 token-budget selection (north star: fill a training budget):
    * documents in deterministic pseudo-random order until 10 000
    * characters accumulate — `Sampling.tokenBudget`'s two-phase global
    * running sum (bucketed partials + broadcast offsets; the only
    * single-partition window is bucket-count-sized). The oracle is the
    * plain `SUM() OVER (ORDER BY selector, id)` prefix — the two-phase
    * form must reproduce it exactly. */
  val q68: Q = (s, dir) =>
    Sampling.tokenBudget(Tables.documents(s, dir), "doc_id", "n_chars",
        budget = 10000L)
      .groupBy("lang")
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"),
        max(col("__cum")).as("max_cum"))
      .orderBy("lang")

  /** Q69 repetition filters (LLM pipeline): Gopher/MassiveText-style
    * per-document quality rules — top-bigram fraction (how much of the
    * text is one repeated bigram) and duplicate-bigram fraction — in
    * exact integer micro-units (numerators ≤ 10⁶·98, both engines
    * integer-divide the same operands), aggregated per language with
    * flag counts at the 6%/4% thresholds. The only shuffle carries
    * (doc, bigram) pairs through codegen'd hash aggs. */
  val q69: Q = (s, dir) => {
    TextMetrics.repetitionStats(
        Tables.documents(s, dir), "doc_id", "text", n = 2,
        keep = Seq("lang"))
      // `div`: exact integer division on longs (the `/` Column op is
      // double division; floor() of it can straddle an ulp)
      .select(col("lang"),
        expr("top_gram_count * 1000000 div gram_total").as("top_micro"),
        expr("(gram_total - gram_distinct) * 1000000 div gram_total").as("dup_micro"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n"),
        sum(when(col("top_micro") > 60000L, 1L).otherwise(0L)).as("n_top_flag"),
        sum(when(col("dup_micro") > 40000L, 1L).otherwise(0L)).as("n_dup_flag"),
        sum(col("top_micro")).as("sum_top_micro"),
        sum(col("dup_micro")).as("sum_dup_micro"))
      .orderBy("lang")
  }

  /** Q71 repetition filters via the STREAMING twin (same report as
    * q69, different engine path): `repetitionStatsInRow` computes the
    * per-doc counts as a stateless in-row column program (array_sort +
    * run-length aggregate scan — what an unbounded stream runs, no
    * explode shuffle, no state), so the official oracle gate pins the
    * streaming path's batch equivalence alongside StreamingSpec's
    * MemoryStream replay. Shares q69's oracle SQL verbatim. */
  val q71: Q = (s, dir) => {
    TextMetrics.repetitionStatsInRow(
        Tables.documents(s, dir), "doc_id", "text", n = 2,
        keep = Seq("lang"))
      .select(col("lang"),
        expr("top_gram_count * 1000000 div gram_total").as("top_micro"),
        expr("(gram_total - gram_distinct) * 1000000 div gram_total").as("dup_micro"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n"),
        sum(when(col("top_micro") > 60000L, 1L).otherwise(0L)).as("n_top_flag"),
        sum(when(col("dup_micro") > 40000L, 1L).otherwise(0L)).as("n_dup_flag"),
        sum(col("top_micro")).as("sum_top_micro"),
        sum(col("dup_micro")).as("sum_dup_micro"))
      .orderBy("lang")
  }

  /** Q70 eval-set decontamination (LLM pipeline): documents with
    * doc_id ≡ 0 (mod 97) act as the held-out benchmark; every training
    * doc sharing a distinct word-4-gram with any eval doc is flagged —
    * the standard n-gram-overlap leak check. Per-language flagged/total
    * counts. Eval gram dictionary broadcasts; nothing corpus-sized
    * shuffles. */
  val q70: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val isEval = col("doc_id") % 97 === 0
    val flagged = TextMetrics.contaminatedDocs(
        docs, "doc_id", "text", isEval, n = 4, keep = Seq("lang"))
      .groupBy("lang").agg(count(lit(1)).as("n_contaminated"))
    docs.filter(!isEval)
      .groupBy("lang").agg(count(lit(1)).as("n_train"))
      .join(flagged, Seq("lang"), "left")
      .select(col("lang"), col("n_train"),
        coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"))
      .orderBy("lang")
  }

  /** Q72 worker SMT catalog chain (§2.10 `transforms.*.type` — the
    * reference's cp-kafka-connect image ships the full
    * `org.apache.kafka.connect.transforms.*` set, reference
    * `README.md:105`): cast → hoist_field → flatten → replace_field →
    * insert_field → filter, built from the JSON connector-config twin
    * like q47. The whole chain projection-collapses to one codegen
    * stage over the scan (SmtCatalogSpec pins that), so catalog depth
    * costs nothing at 100 TB. */
  val q72: Q = (s, dir) => {
    val json =
      s"""{"name": "smt-catalog",
         |  "source": {"type": "file", "options": {"format": "parquet",
         |    "path": "$dir/customer.parquet",
         |    "schema": "c_custkey BIGINT, c_name STRING, c_acctbal DOUBLE"}},
         |  "transforms": [
         |    {"type": "cast", "options": {"spec": "c_custkey:int32"}},
         |    {"type": "hoist_field", "options": {"field": "rec"}},
         |    {"type": "flatten", "options": {"delimiter": "_"}},
         |    {"type": "replace_field", "options": {
         |      "renames": "rec_c_custkey:id, rec_c_name:name, rec_c_acctbal:bal",
         |      "include": "id,name,bal"}},
         |    {"type": "insert_field", "options": {"static.field": "src", "static.value": "crm"}},
         |    {"type": "filter", "options": {"predicate": "id <= 500"}}],
         |  "sink": {"type": "noop"}}""".stripMargin
    Pipeline.build(s, PipelineSpec.fromJson(json), streaming = false)
      .orderBy("id")
  }

  /** Q73 routing + time SMTs (same catalog seam as q72):
    * insert_field(static topic) → regex_router (anchored whole-match
    * rewrite) → timestamp_router (per-row month routing off
    * `o_orderdate`) → timestamp_converter (in-place timestamp →
    * formatted string), then a per-topic rollup. Routing SMTs are how
    * Connect users fan one stream into per-period sinks; here the
    * derived topic is just a column, so the "route" is a groupBy key
    * and the month fan-out shuffles 16-byte keys, not bodies. */
  val q73: Q = (s, dir) => {
    val json =
      s"""{"name": "smt-routing",
         |  "source": {"type": "file", "options": {"format": "parquet",
         |    "path": "$dir/orders.parquet",
         |    "schema": "o_orderkey BIGINT, o_orderdate TIMESTAMP"}},
         |  "transforms": [
         |    {"type": "insert_field", "options": {"static.field": "topic", "static.value": "orders"}},
         |    {"type": "regex_router", "options": {"regex": "(.*)", "replacement": "$$1-v2"}},
         |    {"type": "timestamp_router", "options": {"timestamp.field": "o_orderdate", "format": "yyyyMM"}},
         |    {"type": "timestamp_converter", "options": {"field": "o_orderdate",
         |      "target.type": "string", "format": "yyyy-MM-dd"}}],
         |  "sink": {"type": "noop"}}""".stripMargin
    Pipeline.build(s, PipelineSpec.fromJson(json), streaming = false)
      .groupBy("topic")
      .agg(count(lit(1)).as("n"),
        min(col("o_orderdate")).as("first_day"),
        max(col("o_orderdate")).as("last_day"))
      .orderBy("topic")
  }

  /** Q74 corpus n-gram frequency top-k (LLM pipeline: the corpus
    * statistic behind tokenizer training and stopword/boilerplate
    * inventories): explode word bigrams, count corpus-wide, keep the 50
    * most frequent with a total (count desc, gram asc) order. The
    * 100 TB shape is the point: partial aggregation combines map-side
    * so the exchange carries (gram, count) — bounded by the vocabulary,
    * not the token count — and the top-k is TakeOrdered (per-partition
    * heaps + driver merge of 50-row sets), never a total sort. */
  val q74: Q = (s, dir) => {
    Tables.fanOut(Tables.documents(s, dir))
      .select(explode(TextMetrics.allWordShingles(col("text"), 2)).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("gram"))
      .limit(50)
  }

  /** Q75 k-means refinement of the IVF coarse quantizer (the training
    * path q46's index presumes): 2 Lloyd rounds from the deterministic
    * stride sample, integer-exact by re-quantizing every mean — the
    * oracle replays both rounds bit-for-bit. Output per centroid: final
    * member count plus two integer checksums of the refined vector
    * (self-dot and component sum), which pin all 64 components without
    * comparing arrays. Fixed-stride FIXTURE PIN — q282 gates the same
    * pipeline under the scale-correct √N stride. */
  val q75: Q = (s, dir) => {
    val cents = Similarity.kmeansCentroids(
      Tables.embeddings(s, dir).withColumn("e", col("embedding").cast("array<double>")),
      "vec_id", "e", centroidStride = 37L, iters = 2, dim = 64)
    cents.select(col("__cid").as("cid"), col("__n").as("n"),
        Similarity.dot(col("__cv"), col("__cv")).cast("long").as("mu_dot"),
        aggregate(col("__cv"), lit(0.0d), (a, x) => a + x).cast("long").as("mu_sum"))
      .orderBy("cid")
  }

  /** Q76 IVF train-then-search (the full index pipeline: q75's trained
    * quantizer feeding q46's search shape): 2 Lloyd rounds refine the
    * stride sample, then the nprobe-cell candidate search + exact
    * cosine rescore runs against the REFINED cells. Same contract as
    * q46 — approximate by construction, exact over the deterministic
    * candidate set, and the oracle replays training AND search.
    * Fixed-stride FIXTURE PIN — q283 is the √N-stride gate. */
  val q76: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
      .withColumn("e", col("embedding").cast("array<double>"))
    val trained = Similarity.kmeansCentroids(
        emb, "vec_id", "e", centroidStride = 37L, iters = 2, dim = 64)
      .select(col("__cid"), col("__cv"))
    Similarity.ivfTopKWith(emb, "vec_id", "e", trained,
      targetId = 3L, k = 10, nprobe = 8)
  }

  /** Q77 corpus-frequency quality scoring (north star: the
    * corpus-statistics filter beside q69's within-doc rules): per doc,
    * how common are its bigrams corpus-wide — then per language, count
    * the boilerplate tail (mean corpus frequency > 30, compared
    * exactly as freq_sum > 30·n_grams) and the docs carrying a hapax
    * bigram (freq_min = 1). Integer counts throughout. */
  val q77: Q = (s, dir) => {
    TextMetrics.corpusFreqStats(
        Tables.documents(s, dir), "doc_id", "text", n = 2, keep = Seq("lang"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n"),
        sum(when(col("freq_sum") > lit(30L) * col("n_grams"), 1L)
          .otherwise(0L)).as("n_boiler"),
        sum(when(col("freq_min") === 1L, 1L).otherwise(0L)).as("n_hapax"),
        sum(col("freq_sum")).as("sum_freq"),
        sum(col("n_grams")).as("sum_grams"))
      .orderBy("lang")
  }

  /** Q78 batch IVF-pruned kNN join (q54's exact batch join at the
    * 100 TB shape): the 5-probe batch searches only its nprobe nearest
    * stride cells, then exact-rescored and ranked like q54. The oracle
    * replays assignment, per-probe cell ranking and the rescore.
    * Fixed-stride FIXTURE PIN — q284 is the √N-stride gate. */
  val q78: Q = (s, dir) => {
    val e = Tables.embeddings(s, dir)
      .withColumn("e", col("embedding").cast("array<double>"))
    Similarity.ivfKnnJoin(e, e.filter(col("vec_id") < 5), "vec_id", "e",
        centroidStride = 37L, k = 3, nprobe = 8)
      .withColumn("rank", col("rank").cast("long"))
      .orderBy("probe_id", "rank")
  }

  /** Q79 bloom-pruned semi-join (explicit runtime filter): lineitems of
    * high-value orders. The ~10%-selective order key set folds into a
    * Bloom sketch that prunes the lineitem scan inside codegen before
    * the exact semi-join sees it — at 100 TB the semi-join exchange
    * carries survivors only, for a few hundred KB of broadcast sketch.
    * The residual exact join makes the Bloom's false positives
    * unobservable, so the oracle is the plain IN-subquery. */
  val q79: Q = (s, dir) => {
    val hi = Tables.orders(s, dir)
      .filter(col("o_totalprice") > 450000.0)
      .select("o_orderkey")
    Relational.bloomSemiJoin(
        Tables.lineitem(s, dir), "l_orderkey", hi, "o_orderkey",
        expectedKeys = 1L << 16)
      .groupBy(col("l_returnflag").as("rf"))
      .agg(
        count(lit(1)).as("n"),
        round(sum(dec6(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
          .cast("double"), 4).as("revenue"))
      .orderBy("rf")
  }

  /** Q80 deterministic training-order shuffle: the seeded global
    * permutation a training run uses for epoch ordering. The permuted
    * position is exposed as the sort key so the oracle can replay the
    * exact order; one range-partitioned total sort at any scale. */
  val q80: Q = (s, dir) => {
    Sampling.seededShuffle(Tables.documents(s, dir), "doc_id", seed = 7L)
      .select(col("doc_id"),
        Sampling.shuffleKey(col("doc_id"), 7L).as("shuffle_key"))
      .limit(2000)
  }

  /** Q81 sequence packing (north star: the concat-then-chunk layout a
    * pretraining loader reads): the corpus as one seeded deterministic
    * token stream, cut into 2048-char training sequences; every doc is
    * stamped with the (sequence, offset) where it begins. Runs on
    * `Sampling.packSequences`' two-phase exact prefix sum — the oracle
    * is the naive global `SUM() OVER (ORDER BY ...)` the two-phase form
    * must reproduce exactly. Packing-efficiency report per language. */
  val q81: Q = (s, dir) =>
    Sampling.packSequences(Tables.documents(s, dir), "doc_id", "n_chars",
        seqLen = 2048L, seed = 7L)
      .groupBy("lang")
      .agg(count(lit(1)).as("n"),
        countDistinct(col("seq_id")).as("n_seqs"),
        sum(col("seq_off")).as("sum_off"),
        max(col("seq_id")).as("max_seq"))
      .orderBy("lang")

  /** Q82 epoch-weighted mixture (north star: the multi-epoch data
    * recipe): src0 at 2.5 epochs, src1 at 0.7, src2 at 1.2, src3 at
    * exactly 1, everything else dropped — whole copies plus a
    * deterministic fractional copy from the same portable selector
    * family as q66/q67, so the recipe is exactly reproducible and
    * nested. Narrow explode, no shuffle; per-source replication
    * report. */
  val q82: Q = (s, dir) =>
    Sampling.mixtureUpsample(Tables.documents(s, dir), "source", "doc_id",
        Map("src0" -> 2500, "src1" -> 700, "src2" -> 1200, "src3" -> 1000))
      .groupBy("source")
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("doc_id")).as("n_docs"),
        sum(col("copy")).as("sum_copy"),
        max(col("copy")).as("max_copy"))
      .orderBy("source")

  /** Q83 chunk-level (sub-document) dedup — the C4/RefinedWeb
    * boilerplate-removal step exact doc dedup misses: the corpus cut
    * into non-overlapping 8-word blocks, each block surviving only in
    * its minimum-id document, docs rebuilt from surviving blocks. The
    * shuffled stream is (id, idx, 128-bit hash); the oracle replays
    * the policy on the block text itself (a divergence would need an
    * xxhash64 double collision). Per-lang boilerplate report.
    *
    * Runs the COLOCATED variant: the corpus stages once as a table
    * bucketed on doc_id, so the rebuild join's text side never enters
    * an exchange even when the thin side outgrows the broadcast
    * threshold (PlanQualitySpec's no-broadcast audit pins this). */
  val q83: Q = (s, dir) =>
    Dedup.chunkDedupColocated(Tables.documents(s, dir), "doc_id", "text",
        chunkWords = 8, stagingTable = "graft_q83_docs_staged",
        buckets = s.conf.get("spark.sql.shuffle.partitions").toInt)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_chunks_removed") > 0L, 1L).otherwise(0L)).as("n_docs_touched"),
        sum(col("n_chunks_removed")).as("n_chunks_removed"),
        sum(length(col("clean_text"))).as("sum_clean_chars"))
      .orderBy("lang")

  /** Q84 hashed linear quality classifier (north star: the
    * fastText/DSIR-style quality gate): every token feature-hashes
    * (portable poly-31, the q40 recurrence) into one of 64 buckets
    * whose integer weights are pure arithmetic — the oracle replays
    * the exact model. Per-lang score report + keep-rate at score>0. */
  val q84: Q = (s, dir) =>
    TextMetrics.hashedLinearScore(Tables.documents(s, dir), "doc_id", "text",
        dims = 64, keep = Seq("lang"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("score") > 0L, 1L).otherwise(0L)).as("n_kept"),
        sum(col("score")).as("sum_score"),
        sum(col("n_toks")).as("sum_toks"))
      .orderBy("lang")

  /** Q85 context-length splitting (north star: chunking docs longer
    * than the model context): overlapping 32-word windows starting
    * every 16 words — the sliding-window chunking every tokenizer
    * pipeline runs before packing. Pure narrow explode in the scan
    * projection; per-lang piece report. */
  val q85: Q = (s, dir) =>
    TextMetrics.splitLongDocs(Tables.documents(s, dir), "doc_id", "text",
        maxWords = 32, strideWords = 16)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_pieces"),
        countDistinct(col("doc_id")).as("n_docs"),
        sum(col("piece_words")).as("sum_piece_words"),
        max(col("piece_idx")).as("max_piece_idx"),
        sum(length(col("piece"))).as("sum_piece_chars"))
      .orderBy("lang")

  /** Q86 SCD Type-2 materialization (A1's warehouse twin): the events
    * changelog keyed by user_id becomes versioned dimension rows with
    * half-open validity intervals — valid_from the row's own ts,
    * valid_to the key's next change, null marking the current version.
    * One key shuffle + per-key sort, no self-join. Per-event-type
    * interval report in exact epoch-millis. */
  val q86: Q = (s, dir) =>
    Relational.scd2(Tables.events(s, dir), keys = Seq("user_id"),
        tsCol = "ts", tieBreak = Seq("event_id"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("is_current"), 1L).otherwise(0L)).as("n_current"),
        // events.ts is NTZ; the UTC session pin makes the cast exact
        sum(coalesce(unix_millis(col("valid_to").cast("timestamp")) -
          unix_millis(col("valid_from").cast("timestamp")),
          lit(0L))).as("sum_dur_ms"))
      .orderBy("event_type")

  /** Q87 incremental cross-corpus dedup (the daily-refresh shape): the
    * corpus splits into "history" (doc_id ≡ 0 mod 31 — a thin slice, so
    * the split stays non-degenerate even under the sweep's ×10
    * id-shifted replication) and a "new batch" (the rest); batch docs
    * survive only as their text's batch-canonical row AND where the
    * text is absent from history — history consulted only through its
    * 16 B/doc fingerprint table, never its text. Per-lang survivors. */
  val q87: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val hist = docs.filter(col("doc_id") % 31 === 0)
    val batch = docs.filter(col("doc_id") % 31 =!= 0)
    val surv = Dedup.survivorsAgainstHistory(batch, "doc_id", "text",
      Dedup.fingerprints(hist, "text"))
    batch.join(surv, "doc_id")
      .groupBy("lang")
      .agg(count(lit(1)).as("n"))
      .orderBy("lang")
  }

  /** Q88 one-pass numeric profiling (the ANALYZE report): count / nulls
    * / exact ndv / min / max / decimal-exact sum+mean for four lineitem
    * measures, one scan, one |cols|-key aggregation. */
  val q88: Q = (s, dir) =>
    Profile.numeric(Tables.lineitem(s, dir),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
      .orderBy("col_name")

  /** Q89 quantile-threshold quality filter (the post-classifier gate):
    * docs scored by the hashed linear classifier (q84's model), then the
    * bottom half per lang — below the exact per-lang median — dropped.
    * Broadcast one-row-per-lang thresholds; survivors reported. */
  val q89: Q = (s, dir) => {
    val scored = TextMetrics.hashedLinearScore(Tables.documents(s, dir),
      "doc_id", "text", dims = 64, keep = Seq("lang"))
    Sampling.quantileThresholdFilter(scored, Seq("lang"), "score", 0.5)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_kept"),
        sum(col("score")).as("sum_kept_score"))
      .orderBy("lang")
  }

  /** Q90 PII scan (the measurement half of the `redact` SMT, same
    * pattern classes): deterministic contact-shaped text is synthesized
    * per customer (phone unless ≡0 mod 3, email at ≡0 mod 5, dotted-quad
    * at ≡0 mod 7 — both engines build the identical string), then
    * match counts per class and a flagged-docs count roll up per market
    * segment. Scan-local regexp projections; aggregate after. */
  val q90: Q = (s, dir) => {
    val txt = concat(
      col("c_name"),
      when(col("c_custkey") % 3 =!= 0, concat(lit(" call +1 ("),
        lpad((col("c_custkey") % 900 + 100).cast("string"), 3, "0"),
        lit(") 555-"),
        lpad((col("c_custkey") % 10000).cast("string"), 4, "0")))
        .otherwise(lit("")),
      when(col("c_custkey") % 5 === 0, concat(lit(" mail "),
        lower(regexp_replace(col("c_name"), "[^A-Za-z0-9]", "")),
        lit("@example.com"))).otherwise(lit("")),
      when(col("c_custkey") % 7 === 0, concat(lit(" from 10.0."),
        (col("c_custkey") % 256).cast("string"), lit(".1")))
        .otherwise(lit("")))
    TextMetrics.piiScan(
        Tables.customer(s, dir).withColumn("__txt", txt), "__txt",
        keep = Seq("c_mktsegment"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_email")).as("n_email"),
        sum(col("n_ipv4")).as("n_ipv4"),
        sum(col("n_phone")).as("n_phone"),
        sum(when(col("n_email") + col("n_ipv4") + col("n_phone") > 0, 1L)
          .otherwise(0L)).as("n_flagged"))
      .orderBy("c_mktsegment")
  }

  /** Q91 exact equi-width histogram (ANALYZE's other half): 16 equal
    * spans over lineitem gross price — global (min,max) broadcast into
    * the bucketing projection, exact per-bucket counts, no data-sized
    * shuffle. */
  val q91: Q = (s, dir) =>
    Profile.histogram(
        Tables.lineitem(s, dir)
          .select((col("l_extendedprice") * (lit(1.0) + col("l_tax")))
            .as("gross")),
        "gross", buckets = 16)
      .select(col("bucket"), round(col("lo"), 4).as("lo"),
        round(col("hi"), 4).as("hi"), col("cnt"))
      .orderBy("bucket")

  /** Q92 fuzzy eval-set decontamination (the near-dup complement of
    * q70's verbatim n-gram leak check — Gopher/Llama report leakage as
    * near-duplicate overlap, not just exact 13-gram hits): eval split
    * `doc_id % 7 = 0`, train = rest; one MinHash/LSH pass over the
    * whole corpus generates only CROSS-split candidates, the exact
    * Jaccard residual (≥ 0.8 on 3-word shingles) makes each reported
    * leak exact. Output is the leak pair list itself — the actionable
    * artifact (which train docs to drop). Oracle is the brute-force
    * cross-pairs formulation, same as q30's. */
  val q92: Q = (s, dir) =>
    Dedup.crossNearDupPairs(Tables.documents(s, dir), "doc_id", "text",
        id => id % 7 === 0, threshold = 0.8, shingleWidth = 3,
        bands = 16, rowsPerBand = 3)
      .select(col("d1").as("eval_id"), col("d2").as("train_id"),
        round(col("jaccard"), 4).as("jaccard"))
      .orderBy("eval_id", "train_id")

  /** Q93 semantic eval-set decontamination (the embedding-space
    * complement of q92 — catches leaks whose surface form changed but
    * whose meaning didn't): eval split `vec_id % 7 = 0` vs train, one
    * sign-LSH coding pass (radius 2 of 8 bits, exact pigeonhole) over
    * the whole embeddings table, cross-split candidates only, exact
    * cosine ≥ 0.3 residual. Same deterministic inlined hyperplanes as
    * q37, so the oracle replays the blocking exactly. */
  val q93: Q = (s, dir) =>
    Dedup.crossEmbeddingNearDupPairs(
        Tables.embeddings(s, dir).withColumn("e", col("embedding").cast("array<double>")),
        "vec_id", "e", planes = lshPlanes, codeRadius = 2, threshold = 0.3,
        isLeftId = id => id % 7 === 0)
      .select(col("d1").as("eval_id"), col("d2").as("train_id"),
        round(col("cosine"), 4).as("cosine"))
      .orderBy("eval_id", "train_id")

  /** Q94 leakage-free train/holdout split (the step after q55: clusters
    * exist so splits can RESPECT them): every doc draws its split from
    * its duplicate-cluster representative via the portable selector
    * hash — near-dup copies can never straddle the boundary, which is
    * the whole point of deduplicating before splitting. 900‰ train.
    * Only (doc_id, lang) travels through the cluster join; the oracle
    * replays q55's transitive closure + the same draw arithmetic. */
  val q94: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val clusters = Dedup.dupClusters(
        Dedup.nearDupPairs(docs, "doc_id", "text",
          threshold = 0.8, shingleWidth = 3, bands = 16, rowsPerBand = 3),
        "d1", "d2")
      .select(col("id").as("__member"), col("cluster_id").as("__label"))
    Sampling.clusterAwareSplit(docs.select("doc_id", "lang"), "doc_id",
        clusters, "__member", "__label", trainPermille = 900)
      .groupBy("lang", "split")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("lang", "split")
  }

  /** Q95 end-to-end corpus preparation (the composition gate for the
    * whole training-data family, as q60 is for dedup alone): exact
    * dedup → ONE near-dup pair computation feeding BOTH the eval-leak
    * filter (q92's cross-split restriction, applied as a plain filter
    * on the pair list) and duplicate clustering → drop the eval split
    * and leaked train docs → cluster-aware leakage-free split (q94) →
    * per (lang, split) corpus stats. Dedup-first composition makes the
    * result replica-invariant: at sf1.0 only copy-0 survives exact
    * dedup, so the output EQUALS the sf0.1 output (the derivation the
    * sweep uses). */
  val q95: Q = (s, dir) => {
    val d = Tables.documents(s, dir)
    val surv = d.join(Dedup.exactSurvivors(d, "doc_id", "text"), "doc_id")
    // two consumers (leak filter + clustering): materialize once
    val pairs = Share.once(Dedup.nearDupPairs(surv, "doc_id", "text",
        threshold = 0.8, shingleWidth = 3, bands = 16, rowsPerBand = 3),
      "q95.pairs")
    val leaked = pairs
      .filter(col("d1") % 7 === 0 && col("d2") % 7 =!= 0)
      .select(col("d2").as("doc_id"))
      .union(pairs
        .filter(col("d2") % 7 === 0 && col("d1") % 7 =!= 0)
        .select(col("d1").as("doc_id")))
      .distinct()
    val clusters = Dedup.dupClusters(pairs, "d1", "d2")
      .select(col("id").as("__member"), col("cluster_id").as("__label"))
    val clean = surv.filter(col("doc_id") % 7 =!= 0)
      .join(leaked, Seq("doc_id"), "left_anti")
      .select("doc_id", "lang", "n_chars")
    Sampling.clusterAwareSplit(clean, "doc_id", clusters,
        "__member", "__label", trainPermille = 900)
      .groupBy("lang", "split")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .orderBy("lang", "split")
  }

  /** Q96 corpus catalog (the string third of ANALYZE, beside q88's
    * numeric profile and q91's histogram): per string column of the
    * documents table — row/null counts, exact distinct count, exact
    * length stats — in one scan over a hash-compressed value relation
    * (~28 B/cell on the wire regardless of text size). The oracle
    * counts distinct VALUES; the engine counts distinct 128-bit
    * hashes — equal under the exact-dedup collision contract. */
  val q96: Q = (s, dir) =>
    Profile.strings(Tables.documents(s, dir), Seq("text", "lang", "source"))
      .orderBy("col_name")

  /** Q97 tokenizer vocabulary coverage (the report a tokenizer-prep
    * step runs before committing to a vocab): top-1000 corpus tokens
    * by count (deterministic tie-break on the token) form the
    * vocabulary; per language, exact in/out-of-vocabulary token counts
    * and the OOV rate. The vocab is vocabulary-bounded and broadcast;
    * the token stream joins it scan-side, so nothing corpus-sized
    * shuffles beyond the (lang) rollup. */
  val q97: Q = (s, dir) => {
    val tok = Tables.documents(s, dir)
      .select(col("lang"), explode(toks(col("text"))).as("token"))
    val vocab = tok.groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token")).limit(1000)
      .select(col("token"), lit(1).as("__v"))
    tok.join(broadcast(vocab), Seq("token"), "left")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("__v").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_permille",
        round(col("n_oov") * lit(1000.0) / col("n_tokens"), 6))
      .orderBy("lang")
  }

  /** Q98 duplicate-provenance matrix (which sources copy which): every
    * near-dup pair mapped to its (source, source) cell, direction
    * normalized lexicographically so the matrix is upper-triangular.
    * The crawl-ops view of the q30 pair graph — a high off-diagonal
    * cell means two feeds mirror each other and one can be dropped at
    * ingest. Pairs travel as bare ids; sources join on the id after
    * pair dedup. */
  val q98: Q = (s, dir) => {
    val d = Tables.documents(s, dir)
    val pairs = Dedup.nearDupPairs(d, "doc_id", "text",
      threshold = 0.8, shingleWidth = 3, bands = 16, rowsPerBand = 3)
    val src = d.select(col("doc_id"), col("source"))
    pairs
      .join(src.alias("s1"), col("d1") === col("s1.doc_id"))
      .join(src.alias("s2"), col("d2") === col("s2.doc_id"))
      .select(least(col("s1.source"), col("s2.source")).as("src_a"),
        greatest(col("s1.source"), col("s2.source")).as("src_b"))
      .groupBy("src_a", "src_b")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("src_a", "src_b")
  }

  /** Q99 CCNet-style LM quality scoring (north star: perplexity
    * filtering, Wenzek et al. 2020): an add-one-smoothed bigram LM
    * trained on the corpus scores every document's negative
    * log-likelihood; high cross-entropy = unusual word sequences =
    * filter candidate. Per-lang report: corpus cross-entropy and how
    * many docs exceed the flag threshold (compared in exact decimal,
    * nll > thr · n, not via a float division). */
  val q99: Q = (s, dir) =>
    CorpusLM.bigramNll(Tables.documents(s, dir), "doc_id", "text",
        keep = Seq("lang"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_bigrams")).as("n_bigrams"),
        round(sum(col("nll")).cast("double") / sum(col("n_bigrams")), 4)
          .as("cross_entropy"),
        sum(when(col("nll") > lit(BigDecimal("3.45")) * col("n_bigrams"), 1L)
          .otherwise(0L)).as("n_flagged"))
      .orderBy("lang")

  /** Q100 DSIR importance weighting (north star: Data Selection via
    * Importance Resampling, Xie et al. 2023): hashed-unigram bucket
    * distributions for the target slice (lang='en') vs the raw corpus
    * give every document a log importance weight; resampling by weight
    * shifts the corpus toward the target. Per-lang report — the 'en'
    * rows should dominate n_targetlike (logw > 0 in exact decimal). */
  val q100: Q = (s, dir) =>
    CorpusLM.dsirWeights(Tables.documents(s, dir), "doc_id", "text",
        isTarget = col("lang") === "en", dims = 64, keep = Seq("lang"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("n_toks"),
        round(sum(col("logw")).cast("double") / count(lit(1)), 4).as("avg_logw"),
        sum(when(col("logw") > lit(BigDecimal(0)), 1L).otherwise(0L))
          .as("n_targetlike"))
      .orderBy("lang")

  /** Q101 per-source distribution drift (north star: crawl-ops corpus
    * monitoring): unigram KL divergence of each source's token mix
    * from the corpus marginal — the alarm that fires when one feed
    * starts emitting boilerplate. Vocab-bounded aggregations only. */
  val q101: Q = (s, dir) =>
    CorpusLM.sliceDivergence(Tables.documents(s, dir), "source", "text")
      .orderBy("source")

  /** Q102 CCNet perplexity bucketing (the composition gate for the
    * statistical-quality family, as q60 is for dedup): LM-score every
    * doc (q99's model), cut each language's score distribution at
    * exact terciles (q89's quantile machinery), and report per
    * (lang, head/middle/tail) bucket with a deterministic-hash
    * subsample count — CCNet's head/middle/tail split ahead of
    * selective sampling. Scores stay INTEGER (floor'd micro-nats per
    * bigram) so every comparison is exact; the only doubles are the
    * tercile cuts, interpolated identically by both engines over
    * exact integers. */
  val q102: Q = (s, dir) => {
    // (measured: materializing this frame once does NOT help — AQE's
    // exchange reuse already deduplicates the scored subtree between
    // the quantile program and the bucket join)
    val scored = CorpusLM.bigramNll(Tables.documents(s, dir), "doc_id", "text",
        keep = Seq("lang"))
      .withColumn("__ceu", expr("CAST(nll * 1000000 AS BIGINT) div n_bigrams"))
    val cuts = Relational.exactQuantiles(scored, Seq("lang"), "__ceu",
      Seq("__c33" -> 1.0 / 3, "__c67" -> 2.0 / 3))
    scored.join(broadcast(cuts), Seq("lang"))
      .withColumn("bucket",
        when(col("__ceu") <= col("__c33"), "head")
          .when(col("__ceu") <= col("__c67"), "middle")
          .otherwise("tail"))
      .groupBy("lang", "bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_bigrams")).as("n_bigrams"),
        sum(when((col("doc_id") * 2654435761L) % 1000000007L < 500000003L, 1L)
          .otherwise(0L)).as("n_sampled"))
      .orderBy("lang", "bucket")
  }

  /** Q103 behavioral time-series similarity (the papers-list EDBT'19
    * shape): every user's events reduce to a dense 24-dim hour-of-day
    * activity vector (decimal-exact per-cell sums, gap-filled), and the
    * similarity family searches that space unchanged — top-10 users
    * whose daily rhythm matches user 1, by exact cosine through the
    * codegen'd DotProduct. Zero-activity profiles are excluded (cosine
    * undefined at norm 0). One (user, hour) aggregation, a per-user
    * collapse, and a 1-row broadcast — no history explode, no window. */
  val q103: Q = (s, dir) => {
    val prof = Similarity.activityProfiles(
        Tables.events(s, dir), "user_id", "ts", "value")
      .filter(graft.functions.DotProduct(col("__vec"), col("__vec")) > 0.0d)
    Similarity.cosineTopK(prof, "user_id", "__vec", targetId = 1L, k = 10)
  }

  /** Q104 behavioral segmentation (q103's profiles through q75's
    * trainer): distributed integer-exact k-means over the 24-dim
    * hour-of-day activity vectors — the user-segmentation step every
    * personalization pipeline runs on behavioral embeddings. Profile
    * values quantize losslessly (×1024 is an exponent shift; the cell
    * sums are decimal-exact), so both Lloyd rounds replay bit-for-bit
    * in the oracle exactly as q75's do. Per-cluster size + integer
    * centroid invariants reported. */
  val q104: Q = (s, dir) => {
    val prof = Similarity.activityProfiles(
      Tables.events(s, dir), "user_id", "ts", "value")
    val cents = Similarity.kmeansCentroids(prof, "user_id", "__vec",
      centroidStride = 37L, iters = 2, dim = 24)
    cents.select(col("__cid").as("cid"), col("__n").as("n"),
        Similarity.dot(col("__cv"), col("__cv")).cast("long").as("mu_dot"),
        aggregate(col("__cv"), lit(0.0d), (a, x) => a + x).cast("long").as("mu_sum"))
      .orderBy("cid")
  }

  /** BPE round 0: each corpus word with its count `n` and its symbol
    * string `s` (characters space-joined and space-padded). Round 1 reads
    * it TWICE (pair count + merge fold), so it is shared and the corpus
    * tokenize+count runs once (r17, §2); later rounds read their
    * predecessor's share. */
  private def bpeInit(docs: DataFrame): DataFrame = Share.once(docs
      .select(explode(toks(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))
      .withColumn("s", concat(lit(" "),
        array_join(filter(split(col("word"), ""), c => c =!= ""), " "),
        lit(" "))), "bpe.init")

  /** Frequency-weighted adjacent symbol pairs of a BPE round's words:
    * (pair = "l r", cnt). */
  private def bpePairCounts(cur: DataFrame): DataFrame = {
    val sy = col("__sy")
    val pairs = when(size(sy) >= 2,
      transform(sequence(lit(1), size(sy) - 1),
        i => concat(element_at(sy, i), lit(" "), element_at(sy, i + 1))))
      .otherwise(array().cast("array<string>"))
    cur.select(col("n"),
        filter(split(trim(col("s")), " "), x => x =!= "").as("__sy"))
      .select(col("n"), explode(pairs).as("pair"))
      .groupBy("pair").agg(sum(col("n")).as("cnt"))
  }

  /** Q105 BPE merge training (north star: the tokenizer itself): the
    * corpus' word-frequency table (vocabulary-bounded — the corpus is
    * scanned ONCE) trains 6 byte-pair-encoding merges. Each round
    * counts frequency-weighted adjacent symbol pairs, picks the argmax
    * (count desc, pair asc — deterministic), and applies the merge to
    * every word's symbol string via input-forward non-overlapping
    * `replace` (both engines share that semantic; an immediately
    * repeated pair merges its odd occurrences per pass — documented
    * deviation from canonical BPE's same-pass re-scan). The q75
    * pattern: fixed data-dependent rounds, each replayed bit-for-bit
    * by the oracle; rounds chain through 1-row merge broadcasts.
    * Output: (merge_round, pair, cnt) — the trained merge table. */
  /** The shared BPE training fold: returns (merge table, final merged
    * word frame (word, n, s)) after `rounds` rounds. `private[graft]`
    * so the streaming twin's spec can train its reference merges. */
  private[graft] def bpeTrain(docs: DataFrame, rounds: Int): (DataFrame, DataFrame) = {
    val (fin, bests) = (1 to rounds).foldLeft((bpeInit(docs), List.empty[DataFrame])) {
      case ((cur, acc), k) =>
        val best = bpePairCounts(cur)
          .orderBy(col("cnt").desc, col("pair")).limit(1)
          .select(lit(k.toLong).as("merge_round"), col("pair"), col("cnt"))
        // the share keeps each round's plan flat (the kmeans pattern);
        // the frame is vocabulary-sized
        val next = Share.once(cur
          .crossJoin(broadcast(best.select(col("pair").as("__bp"))))
          .withColumn("s",
            expr("replace(s, ' ' || __bp || ' ', ' ' || replace(__bp, ' ', '') || ' ')"))
          .drop("__bp"), "bpeTrain.next")
        (next, best :: acc)
    }
    (bests.reverse.reduce(_ unionByName _), fin)
  }

  val q105: Q = (s, dir) =>
    bpeTrain(Tables.documents(s, dir), 6)._1.orderBy("merge_round")

  /** Batched BPE training — [[bpeTrain]] generalized so merge count
    * scales past toy sizes without one driver-side job per merge: each
    * round takes the top-`batchK` candidate pairs and keeps every
    * candidate that conflicts with NO higher-ranked candidate (an
    * order-free dominance rule, so both engines derive the identical
    * set with no sequential scan). A conflict is anything that would
    * make simultaneous application ambiguous: chaining (one pair's
    * right symbol is another's left), a pair consuming another's
    * merged output symbol, or two pairs producing the same merged
    * symbol. The survivors are pairwise non-interacting, so folding
    * their `replace`s over the round-start string IS simultaneous
    * application — one Spark job merges the whole batch, and rounds
    * stay ≪ merges (16 rounds train ~80 merges at sf0.01; a 30k-merge
    * vocabulary needs ~thousands of rounds, not 30k driver round
    * trips). Per-round chaining still goes through the q75-style
    * 1-row/array broadcast — never a driver collect. */
  private[graft] def bpeTrainBatched(docs: DataFrame, rounds: Int,
                                     batchK: Int): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val (fin, batches) = (1 to rounds).foldLeft((bpeInit(docs), List.empty[DataFrame])) {
      case ((cur, acc), k) =>
        // candidate pool: top-batchK pairs in the same total order the
        // single-merge trainer uses (count desc, pair asc)
        val cand = bpePairCounts(cur)
          .orderBy(col("cnt").desc, col("pair")).limit(batchK)
          .withColumn("rank",
            row_number().over(Window.orderBy(col("cnt").desc, col("pair"))))
          .withColumn("__l", substring_index(col("pair"), " ", 1))
          .withColumn("__r", substring_index(col("pair"), " ", -1))
          .withColumn("__m", expr("replace(pair, ' ', '')"))
        val hi = cand.select(col("rank").as("__hrank"), col("__l").as("__hl"),
          col("__r").as("__hr"), col("__m").as("__hm"))
        val selected = Share.once(cand.join(broadcast(hi),
            col("__hrank") < col("rank") && (
              col("__hr") === col("__l") || col("__hl") === col("__r") ||
              col("__hm") === col("__l") || col("__hm") === col("__r") ||
              col("__m") === col("__hl") || col("__m") === col("__hr") ||
              col("__m") === col("__hm")),
            "left_anti"),
          "bpeTrainBatched.selected") // two consumers: merge table + fold
        // the whole batch ships as ONE rank-ordered array in a 1-row
        // broadcast; the fold applies each replace to the round-start
        // string — order irrelevant by construction, kept for replay
        val selRow = selected
          .agg(array_sort(collect_list(struct(col("rank"), col("pair"))))
            .as("__s1"))
          .select(transform(col("__s1"), p => p.getField("pair")).as("__sel"))
        val next = Share.once(cur.crossJoin(broadcast(selRow))
          .withColumn("s",
            expr("aggregate(__sel, s, (acc, x) -> " +
              "replace(acc, ' ' || x || ' ', ' ' || replace(x, ' ', '') || ' '))"))
          .drop("__sel"), "bpeTrainBatched.next")
        val batch = selected.select(lit(k.toLong).as("merge_round"),
          col("rank").cast("long").as("rank"), col("pair"), col("cnt"))
        (next, batch :: acc)
    }
    (batches.reverse.reduce(_ unionByName _), fin)
  }

  /** Q107 batched BPE training (q105 at vocabulary scale): 16 rounds
    * train ~80 merges — each round merges every top-24 candidate that
    * no higher-ranked candidate interacts with, applied simultaneously
    * in one pass. The oracle replays all 16 rounds including the
    * dominance filter, so the merge table (round, candidate rank,
    * pair, count) must match row for row. */
  val q107: Q = (s, dir) =>
    bpeTrainBatched(Tables.documents(s, dir), rounds = 16, batchK = 24)._1
      .orderBy("merge_round", "rank")

  /** Q108 REAL image decode (north star, closing the r8 stub): each
    * document's text bytes become the gray pixels of an actual 24-bit
    * BMP FILE (`Bmp.encodeGray` — magic, little-endian headers,
    * bottom-up rows, stride padding; dimensions vary per doc so the
    * row-padding layout varies), and `Multimodal.decodeBmpFeatures`
    * decodes the files back through the partition-batched seam:
    * dimensions from the PARSED HEADER, histogram/mean from decoded
    * pixel luma. The oracle replays the stats from the raw text via
    * codepoint arithmetic — it can only match if header parse, row
    * re-flip, padding strip, and the BT.601 luma identity (gray
    * round-trips bit-exact) are all correct. Decode is
    * partition-preserving (no shuffle); only thin per-asset feature
    * rows enter the lang join. */
  /** Shared by q108/q109: each document rendered as an actual BMP file
    * — first w×h text bytes as gray pixels, space-padded (ASCII corpus:
    * byte == codepoint, pinned by the corpus invariant); dimensions
    * vary per doc so the row-padding layout varies. */
  private def textBmpAssets(d: DataFrame):
      org.apache.spark.sql.Dataset[graft.multimodal.Asset] = {
    import graft.multimodal.{Asset, Bmp}
    val enc = org.apache.spark.sql.Encoders.product[Asset]
    d.select(col("doc_id").as("asset_id"),
        lit("image/bmp").as("media_type"),
        col("text").cast("binary").as("bytes"),
        (lit(8) + pmod(col("doc_id"), lit(9))).cast("int").as("width"),
        (lit(5) + pmod(col("doc_id"), lit(7))).cast("int").as("height"))
      .as[Asset](enc)
      .mapPartitions { it =>
        it.map { a =>
          val n = a.width * a.height
          val gray = Array.tabulate(n)(i =>
            if (i < a.bytes.length) a.bytes(i) else 32.toByte)
          a.copy(bytes = Bmp.encodeGray(a.width, a.height, gray))
        }
      }(enc)
  }

  /** Shared q108/q109 reporting tail: decoded features → per-lang
    * stats over header dims + exact integer luma aggregates. */
  private def bmpFeatureReport(d: DataFrame,
      feats: org.apache.spark.sql.Dataset[graft.multimodal.ImageFeatures]): DataFrame =
    feats.toDF()
      .join(d.select(col("doc_id"), col("lang")), col("asset_id") === col("doc_id"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n"),
        sum(col("width")).as("sum_w"),
        sum(col("height")).as("sum_h"),
        sum(col("n_pixels")).as("total_pixels"),
        // exact per-image fixed-point mean from the integer luma sum
        sum(expr("sum_luma * 1000000 div n_pixels")).as("sum_mean_micro"),
        sum(element_at(col("histogram"), 3)).as("h2"),
        sum(element_at(col("histogram"), 7)).as("h6"),
        sum(element_at(col("histogram"), 8)).as("h7"))
      .orderBy("lang")

  val q108: Q = (s, dir) => {
    import graft.multimodal.Multimodal
    val d = Tables.documents(s, dir)
    bmpFeatureReport(d, Multimodal.decodeBmpFeatures(textBmpAssets(d)))
  }

  /** Q133 temperature-based mixture resampling (q82's mechanism with
    * DERIVED rates — the XLM/mT5 p ∝ n^α rebalance): α = 0.5 over the
    * per-language counts, target 1000 rows; weights are micro-scaled
    * after one rounding of the pow, shares and per-row rates are exact
    * integer divisions, and the fractional epoch is the deterministic
    * selector slice — so the oracle replays every emitted copy. */
  val q133: Q = (s, dir) =>
    Sampling.temperatureMixture(Tables.documents(s, dir), "lang", "doc_id",
        alpha = 0.5, totalTarget = 1000L)
      .groupBy("lang")
      .agg(max(col("stratum_docs")).as("n_docs"),
        max(col("stratum_target")).as("target"),
        max(col("rate_micro")).as("rate_micro"),
        count(lit(1)).as("n_rows"),
        countDistinct(col("doc_id")).as("n_sampled"),
        max(col("copy")).as("max_copy"))
      .orderBy("lang")

  /** Q136 winsorized aggregation (q42/q89's exact-quantile program
    * applied as a CLAMP, not a filter): l_extendedprice tamed into its
    * per-returnflag exact [p05, p95] interval, then the outlier-robust
    * revenue report — row counts preserved, tails clipped, clip counts
    * on both sides. Sums run in DECIMAL after one 4-dp rounding, so
    * the report replays exactly. */
  val q136: Q = (s, dir) => {
    val l = Tables.lineitem(s, dir)
      .select(col("l_returnflag"), col("l_extendedprice"))
    Relational.winsorize(l, Seq("l_returnflag"), "l_extendedprice",
        qLow = 0.05, qHigh = 0.95)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(when(col("l_extendedprice").cast("double") < col("q_lo"), 1L)
          .otherwise(0L)).as("n_clipped_low"),
        sum(when(col("l_extendedprice").cast("double") > col("q_hi"), 1L)
          .otherwise(0L)).as("n_clipped_high"),
        sum(round(col("winsorized"), 4).cast("decimal(28,4)"))
          .cast("double").as("sum_winsorized"))
      .orderBy("l_returnflag")
  }

  /** Q137 character-entropy gate (the gibberish/blob detector beside
    * q128's byte-level signatures): per-doc Shannon entropy in exact
    * integer micro-nats — each ln rounded once to an integer micro
    * value, weighted sums and the final division pure BIGINT — then
    * the per-lang report with a low-entropy count (< 2.5 nats:
    * repeated-char spam / degenerate docs). */
  val q137: Q = (s, dir) =>
    TextMetrics.charEntropy(Tables.documents(s, dir), "doc_id", "text",
        keep = Seq("lang"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        sum(col("n_distinct")).as("sum_distinct"),
        sum(col("entropy_micro")).as("sum_entropy_micro"),
        min(col("entropy_micro")).as("min_entropy_micro"),
        sum(when(col("entropy_micro") < 2500000L, 1L).otherwise(0L))
          .as("n_low"))
      .orderBy("lang")

  /** Q138 embedding-hygiene QA (the vector-side q128, run before any
    * ANN/dedup index trusts the column): like q124/q128 the corruption
    * derives from the id — every 11th vector zeroed (the encoder's
    * empty-input default), every 13th gets a NaN component (a crashed
    * shard) — and the gate counts non-finite components, zero norms,
    * and dimension mismatches scan-locally; norms are the same
    * left-to-right IEEE dot both engines compute. */
  val q138: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("e"))
    val noisy = emb.select(col("vec_id"), col("label"),
      when(pmod(col("vec_id"), lit(11L)) === 0L,
          transform(col("e"), _ => lit(0.0d)))
        .when(pmod(col("vec_id"), lit(13L)) === 0L,
          concat(array(lit(Double.NaN)), slice(col("e"), 2, 63)))
        .otherwise(col("e")).as("e"))
    Similarity.embeddingQa(noisy, "vec_id", "e", expectDims = 64,
        keep = Seq("label"))
      .groupBy("label")
      .agg(count(lit(1)).as("n"),
        sum(when(col("is_zero"), 1L).otherwise(0L)).as("n_zero"),
        sum(when(col("n_bad") > 0L, 1L).otherwise(0L)).as("n_nonfinite"),
        sum(when(col("is_clean"), 0L).otherwise(1L)).as("n_flagged"),
        sum(when(col("is_clean"), col("norm2")).otherwise(lit(0.0d))
          .cast("decimal(18,4)")).cast("double").as("sum_norm2_clean"))
      .orderBy("label")
  }

  /** Q139 group-wise z-score standardization (the normalization step
    * before any cross-stratum threshold or score fusion): the hashed
    * quality score standardized per language — exact DECIMAL moments,
    * then a fixed-order IEEE double program for mean/var/z so both
    * engines land on identical bits; per-lang outlier counts and the
    * near-zero z sums are the report. */
  val q139: Q = (s, dir) => {
    val scored = TextMetrics.hashedLinearScoreInRow(
      Tables.documents(s, dir), "doc_id", "text", dims = 64,
      keep = Seq("lang"))
    Relational.zscore(scored, Seq("lang"), "score")
      .groupBy("lang")
      .agg(count(lit(1)).as("n"),
        sum(when(abs(col("z")) > 2.0d, 1L).otherwise(0L)).as("n_outliers"),
        sum(col("z").cast("decimal(18,4)")).cast("double").as("sum_z"),
        min(col("z")).as("min_z"), max(col("z")).as("max_z"))
      .orderBy("lang")
  }

  /** Q140 ordered funnel over the event stream (view → click →
    * purchase): step i counts a user only when it happens strictly
    * after their step-(i−1) completion — per-step reach, conversion
    * from the previous step, and the mean inter-step gap (exact
    * BIGINT millisecond sums; one fixed-order double division at
    * the end). */
  val q140: Q = (s, dir) =>
    Behavior.funnel(Tables.events(s, dir), "user_id", "ts", "event_type",
      Seq("view", "click", "purchase"))

  /** Q141 weekly cohort retention: users cohorted by the ISO week of
    * their first event; the (cohort × week-offset) matrix of active
    * users with retention against the cohort's size. */
  val q141: Q = (s, dir) =>
    Behavior.cohortRetention(Tables.events(s, dir), "user_id", "ts")

  /** Q142 blocked fuzzy entity matching over the product-name
    * vocabulary: pigeonhole chunk blocking (3 positional chunks,
    * candidates share one) + the exact levenshtein ≤ 2 residual —
    * never all-pairs. The near-duplicate name pairs a catalog-dedup
    * (or typo'd-vocab merge) pass would reconcile. */
  val q142: Q = (s, dir) =>
    Relational.editBlockedPairs(Tables.part(s, dir), "p_partkey", "p_name",
        maxDist = 2, chunks = 3)
      .orderBy("dist", "str_a", "str_b")

  /** Q143 market-basket brand affinity: baskets = orders, items = the
    * part brands they contain (broadcast dim join, then one
    * co-located self-join keyed by order) — support, confidence and
    * lift per brand pair from exact BIGINT counts. */
  val q143: Q = (s, dir) => {
    val baskets = Tables.lineitem(s, dir)
      .join(broadcast(Tables.part(s, dir)),
        col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey"), col("p_brand"))
    Affinity.pairAffinity(baskets, "l_orderkey", "p_brand", minSupport = 2L)
  }

  /** Q144 gap-based sessionization (the row-level companion to q23's
    * session windows): per-event session labels via lag + prefix sum,
    * then the session-length distribution — how many sessions have k
    * events, and their mean duration (exact BIGINT ms sums). */
  val q144: Q = (s, dir) => {
    val ms = unix_millis(col("ts").cast("timestamp"))
    Behavior.sessionize(Tables.events(s, dir), "user_id", "ts",
        gapSeconds = 1800L)
      .groupBy(col("user_id"), col("session_idx"))
      .agg(count(lit(1)).as("n_events"), (max(ms) - min(ms)).as("__dur_ms"))
      .groupBy("n_events")
      .agg(count(lit(1)).as("n_sessions"),
        round(sum(col("__dur_ms")).cast("double") / count(lit(1))
          / lit(1000.0d), 4).as("avg_duration_s"))
      .orderBy("n_events")
  }

  /** Q145 rolling-baseline anomaly flags over the daily event-volume
    * matrix: each (type, day) count scored against its strictly-prior
    * 7-day window — the crawl-ops alarm for volume drops/spikes. */
  val q145: Q = (s, dir) => {
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), col("ts").cast("date").as("day"))
      .agg(count(lit(1)).as("n"))
    Behavior.rollingZ(daily, Seq("event_type"), "day", "n", lookback = 7)
      .withColumn("is_anomaly",
        when(abs(col("z")) > 2.0d, lit(true)).otherwise(lit(false)))
      .orderBy("event_type", "day")
  }

  /** Q146 A/B experiment readout: users split by id parity, success =
    * ever purchased; the two-proportion z statistic over exact BIGINT
    * arm counts — the readout that decides a data-mix experiment. */
  val q146: Q = (s, dir) => {
    val units = Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(max(col("event_type") === "purchase").as("converted"))
      .withColumn("variant", col("user_id") % 2 === 1)
    Eval.twoProportionZ(units, "variant", "converted").orderBy("n_a")
  }

  /** Q147 entity resolution end-to-end: q142's blocked fuzzy pairs
    * become entity CLUSTERS through the same min-label propagation
    * that powers duplicate clustering (q55) — one canonical id per
    * near-duplicate name group, with the member list. */
  val q147: Q = (s, dir) => {
    val part = Tables.part(s, dir)
    val pairs = Relational.editBlockedPairs(part, "p_partkey", "p_name",
      maxDist = 2, chunks = 3)
    val reps = part.groupBy(col("p_name").as("name"))
      .agg(min(col("p_partkey")).as("id"))
    Dedup.dupClusters(pairs, "id_a", "id_b")
      .join(reps, "id")
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_members"),
        array_join(sort_array(collect_list(col("name"))), "|").as("members"))
      .orderBy("cluster_id")
  }

  /** Q148 PageRank over the brand co-occurrence graph (edges = brand
    * pairs sharing an order, both directions): three fixed iterations
    * of quantized-share propagation with exact DECIMAL share sums —
    * the link-authority weighting a crawl pipeline applies to
    * domains. */
  /** The brand co-purchase fixture of q148/q150/q159/q162/q236, one row
    * per distinct (order `b`, brand `i`). Its callers self-join it on `b`
    * in one plan, so exchange reuse runs the distinct once. */
  private def brandsByOrder(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .join(broadcast(Tables.part(s, dir)),
        col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey").as("b"), col("p_brand").as("i"))
      .distinct()

  val q148: Q = (s, dir) => {
    val bi = brandsByOrder(s, dir)
    val pairs = bi.join(bi.select(col("b"), col("i").as("j")), "b")
      .where(col("i") < col("j"))
      .select(col("i").as("x"), col("j").as("y"))
      .distinct()
    val edges = pairs.select(col("x").as("src"), col("y").as("dst"))
      .unionByName(pairs.select(col("y").as("src"), col("x").as("dst")))
    Graph.pageRank(edges, "src", "dst", iters = 3)
      .select(col("id").as("brand"), col("degree"),
        round(col("rank"), 6).as("pr"))
      .orderBy(col("pr").desc, col("brand"))
  }

  /** Q149 subset-document dedup: documents whose whole shingle set
    * lives inside another document's — the quoted-paragraph /
    * wrapped-article containment case Jaccard banding structurally
    * misses; exact by construction (min-shingle candidate anchor +
    * full-intersection residual). */
  val q149: Q = (s, dir) =>
    Dedup.subsetDocPairs(Tables.documents(s, dir), "doc_id", "text")
      .orderBy("contained_id", "container_id")

  /** Q150 triangle counts + local clustering over the q148 brand
    * graph: compact-forward enumeration, each triangle once, per-node
    * corners — the cohesion statistic behind community/spam-farm
    * analysis. */
  val q150: Q = (s, dir) => {
    val bi = brandsByOrder(s, dir)
    val pairs = bi.join(bi.select(col("b"), col("i").as("j")), "b")
      .where(col("i") < col("j"))
      .select(col("i").as("x"), col("j").as("y"))
      .distinct()
    Graph.triangles(pairs, "x", "y")
      .select(col("id").as("brand"), col("degree"), col("n_triangles"),
        col("clustering"))
      .orderBy("brand")
  }

  /** Q151 chi-square independence of language × source — the
    * no-reference mixture-drift gate: expected mass over the FULL
    * margin grid (zero cells included), exact integer margins, 6-dp
    * terms summed in DECIMAL. */
  val q151: Q = (s, dir) =>
    Eval.chiSquareIndependence(Tables.documents(s, dir), "lang", "source")
      .orderBy("n")

  /** Q152 concurrent-session detection through the interval-overlap
    * join: each user's sessions (q144's labels), expanded by half a
    * gap on each side, overlap-joined against every OTHER user's —
    * "who is active within 30 minutes of whom" — per user: sessions,
    * sessions with a concurrent partner, distinct partners. The
    * bucketed overlap join pairs intervals by covered time bucket and
    * emits each pair exactly once in its canonical bucket — no
    * all-pairs, no nested loop. */
  val q152: Q = (s, dir) => {
    val ms = unix_millis(col("ts").cast("timestamp"))
    // read by BOTH overlap-join sides and the per-user session count,
    // all in one plan: exchange reuse runs the sessionize pass once
    val sess = Behavior.sessionize(Tables.events(s, dir), "user_id", "ts",
        gapSeconds = 1800L)
      .groupBy(col("user_id"), col("session_idx"))
      .agg((min(ms) - 900000L).as("s_ms"), (max(ms) + 900000L).as("e_ms"))
    val l = sess.select(col("user_id").as("u1"), col("session_idx").as("x1"),
      col("s_ms").as("s1"), col("e_ms").as("e1"))
    val r = sess.select(col("user_id").as("u2"), col("s_ms").as("s2"),
      col("e_ms").as("e2"))
    val overlaps = Relational.intervalOverlapJoin(l, col("s1"), col("e1"),
        r, col("s2"), col("e2"), bucketWidth = 1800000.0)
      .where(col("u1") =!= col("u2"))
      .groupBy("u1")
      .agg(countDistinct(col("x1")).as("__no"),
        countDistinct(col("u2")).as("__np"))
    sess.groupBy(col("user_id").as("u1"))
      .agg(count(lit(1)).as("n_sessions"))
      .join(overlaps, Seq("u1"), "left")
      .select(col("u1").as("user_id"), col("n_sessions"),
        coalesce(col("__no"), lit(0L)).as("n_overlap_sessions"),
        coalesce(col("__np"), lit(0L)).as("n_partners"))
      .orderBy("user_id")
  }

  /** Q153 key-skew diagnostics over lineitem's join keys — the report
    * that decides salting factors and partition sizing before any big
    * join ships: per key column the hottest key, its share, and the
    * Gini of the key-frequency distribution. */
  val q153: Q = (s, dir) =>
    Profile.keySkew(Tables.lineitem(s, dir),
        Seq("l_orderkey", "l_partkey", "l_suppkey", "l_returnflag"))
      .orderBy("col_name")

  /** Q154 MAD outlier gate (q139's robust twin): per-returnflag median
    * and median-absolute-deviation of extended price through two
    * passes of the exact quantile program; rows beyond 3·MAD flagged —
    * the heavy-tail-safe outlier report a mean/stddev z can't give. */
  val q154: Q = (s, dir) =>
    Relational.madOutliers(Tables.lineitem(s, dir), Seq("l_returnflag"),
        "l_extendedprice", k = 3.0)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        round(max(col("med")), 4).as("med"),
        round(max(col("mad")), 4).as("mad"),
        sum(when(col("is_outlier"), 1L).otherwise(0L)).as("n_outliers"))
      .orderBy("l_returnflag")

  /** Q155 first-order event-type transition matrix: the empirical
    * Markov chain over each user's (ts, event_id)-ordered sequence —
    * counts and row-normalized probabilities, type²-bounded. */
  val q155: Q = (s, dir) =>
    Behavior.transitionMatrix(Tables.events(s, dir), "user_id", "ts",
      "event_type", "event_id")

  /** Q179 Markov stationary distribution (where sessions settle): 5
    * power-iteration rounds over q155's empirical transition matrix —
    * exact rational transition probabilities, round-12 quantized
    * shares summed in DECIMAL, every round oracle-replayed. */
  val q179: Q = (s, dir) => {
    val trans = Behavior.transitionMatrix(Tables.events(s, dir), "user_id",
      "ts", "event_type", "event_id")
    Graph.markovStationary(trans, "from_type", "to_type", "n", iters = 5)
      .orderBy("state")
  }

  /** Q180 Benford first-digit conformance on extended prices: the
    * fabricated-feed detector — pure-integer digit extraction
    * (×100 scale, decimal-length division), integer-ppm shares vs
    * the log₁₀(1 + 1/d) law. */
  val q180: Q = (s, dir) =>
    Profile.benford(Tables.lineitem(s, dir), "l_extendedprice", scale = 100L)
      .orderBy("digit")

  /** Q181 autocorrelation of the daily event matrix at lags 1–7: the
    * weekly-seasonality confirmation beside q169 — z = n·y − Σy keeps
    * everything integer until one portable-rounded division. */
  val q181: Q = (s, dir) => {
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), col("ts").cast("date").as("day"))
      .agg(count(lit(1)).as("n"))
      .withColumn("x", datediff(col("day"), lit("2024-01-01").cast("date")))
    Behavior.autocorrelation(daily, Seq("event_type"), "x", "n", maxLag = 7)
      .orderBy("event_type", "lag_k")
  }

  /** Q182 top-10 common journeys: the most frequent length-3
    * event-type sequences over (ts, event_id)-total-ordered user
    * streams — transitionMatrix one level up. */
  val q182: Q = (s, dir) =>
    Behavior.commonPaths(Tables.events(s, dir), "user_id", "ts",
        "event_type", "event_id", len = 3, k = 10)
      .orderBy("rank")

  /** Q183 RFM segmentation: per-user recency/frequency/monetary
    * quintile buckets (recency inverted, marketing convention) from
    * ONE exactQuantilesMulti pass, users counted per (r, f, m) cell. */
  val q183: Q = (s, dir) =>
    Behavior.rfmSegments(Tables.events(s, dir), "user_id", "ts", "value")
      .orderBy("r_bucket", "f_bucket", "m_bucket")

  /** Q184 count-min token frequencies (the order-independent
    * mergeable heavy-hitter sketch): history ⊕ batch CMS over hashed
    * tokens, then the top-20 exact tokens with their always-≥ CMS
    * estimates and overshoot — the bounded-memory path to "roughly
    * how often does this token occur" at 100 TB. */
  val q184: Q = (s, dir) => {
    import graft.operators.TextMetrics.tokenHash
    def vocab(d: DataFrame): DataFrame = d
      .select(explode(toks(col("text"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("n"))
      .withColumn("k", tokenHash(col("tok")))
    val docs = Tables.documents(s, dir)
    val hist = vocab(docs.filter(col("doc_id") % 31 === 0))
    val batch = vocab(docs.filter(col("doc_id") % 31 =!= 0))
    val cms = Sketch.cmsMerge(Seq(
      Sketch.cmsSketch(hist, "k", Some("n")),
      Sketch.cmsSketch(batch, "k", Some("n"))))
    val top = vocab(docs)
      .orderBy(col("n").desc, col("tok").asc).limit(20)
      .select(col("tok"), col("n").as("exact_n"), col("k"))
    Sketch.cmsLookup(cms, top, "k")
      .select(col("tok"), col("exact_n"), col("cms_n"),
        (col("cms_n") - col("exact_n")).as("over_n"))
      .orderBy(col("exact_n").desc, col("tok").asc)
  }

  /** Q185 PMI collocations: the top-20 statistically-bound adjacent
    * token pairs — one exact integer ratio per pair, one 6-dp ln,
    * min-count 5. */
  val q185: Q = (s, dir) =>
    TextMetrics.pmiCollocations(Tables.documents(s, dir), "text",
      k = 20, minCount = 5L)

  /** Q186 robust trend anomalies: q167's Theil–Sen line completed
    * into "which days broke trend" — robust intercept (median
    * residual), residual MAD (q154's two-pass program), strict
    * 3·MAD flags on 6-dp-quantized operands. */
  val q186: Q = (s, dir) => {
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), col("ts").cast("date").as("day"))
      .agg(count(lit(1)).as("n"))
      .withColumn("x", datediff(col("day"), lit("2024-01-01").cast("date")))
    Behavior.theilSenAnomalies(daily, Seq("event_type"), "x", "n", k = 3.0)
      .orderBy("event_type")
  }

  /** Q187 Mann–Whitney U per source: did English docs' lengths shift
    * relative to the rest of that source's feed? Integer double-ranks
    * over the per-value histogram, tie-corrected variance as one
    * exact DECIMAL ratio, continuity-corrected z — the
    * distribution-shift gate between two samples. */
  val q187: Q = (s, dir) => {
    val d = Tables.documents(s, dir).withColumn("grp",
      when(col("lang") === "en", lit("en")).otherwise(lit("other")))
    Eval.mannWhitney(d, Seq("source"), "grp", "n_chars", "en", "other")
      .orderBy("source")
  }

  /** Q188 Kendall τ-b per event type between daily volume and daily
    * summed value over the compact 30-day matrix: pure-BIGINT
    * concordant/discordant/tie counts from sign comparisons on exact
    * decimals, one fixed-order τ-b program. */
  val q188: Q = (s, dir) => {
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), col("ts").cast("date").as("day"))
      .agg(count(lit(1)).as("nv"),
        sum(col("value").cast("decimal(18,6)")).as("sv"))
    Eval.kendallTau(daily, Seq("event_type"), "nv", "sv")
      .orderBy("event_type")
  }

  /** Q189 CUSUM control chart over daily event counts per type:
    * Page's statistic via the exact window identity (prefix sum minus
    * running min on the integer n-scale), breach flags decided on
    * exact decimals against h·n — the sustained-small-shift detector
    * q145's rolling z can't see. */
  val q189: Q = (s, dir) => {
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), col("ts").cast("date").as("day"))
      .agg(count(lit(1)).as("n"))
    Behavior.cusum(daily, Seq("event_type"), "day", "n", h = 25.0)
      .orderBy("event_type", "day")
  }

  /** Q190 two-regressor OLS per order priority: daily revenue
    * explained by order volume plus a time-drift term — Cramer's
    * rule on the centered Gram matrix from ONE moment pass over the
    * compact daily matrix. The regressor pair is deliberately
    * well-conditioned (volume and time are near-orthogonal) —
    * closed-form OLS amplifies input noise by the Gram condition
    * number, so collinear pairs are the caller's bug, not the
    * operator's. */
  val q190: Q = (s, dir) => {
    val daily = Tables.orders(s, dir)
      .groupBy(col("o_orderpriority").as("priority"),
        col("o_orderdate").cast("date").as("day"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(28,6)")).as("rev"))
      .withColumn("t_day",
        datediff(col("day"), lit("1992-01-01").cast("date")))
    Behavior.olsFit2(daily, Seq("priority"), "n_orders", "t_day", "rev")
      .orderBy("priority")
  }

  /** Q191 Flesch reading-ease roll-up per lang: integer
    * word/sentence/vowel-group counts per doc, the portable-rounded
    * score, exact DECIMAL mean, and easy/hard band counts decided on
    * the identical rounded doubles. */
  val q191: Q = (s, dir) => {
    val per = TextMetrics.readability(Tables.documents(s, dir), "text",
      Seq("lang"))
    per.groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("flesch").cast("decimal(18,6)")).as("__sf"),
        sum(when(col("flesch") >= 60.0d, 1L).otherwise(0L)).as("n_easy"),
        sum(when(col("flesch") < 30.0d, 1L).otherwise(0L)).as("n_hard"))
      .select(col("lang"), col("n_docs"),
        (floor(col("__sf").cast("double") / col("n_docs").cast("double") *
          1e6d + 0.5d) / 1e6d).as("mean_flesch"),
        col("n_easy"), col("n_hard"))
      .orderBy("lang")
  }

  /** Q192 mutual information between lang and source: the effect-size
    * companion to q151's chi-square — integer micro-nat ln terms over
    * the exact cell/margin ratios, pure-BIGINT weighted sums, both
    * marginal entropies alongside for normalization. */
  val q192: Q = (s, dir) =>
    Eval.mutualInformation(Tables.documents(s, dir), "lang", "source")

  /** Q193 degree assortativity of the customer–supplier purchase
    * graph: do high-volume customers buy from high-volume suppliers?
    * Exact BIGINT degrees over the lineitem⋈orders edge list, the
    * spearman moment program, one fixed-order correlation. */
  val q193: Q = (s, dir) => {
    val edges = Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey"), col("l_suppkey"))
    Graph.degreeAssortativity(edges, "o_custkey", "l_suppkey")
  }

  /** Q194 Cramér's V association matrix over three categorical pairs
    * of orders (status/priority/order-year): each pair runs the q151
    * exact chi-square program, normalized into the comparable [0,1]
    * effect size — the which-columns-are-dependent profiling table. */
  val q194: Q = (s, dir) => {
    val o = Tables.orders(s, dir)
      .withColumn("o_year", year(col("o_orderdate")).cast("long"))
    Eval.cramersV(o, Seq(
        ("o_orderstatus", "o_orderpriority"),
        ("o_orderstatus", "o_year"),
        ("o_orderpriority", "o_year")))
      .orderBy("col_a", "col_b")
  }

  /** Q195 lead–lag cross-correlation over the daily event matrix:
    * does view volume lead purchase volume (and errors likewise)?
    * r(x_t, y_{t+lag}) for lag ∈ [−3, 3] per series pair — one
    * compact self-join, the spearman moment program per lag. */
  val q195: Q = (s, dir) => {
    val daily = Tables.events(s, dir)
      .groupBy(col("ts").cast("date").as("day"))
      .agg(sum(when(col("event_type") === "view", 1L).otherwise(0L))
          .as("views"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L))
          .as("errors"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("purchases"))
      .withColumn("t", datediff(col("day"), lit("2024-01-01").cast("date")))
    val frame = daily.select(lit("view->purchase").as("pair"), col("t"),
        col("views").as("x"), col("purchases").as("y"))
      .unionAll(daily.select(lit("error->purchase").as("pair"), col("t"),
        col("errors").as("x"), col("purchases").as("y")))
    Behavior.leadLagCorr(frame, Seq("pair"), "t", "x", "y", maxLag = 3)
      .orderBy("pair", "lag")
  }

  /** Q196 k-center greedy coreset (farthest-point traversal) over the
    * embeddings table: 8 diversity-sample picks on the exact ×1024
    * integer grid, each pick's distance = the coverage radius. Every
    * round is one corpus scan folding the ≤ k-row selected set in-row
    * (the q75 broadcast pattern) — the oracle replays all 8 rounds as
    * unrolled CTEs. */
  val q196: Q = (s, dir) =>
    Similarity.coresetSelect(Tables.embeddings(s, dir), "vec_id",
        "embedding", k = 8)
      .orderBy("sel_round")

  /** Q197 EWMA one-step-ahead forecast chart over daily event counts:
    * α = 1/4 dyadic weights over the 8 strictly-prior days — exact
    * integer-coefficient DECIMAL numerator, portable-rounded
    * forecast, spike decided on exact decimals. */
  val q197: Q = (s, dir) => {
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), col("ts").cast("date").as("day"))
      .agg(count(lit(1)).as("n"))
    Behavior.ewmaChart(daily, Seq("event_type"), "day", "n",
        window = 8, h = 20.0)
      .orderBy("event_type", "day")
  }

  /** Q198 token-mass-weighted doc-length quantiles per lang: the
    * budget-weighted median/p90 an unweighted quantile misreports —
    * pure-integer cumulative-weight cuts, no float in the walk. */
  val q198: Q = (s, dir) => {
    val d = Tables.documents(s, dir).select(col("lang"), col("n_chars"),
      size(filter(split(lower(trim(col("text"))), " "), t => t =!= ""))
        .cast("long").as("n_toks"))
    Relational.weightedQuantiles(d, Seq("lang"), "n_chars", "n_toks",
        Seq("wp50" -> 50, "wp90" -> 90))
      .orderBy("lang")
  }

  /** Q199 CUPED variance-reduced A/B readout: post-period purchases
    * adjusted by the pre-period activity covariate — pooled θ from
    * one global moment row, adjusted means entirely from group sums
    * (Deng et al. 2013). The continuous-metric companion to q146. */
  val q199: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
      .withColumn("d", datediff(col("ts").cast("date"),
        lit("2024-01-01").cast("date")))
    val units = ev.groupBy(col("user_id"))
      .agg(sum(when(col("d") < 15, 1L).otherwise(0L)).as("pre_events"),
        sum(when(col("d") >= 15 && col("event_type") === "purchase", 1L)
          .otherwise(0L)).as("post_purchases"))
      .withColumn("variant", col("user_id") % 2 === 1)
    Eval.cuped(units, "variant", "pre_events", "post_purchases")
      .orderBy("variant")
  }

  /** Q200 sparse TF-IDF cosine pairs over documents: the
    * inverted-index lexical similarity join — candidates ONLY through
    * shared rare terms (df ≤ 50), integer micro-nat idf, BIGINT
    * weights, DECIMAL dots/norms, top-20 deterministic. */
  val q200: Q = (s, dir) =>
    TextMetrics.sparseCosinePairs(Tables.documents(s, dir), "doc_id",
      "text", maxDfPpm = 60000L, k = 20)

  /** Q201 source-concentration report per lang: pure-integer HHI ppm
    * (Σc²·10⁶ div n²) + the inverse-Simpson effective source count —
    * "is this lang's corpus really diverse, or one crawl wearing
    * twenty source tags?" */
  val q201: Q = (s, dir) =>
    Profile.concentration(Tables.documents(s, dir), Seq("lang"), "source")
      .orderBy("lang")

  /** Q202 Poisson-bootstrap CI of mean purchases per user: the
    * distributed bootstrap — deterministic portable-hash Poisson(1)
    * replicate counts, DECIMAL replicate means, type-1 per-mille
    * rank cuts over the 200 sorted means. */
  val q202: Q = (s, dir) => {
    val units = Tables.events(s, dir).groupBy(col("user_id"))
      .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
        .as("purchases"))
    Eval.bootstrapMeanCi(units, "user_id", "purchases", b = 200,
      confPermille = 950)
  }

  /** Q203 isotonic calibration of the hashed quality score per lang:
    * PAV computed loop-free via the minimax identity over the compact
    * bin table — exact integer interval rationals ordered by the
    * pure-integer 10^12 key, the non-decreasing remedy to q114's raw
    * reliability diagram. */
  val q203: Q = (s, dir) => {
    val scored = TextMetrics.hashedLinearScoreInRow(
        Tables.documents(s, dir), "doc_id", "text", dims = 64,
        keep = Seq("lang"))
      .withColumn("__label", col("n_toks") >= 50L)
    Eval.isotonicCalibration(scored, "score", "__label", binWidth = 2000L,
        by = Seq("lang"))
      .orderBy("lang", "bin")
  }

  /** Q204 Hill tail-index of the doc-length distribution per lang:
    * alpha over the top-50 order statistics — the unbounded-variance
    * warning a mean/p99 pair hides; integer micro-nat excesses,
    * pure-BIGINT sum, one portable-rounded division. */
  val q204: Q = (s, dir) =>
    TextMetrics.hillTailIndex(Tables.documents(s, dir), Seq("lang"),
        "n_chars", k = 50)
      .orderBy("lang")

  /** Q205 EXACT 3-shingle-set similarity join at Jaccard ≥ 3/5 via
    * prefix filtering (PPJoin family) — the zero-false-negative
    * complement to q30's probabilistic MinHash banding: every
    * qualifying pair is guaranteed out, candidates bounded by
    * rarest-first prefixes. */
  val q205: Q = (s, dir) =>
    Dedup.prefixFilterJaccardJoin(Tables.documents(s, dir), "doc_id",
        "text", tNum = 3, tDen = 5, shingleWidth = 3)
      .orderBy("d1", "d2")

  /** Q224 incremental set-similarity against the persisted shingle
    * index: the incoming batch (doc_id % 10 = 0) joins its frozen-
    * order prefixes against the corpus index and emits every
    * qualifying (new, history) pair — the corpus is never
    * re-shingled, zero false negatives by the prefix theorem. */
  val q224: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val hist = docs.filter(col("doc_id") % 10 =!= 0)
    val incoming = docs.filter(col("doc_id") % 10 === 0)
    val index = Dedup.shingleHashRows(hist, "doc_id", "text", 3)
    Dedup.prefixJaccardAgainstIndex(incoming, "doc_id", "text", index,
        tNum = 3, tDen = 5)
      .orderBy("d1", "d2")
  }

  /** Q225 quality-keeper selection over the q55 duplicate clusters:
    * instead of min-id survivorship, each cluster keeps its highest
    * hashed-quality-score member (score desc, id asc) — the canonical
    * final step of a real dedup pipeline. */
  val q225: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val clusters = Dedup.dupClusters(
      Dedup.nearDupPairs(docs, "doc_id", "text",
        threshold = 0.8, shingleWidth = 3, bands = 16, rowsPerBand = 3),
      "d1", "d2")
    val scored = TextMetrics.hashedLinearScoreInRow(docs, "doc_id",
      "text", dims = 64)
    Dedup.qualityCanonical(clusters, "id", "cluster_id", scored,
        "doc_id", "score")
      .orderBy("cluster_id")
  }

  /** Q226 BM25 top-10 lexical retrieval: two fixture queries drawn
    * from the corpus's own top-6 tokens (ranks 1–3 → q1, 4–6 → q2,
    * by count desc / token asc — SF-independent), scored with
    * exact-rational Okapi BM25 (k₁=6/5, b=3/4) and ranked on the
    * exact micro-nat sum — the sparse-retrieval baseline every
    * embedding retriever is graded against. */
  val q226: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val ranked = docs
      .select(explode(filter(split(lower(trim(col("text"))), " "),
        t => t =!= "")).as("__t"))
      .groupBy("__t").agg(count(lit(1)).as("__c"))
      .withColumn("__rk", row_number().over(
        Window.orderBy(col("__c").desc, col("__t").asc)))
      .where(col("__rk") <= 6)
    val queries = ranked.select(
      when(col("__rk") <= 3, lit("q1")).otherwise(lit("q2"))
        .as("query_id"),
      col("__t").as("term"))
    TextMetrics.bm25TopK(docs, "doc_id", "text", queries,
        "query_id", "term", k = 10)
      .orderBy("query_id", "rank")
  }

  /** Q227 k-anonymity / l-diversity privacy audit of `customer`:
    * quasi-identifiers (nation, market segment), sensitive attribute
    * acctbal — the smallest hiding crowd, the smallest per-class
    * sensitive diversity, and the ppm of rows needing suppression at
    * k < 5. All-integer, the release gate before user-derived data
    * enters a training corpus. */
  val q227: Q = (s, dir) =>
    Profile.kAnonymity(Tables.customer(s, dir),
      Seq("c_nationkey", "c_mktsegment"), "c_acctbal", kMin = 5)

  /** Q228 interval-union coverage per user: each event opens a 15-min
    * activity window; the gaps-and-islands merge reports how much of
    * the user's observed span was actually active — the density
    * readout naive Σ(end−start) double-counts under overlap. Exact
    * BIGINT milliseconds throughout. */
  val q228: Q = (s, dir) => {
    val iv = Tables.events(s, dir).select(col("user_id"),
        unix_millis(col("ts").cast("timestamp")).as("s0"))
      .withColumn("e0", col("s0") + 900000L)
    Behavior.intervalCoverage(iv, Seq("user_id"), "s0", "e0")
      .orderBy("user_id")
  }

  /** Q229 Gini index + top-decile share of document length per
    * source: does 10% of the docs carry half the corpus volume? The
    * numeric-inequality companion to q153's categorical HHI — exact
    * rank-formula rationals, one 6-dp division. */
  val q229: Q = (s, dir) =>
    Profile.gini(Tables.documents(s, dir), Seq("source"), "n_chars")
      .orderBy("source")

  /** Q230 split-conformal calibration gate at α = 1/10: a 20%
    * hash-split calibration fold sets q̂ = the ⌈(n+1)·0.9⌉-th smallest
    * hashed quality score; the test fold reports whether the promised
    * 90% coverage actually holds — all-integer rank selection over the
    * distinct-score histogram. */
  val q230: Q = (s, dir) => {
    val scored = TextMetrics.hashedLinearScoreInRow(
      Tables.documents(s, dir), "doc_id", "text", dims = 64)
    val fold = pmod(Sampling.selector(col("doc_id")), lit(5L))
    Eval.conformalGate(scored.where(fold === 0L),
      scored.where(fold =!= 0L), "score", alphaNum = 1, alphaDen = 10)
  }

  /** Q231 EXACT containment join at C(A,B) ≥ 7/10: every directed
    * pair where ≥ 70% of A's shingles appear in B — quote/excerpt
    * detection symmetric-Jaccard banding structurally misses.
    * A-side-only prefixes, zero false negatives, exact-intersection
    * residual. */
  val q231: Q = (s, dir) =>
    Dedup.containmentJoin(Tables.documents(s, dir), "doc_id", "text",
        tNum = 7, tDen = 10)
      .orderBy("d1", "d2")

  /** Q232 embedding effective dimensionality: participation ratio
    * over per-dim variances + top-dimension share — the "are 64 dims
    * carrying 64 dims of signal, or has the space collapsed into a
    * cone" audit, one aggregation, no iteration. */
  val q232: Q = (s, dir) =>
    Similarity.effectiveDim(Tables.embeddings(s, dir), "embedding",
      dims = 64)

  /** Q233 Nelson–Aalen cumulative hazard of time-to-first-purchase:
    * q178's exact risk sets with the additive hazard estimator —
    * pure-integer micro increments (d·10⁶ div n), Breslow survival
    * from the quantized hazard, finite everywhere (no KM
    * zero-masking). */
  val q233: Q = (s, dir) => {
    val peru = Tables.events(s, dir)
      .groupBy("user_id")
      .agg(min(col("ts")).as("t0"),
        min(when(col("event_type") === "purchase", col("ts"))).as("tp"),
        max(col("ts")).as("tmax"))
    val dur = peru.select(
      when(col("tp").isNotNull,
        datediff(col("tp").cast("date"), col("t0").cast("date")))
        .otherwise(datediff(col("tmax").cast("date"), col("t0").cast("date")))
        .as("dur"),
      when(col("tp").isNotNull, 1).otherwise(0).as("ev"))
    Behavior.nelsonAalen(dur, Seq.empty, "dur", "ev").orderBy("t")
  }

  /** Q234 log-rank test between even/odd user cohorts'
    * time-to-first-purchase: the hypothesis-test companion to q178's
    * KM curves — exact hypergeometric O−E micro sums, fixed-order
    * variance terms, one χ² division. */
  val q234: Q = (s, dir) => {
    val peru = Tables.events(s, dir)
      .groupBy("user_id")
      .agg(min(col("ts")).as("t0"),
        min(when(col("event_type") === "purchase", col("ts"))).as("tp"),
        max(col("ts")).as("tmax"))
    val dur = peru.select(
      pmod(col("user_id"), lit(2L)).as("grp"),
      when(col("tp").isNotNull,
        datediff(col("tp").cast("date"), col("t0").cast("date")))
        .otherwise(datediff(col("tmax").cast("date"), col("t0").cast("date")))
        .as("dur"),
      when(col("tp").isNotNull, 1).otherwise(0).as("ev"))
    Behavior.logRank(dur, "grp", "dur", "ev")
  }

  /** Q235 Krippendorff's alpha per lang with VARIABLE rater counts:
    * each doc gets 2 + doc_id % 3 simulated raters voting
    * (score + j·1000 ≥ 0) — the agreement readout Fleiss' fixed-R
    * kappa can't express; pure-integer coincidence micro terms, one
    * 6-dp division. */
  val q235: Q = (s, dir) => {
    val scored = TextMetrics.hashedLinearScoreInRow(
      Tables.documents(s, dir), "doc_id", "text", dims = 64,
      keep = Seq("lang", "doc_id"))
    val votes = scored.select(col("lang"),
        (lit(2L) + pmod(col("doc_id"), lit(3L))).as("n_raters"),
        col("score"))
      .withColumn("n_pos",
        size(filter(sequence(lit(0L), col("n_raters") - 1L),
          j => col("score") + j * lit(1000L) >= 0L)).cast("long"))
    Eval.krippendorffAlpha(votes, "n_pos", "n_raters", Seq("lang"))
      .orderBy("lang")
  }

  /** Q236 k-hop reach over the brand co-purchase graph (q150's edge
    * fixture): per brand, distinct brands within 1/2/3 undirected
    * hops — the blast-radius / small-world profile as exact BFS
    * frontier joins. */
  val q236: Q = (s, dir) => {
    val bi = brandsByOrder(s, dir)
    val pairs = bi.join(bi.select(col("b"), col("i").as("j")), "b")
      .where(col("i") < col("j"))
      .select(col("i").as("x"), col("j").as("y"))
      .distinct()
    Graph.kHopReach(pairs, "x", "y", hops = 3).orderBy("id")
  }

  /** Q237 pairwise centroid cosine between embedding labels: the
    * embedding-space cluster-similarity matrix (cos of SUM vectors —
    * the 1/n cancels), exact integer sums, decimal pair products,
    * one fixed-order cosine division. */
  val q237: Q = (s, dir) =>
    Similarity.centroidMatrix(Tables.embeddings(s, dir), "label",
        "embedding", dims = 64)
      .orderBy("g1", "g2")

  /** Q238 cross-source duplication matrix: q225's exact 0.8-Jaccard
    * near-dup pairs rolled up to (source, source) counts — which
    * feeds copy from which, the mirror-detection readout that decides
    * crawl dedup priorities. */
  val q238: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val pairs = Dedup.nearDupPairs(docs, "doc_id", "text",
      threshold = 0.8, shingleWidth = 3, bands = 16, rowsPerBand = 3)
    val src = docs.select(col("doc_id"), col("source"))
    pairs
      .join(src.select(col("doc_id").as("d1"), col("source").as("__s1")),
        "d1")
      .join(src.select(col("doc_id").as("d2"), col("source").as("__s2")),
        "d2")
      .select(least(col("__s1"), col("__s2")).as("source_a"),
        greatest(col("__s1"), col("__s2")).as("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("source_a", "source_b")
  }

  /** Q239 lexical diversity per source: type–token ratio, Shannon
    * entropy (nats), Simpson repeat probability — the vocabulary-
    * richness panel separating templated feeds from organic text. */
  val q239: Q = (s, dir) =>
    TextMetrics.lexicalDiversity(Tables.documents(s, dir),
        Seq("source"), "text")
      .orderBy("source")

  /** Q240 difference-in-differences across the day-15 cutover:
    * even/odd user cohorts × before/after periods on event value —
    * the quasi-experimental lift estimate net of shared trend, one
    * exact four-cell rational. */
  val q240: Q = (s, dir) => {
    val e = Tables.events(s, dir).select(
      pmod(col("user_id"), lit(2L)).as("grp"),
      when(datediff(col("ts").cast("date"),
        lit("2024-01-01").cast("date")) >= 15, 1).otherwise(0)
        .as("period"),
      col("value"))
    Eval.diffInDiff(e, "grp", "period", "value")
  }

  /** Q241 pairwise source-vocabulary overlap from persisted HLL
    * sketches alone: est(A)+est(B)−est(A∪B) inclusion–exclusion over
    * per-pair max-merged registers — the shared-vocabulary matrix
    * when the raw tokens are long gone. */
  val q241: Q = (s, dir) => {
    val toks = Tables.documents(s, dir)
      .select(col("source"),
        explode(filter(split(lower(trim(col("text"))), " "),
          t => t =!= "")).as("__t"))
      .select(col("source"), TextMetrics.tokenHash(col("__t")).as("th"))
    Sketch.hllOverlap(Sketch.hllSketch(toks, Seq("source"), "th"),
        "source")
      .orderBy("g1", "g2")
  }

  /** Q242 Neyman-optimal stratified allocation of a 10,000-doc sample
    * budget across sources by n_chars variability: n_h ∝ N_h·σ_h with
    * EXACT largest-remainder apportionment — allocations sum to
    * exactly the budget, every decision integer/decimal. */
  val q242: Q = (s, dir) =>
    Sampling.neymanAllocation(Tables.documents(s, dir), "source",
        "n_chars", budget = 10000L)
      .orderBy("stratum")

  /** Q243 multiclass precision/recall/F1 of the q39 stopword lang-ID
    * against the gold lang label: the per-class eval readout for a
    * label-valued classifier — every metric a pure-integer ppm
    * rational (F1 = 2tp/(2tp+fp+fn), no float mean of rounded
    * halves). */
  val q243: Q = (s, dir) => {
    val markers = Seq(
      "de" -> Seq("der", "die", "das", "und"),
      "en" -> Seq("the", "a", "of", "and"),
      "es" -> Seq("el", "la", "los", "y"),
      "fr" -> Seq("le", "la", "les", "et"))
    val t = filter(split(lower(trim(col("text"))), " "), x => x =!= "")
    def score(ws: Seq[String]): Column =
      size(filter(t, x => x.isInCollection(ws)))
    val Seq(sDe, sEn, sEs, sFr) = markers.map { case (_, ws) => score(ws) }
    val pred = when(sDe >= sEn && sDe >= sEs && sDe >= sFr, lit("de"))
      .when(sEn >= sEs && sEn >= sFr, lit("en"))
      .when(sEs >= sFr, lit("es")).otherwise(lit("fr"))
    val labeled = Tables.documents(s, dir)
      .select(col("lang"), pred.as("predicted"))
    Eval.multiclassMetrics(labeled, "lang", "predicted").orderBy("label")
  }

  /** Q244 Kolmogorov–Smirnov drift of each source's length sketch vs
    * the corpus: the sup companion completing the q175/q221 drift
    * trio — an exact DECIMAL argmax picks the worst cumulative gap
    * and reports WHERE it sits (linearized bucket index). */
  val q244: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val perSource = Sketch.logHistSketch(docs, Seq("source"), "n_chars")
    val corpus = Sketch.logHistSketch(docs, Seq.empty, "n_chars")
    Sketch.logHistKs(perSource, Seq("source"), corpus)
      .orderBy("source")
  }

  /** Q245 restricted mean survival time at τ = 30 days over q178's
    * time-to-first-purchase curve: expected purchase-free days within
    * the first month — pure-integer segment areas under the quantized
    * KM steps. */
  val q245: Q = (s, dir) => {
    val peru = Tables.events(s, dir)
      .groupBy("user_id")
      .agg(min(col("ts")).as("t0"),
        min(when(col("event_type") === "purchase", col("ts"))).as("tp"),
        max(col("ts")).as("tmax"))
    val dur = peru.select(
      when(col("tp").isNotNull,
        datediff(col("tp").cast("date"), col("t0").cast("date")))
        .otherwise(datediff(col("tmax").cast("date"), col("t0").cast("date")))
        .as("dur"),
      when(col("tp").isNotNull, 1).otherwise(0).as("ev"))
    Behavior.rmst(dur, Seq.empty, "dur", "ev", tau = 30L)
  }

  /** Q246 greedy maximum-coverage selection: 5 docs that together
    * cover the most distinct vocabulary — the (1−1/e) submodular
    * greedy, every round an integer argmax over still-uncovered
    * token hashes (ties → min id). */
  val q246: Q = (s, dir) =>
    Sampling.coverageSelect(Tables.documents(s, dir), "doc_id", "text",
        k = 5, shingleWidth = 3)
      .orderBy("sel_round")

  /** Q247 water-filling token-budget allocation across sources:
    * equal shares under supply caps, unused capacity redistributed —
    * the closed-form sorted-prefix water level, every decision a
    * pure-integer comparison, allocations sum to exactly
    * min(B, Σsupply). */
  val q247: Q = (s, dir) => {
    val supply = Tables.documents(s, dir)
      .select(col("source"),
        size(filter(split(lower(trim(col("text"))), " "),
          t => t =!= "")).cast("long").as("n_toks"))
      .groupBy("source").agg(sum(col("n_toks")).as("supply"))
    Sampling.waterFill(supply, "source", "supply", budget = 100000L)
      .orderBy("stratum")
  }

  /** Q248 Simpson's-paradox direction audit: does the pooled
    * value-vs-day association match the within-event-type
    * associations, or did group mix manufacture the trend — all signs
    * decided by exact DECIMAL covariance numerators. */
  val q248: Q = (s, dir) => {
    val e = Tables.events(s, dir).select(col("event_type"),
      datediff(col("ts").cast("date"), lit("2024-01-01").cast("date"))
        .cast("long").as("x"),
      floor(col("value") * 1e6d + 0.5d).cast("long").as("y"))
    Eval.simpsonDirection(e, "event_type", "x", "y")
  }

  /** Q249 ViT-style patchify through the real BMP codec: the q108
    * image fixtures split into 4×4 patch grids — exact per-patch
    * pixel counts and luma sums (edge patches partial, never padded),
    * rolled up per lang. The oracle replays the grid from text
    * arithmetic, so header parse, row re-flip, and patch indexing all
    * have to be right. */
  val q249: Q = (s, dir) => {
    import graft.multimodal.Multimodal
    val d = Tables.documents(s, dir)
    Multimodal.decodeBmpPatches(textBmpAssets(d), patch = 4).toDF()
      .join(d.select(col("doc_id"), col("lang")),
        col("asset_id") === col("doc_id"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_patches"),
        sum(col("n_px")).as("total_px"),
        sum(when(col("n_px") === 16L, 1L).otherwise(0L)).as("n_full"),
        sum(col("luma_sum")).as("sum_luma"),
        sum(expr("luma_sum * 1000000 div n_px"))
          .as("sum_patch_mean_micro"),
        max(col("patch_row")).as("max_pr"),
        max(col("patch_col")).as("max_pc"))
      .orderBy("lang")
  }

  /** Q250 framed audio energy through the real WAV codec: the q110
    * fixtures split into 30-sample frames — exact |s|/s² sums and an
    * integer activity gate (Σ|s| > n·8000) per frame, rolled up per
    * lang. The VAD building block; the oracle replays every frame
    * from text arithmetic. */
  val q250: Q = (s, dir) => {
    import graft.multimodal.Multimodal
    val d = Tables.documents(s, dir)
    Multimodal.wavFrameEnergy(textWavAssets(d), frameLen = 30).toDF()
      .join(d.select(col("doc_id"), col("lang")),
        col("asset_id") === col("doc_id"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_frames"),
        sum(col("sum_abs")).as("total_abs"),
        sum(col("energy")).as("total_energy"),
        sum(when(col("sum_abs") > col("n_samples") * 8000L, 1L)
          .otherwise(0L)).as("n_active"),
        max(col("peak")).as("max_peak"))
      .orderBy("lang")
  }

  /** Q251 first-gate rejection attribution across the corpus gates
    * (too-short → low-quality → exact-dup, pipeline order): which
    * gate ACTUALLY kills each doc vs which would — the ablation
    * bookkeeping that stops "dedup killed 40%" and "quality killed
    * 40%" double-counting the same docs. */
  val q251: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val scored = TextMetrics.hashedLinearScoreInRow(docs, "doc_id",
      "text", dims = 64)
    val surv = Dedup.exactSurvivors(docs, "doc_id", "text")
      .withColumnRenamed("doc_id", "__sid")
    val flagged = scored.join(surv, col("doc_id") === col("__sid"),
      "left")
    Profile.rejectionAttribution(flagged, Seq(
        "too_short" -> (col("n_toks") < 20L),
        "low_quality" -> (col("score") < 0L),
        "exact_dup" -> col("__sid").isNull))
      .orderBy("gate")
  }

  /** Q252 leave-one-source-out ablation of the corpus mean quality:
    * which feed props the average up, which drags it — the cheap
    * exact stand-in for retrain-per-ablation, one rational per
    * source. */
  val q252: Q = (s, dir) => {
    val scored = TextMetrics.hashedLinearScoreInRow(
      Tables.documents(s, dir), "doc_id", "text", dims = 64,
      keep = Seq("source"))
    Profile.looAblation(scored, "source", "score").orderBy("grp")
  }

  /** Q253 corpus BLEU between each doc and its same-lang successor —
    * the generation-scoring eval: clipped n-gram precisions pooled at
    * corpus level (never averaged per sentence), brevity penalty on
    * the quantized ratio, micro-nat exact program end to end. */
  val q253: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val w = Window.partitionBy("lang").orderBy("doc_id")
    val pm = docs.select(col("doc_id"), col("lang"))
      .withColumn("__rid", lead(col("doc_id"), 1).over(w))
      .where(col("__rid").isNotNull)
      .select(col("doc_id"), col("__rid"))
    Eval.corpusBleu(docs, "doc_id", "text", pm, "doc_id", "__rid")
  }

  /** Q254 declarative corpus-prep pipeline: the ENTIRE q49 dataprep
    * flow (exact dedup → quality gate → language-ID) expressed as a
    * JSON `PipelineSpec` and run through `Pipeline.build` — the
    * control-plane twin of the library composition, sharing q49's
    * oracle semantics verbatim. What a reference user does by PUTting
    * connector config (README.md:88-109), this engine does for
    * training-data prep: the stages are config, the operators are the
    * gated library, and this query pins that the config path computes
    * EXACTLY what the Scala path computes.
    *
    * Stage order is the q49 scale lesson expressed in config: the
    * scan-side text stages (gate, lang-ID) run BEFORE `dedup_exact`,
    * so Catalyst prunes `text` from the survivor join's exchange (the
    * wide-payload audit pins this under the no-broadcast posture).
    * Semantics are order-invariant here because both stages derive
    * solely from the normalized text — every duplicate of a text
    * passes or fails together, so the min-id survivor set is
    * identical either way (q49's oracle, which dedups first, gates
    * exactly this plan). */
  val q254: Q = (s, dir) => {
    val json =
      s"""{"name": "dataprep-q254",
         |"source": {"type": "file", "options": {
         |  "format": "parquet", "path": "$dir/documents.parquet",
         |  "schema": "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"}},
         |"transforms": [
         |  {"type": "quality_gate", "options": {"text.field": "text"}},
         |  {"type": "lang_id", "options": {"text.field": "text", "as": "predicted"}},
         |  {"type": "dedup_exact", "options": {"id.field": "doc_id", "text.field": "text"}}],
         |"sink": {"type": "noop", "options": {}}}""".stripMargin
    Pipeline.build(s, PipelineSpec.fromJson(json), streaming = false)
      .groupBy("lang", "predicted")
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
      .orderBy("lang", "predicted")
  }

  /** Q255 incremental containment against a persisted shingle index
    * (q231's operator in q224's posture): history docs are indexed
    * once; the arriving batch emits every directed cross-split
    * containment pair ≥ 7/10 in both directions without re-shingling
    * the corpus. */
  val q255: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val hist = docs.filter(col("doc_id") % 10 =!= 0)
    val incoming = docs.filter(col("doc_id") % 10 === 0)
    val index = Dedup.shingleHashRows(hist, "doc_id", "text", 3)
    Dedup.containmentAgainstIndex(incoming, "doc_id", "text", index,
        tNum = 7, tDen = 10)
      .orderBy("d1", "d2")
  }

  /** Q257 unigram-LM (SentencePiece-style) tokenizer training: 3
    * rounds of deterministic hard-EM over the vocabulary-bounded word
    * table — seeded with the top-40 substrings plus the single-char
    * closure, Viterbi E-step, disuse pruning, add-one rescore — every
    * round replayed by the oracle (the q75/q105 discipline). */
  val q257: Q = (s, dir) =>
    CorpusLM.unigramTrain(Tables.documents(s, dir), "text",
        rounds = 3, seedTopK = 40)
      .orderBy("piece")

  /** Q259 IVF search under the √N centroid discipline: q46's pipeline
    * with the stride DERIVED from the corpus (stride = N div ⌈√N⌉, so
    * C ≈ √N at every scale) — the 100 TB posture the r13 sweep showed
    * a fixed stride cannot hold (C = N/37 grows linearly, making the
    * O(N·C) assignment quadratic; measured 36× on 10× data). The
    * fixed-stride queries stay as fixture pins; this gates the
    * scale-correct gear. */
  val q259: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
      .withColumn("e", col("embedding").cast("array<double>"))
    Similarity.ivfTopK(emb, "vec_id", "e", targetId = 3L, k = 10,
      centroidStride = Similarity.sqrtStride(emb), nprobe = 8)
  }

  /** Q279 Johnson–Lindenstrauss projection audit — 64-dim embeddings
    * onto 16 DERIVED ±1 directions (Achlioptas sparse JL, the
    * compression gear before a 100 TB ANN index), with exact
    * original/projected squared distances and the ppm ratio against
    * the k·d² expectation for ten fixed pairs. Scan-local: the sign
    * matrix is arithmetic, not data. */
  val q279: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
      .withColumn("e", col("embedding").cast("array<double>"))
    Similarity.jlDistanceAudit(emb, "vec_id", "e", inDims = 64, outDims = 16,
        pairs = (0 until 10).map(t => (2L * t, 2L * t + 1)))
      .orderBy("a")
  }

  /** Q280 PQ train + encode under the √N centroid discipline — q125's
    * pipeline with `Similarity.sqrtStride` deriving the per-subspace
    * seed stride (C ≈ √N at every scale), the 100 TB posture r13's
    * sweep showed the fixed stride cannot hold (C = N/37 made q125
    * 62× on 10× data). q125 stays as the fixed-stride fixture pin;
    * THIS gates the scale-correct gear of the declared memory-scale
    * ANN representation. */
  val q280: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
      .withColumn("e", col("embedding").cast("array<double>"))
    val stride = Similarity.sqrtStride(emb)
    val book = Similarity.pqTrain(emb, "vec_id", "e", m = 4, dim = 64,
      centroidStride = stride, iters = 1)
    val codes = Similarity.pqEncode(emb, "vec_id", "e", book, m = 4, dim = 64)
    val used = codes.select(posexplode(col("__code")).as(Seq("sub", "cid")))
      .groupBy("sub", "cid").agg(count(lit(1)).as("n_docs"))
    book.select(col("__sub").as("sub"), col("__cid").as("cid"),
        Similarity.dot(col("__cv"), col("__cv")).cast("long").as("mu_dot"))
      .join(used, Seq("sub", "cid"), "left")
      .select(col("sub"), col("cid"), col("mu_dot"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"))
      .orderBy("sub", "cid")
  }

  /** Q281 PQ asymmetric-distance search under the √N discipline —
    * q126's ADC tail over q280's codebook: the LUT stays ONE broadcast
    * row of m·C ≈ 4√N entries (vs 4N/37 under the fixed stride, which
    * would eventually not broadcast at all), and the code-table scan
    * shape is unchanged. */
  val q281: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
      .withColumn("e", col("embedding").cast("array<double>"))
    val book = Similarity.pqTrain(emb, "vec_id", "e", m = 4, dim = 64,
      centroidStride = Similarity.sqrtStride(emb), iters = 1)
    Similarity.pqAdcTopK(emb, "vec_id", "e", book,
      targetId = 3L, k = 10, m = 4, dim = 64)
  }

  /** Q282 k-means refinement under the √N discipline — q75's two Lloyd
    * rounds with the DERIVED stride: the O(N·C) assignment stays
    * O(N^1.5) instead of quadratic (q75 measured 36× on 10× data
    * under C = N/37). q75 stays as the fixed-stride fixture pin. */
  val q282: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
      .withColumn("e", col("embedding").cast("array<double>"))
    val cents = Similarity.kmeansCentroids(emb, "vec_id", "e",
      centroidStride = Similarity.sqrtStride(emb), iters = 2, dim = 64)
    cents.select(col("__cid").as("cid"), col("__n").as("n"),
        Similarity.dot(col("__cv"), col("__cv")).cast("long").as("mu_dot"),
        aggregate(col("__cv"), lit(0.0d), (a, x) => a + x).cast("long").as("mu_sum"))
      .orderBy("cid")
  }

  /** Q283 IVF train-then-search under the √N discipline — q76's full
    * index pipeline (2 Lloyd rounds, then the nprobe-cell search +
    * exact cosine rescore against the refined cells) with the derived
    * stride. */
  val q283: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
      .withColumn("e", col("embedding").cast("array<double>"))
    val trained = Similarity.kmeansCentroids(emb, "vec_id", "e",
        centroidStride = Similarity.sqrtStride(emb), iters = 2, dim = 64)
      .select(col("__cid"), col("__cv"))
    Similarity.ivfTopKWith(emb, "vec_id", "e", trained,
      targetId = 3L, k = 10, nprobe = 8)
  }

  /** Q284 batch IVF-pruned kNN join under the √N discipline — q78's
    * 5-probe batch search with the derived stride: per-probe candidate
    * cells hold ~√N vectors, so the rescore stays probe-bounded at
    * every scale. */
  val q284: Q = (s, dir) => {
    val e = Tables.embeddings(s, dir)
      .withColumn("e", col("embedding").cast("array<double>"))
    Similarity.ivfKnnJoin(e, e.filter(col("vec_id") < 5), "vec_id", "e",
        centroidStride = Similarity.sqrtStride(e), k = 3, nprobe = 8)
      .withColumn("rank", col("rank").cast("long"))
      .orderBy("probe_id", "rank")
  }

  /** Q285 MULTI-reference corpus BLEU — q253's eval with each doc
    * scored against its TWO same-lang successors: per-gram clip is the
    * max over the references (the Papineni multi-ref rule r13's
    * single-ref guard deliberately rejected), and the brevity penalty
    * uses the per-candidate closest reference length (ties shorter).
    * Candidates with only one successor keep one reference — the mixed
    * 1-and-2-ref corpus is the realistic eval-set shape. */
  val q285: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val w = Window.partitionBy("lang").orderBy("doc_id")
    val base = docs.select(col("doc_id"), col("lang"))
      .withColumn("__r1", lead(col("doc_id"), 1).over(w))
      .withColumn("__r2", lead(col("doc_id"), 2).over(w))
    val pm = base.where(col("__r1").isNotNull)
        .select(col("doc_id"), col("__r1").as("__rid"))
      .unionByName(base.where(col("__r2").isNotNull)
        .select(col("doc_id"), col("__r2").as("__rid")))
    Eval.corpusBleuMulti(docs, "doc_id", "text", pm, "doc_id", "__rid")
  }

  /** Q286 declarative NEAR-DUP pipeline — q60's flagship dedup
    * (exact survivors → MinHash/LSH near-dup pairs → CC clusters →
    * min-id keeper) expressed entirely as JSON config through
    * `Pipeline.build` (the q254 == q49 pattern): the `dedup_neardup`
    * stage must compute EXACTLY what the q60 library composition
    * computes, so this query reuses q60's oracle verbatim. */
  val q286: Q = (s, dir) => {
    val json =
      s"""{"name": "neardup-q286",
         |"source": {"type": "file", "options": {
         |  "format": "parquet", "path": "$dir/documents.parquet",
         |  "schema": "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"}},
         |"transforms": [
         |  {"type": "dedup_exact", "options": {"id.field": "doc_id", "text.field": "text"}},
         |  {"type": "dedup_neardup", "options": {"id.field": "doc_id", "text.field": "text",
         |    "threshold": "0.8", "shingle.width": "3", "bands": "16", "rows.per.band": "3"}}],
         |"sink": {"type": "noop", "options": {}}}""".stripMargin
    Pipeline.build(s, PipelineSpec.fromJson(json), streaming = false)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .orderBy("lang")
  }

  /** Q287 declarative QUALITY-KEEPER pipeline — q225's
    * highest-scored-member survivorship as a config stage: near-dup
    * clusters keep their best hashed-quality member (score desc, id
    * asc), unclustered docs always survive; the per-lang stats of the
    * survivors gate the stage against the q225 closure replay. */
  val q287: Q = (s, dir) => {
    val json =
      s"""{"name": "keeper-q287",
         |"source": {"type": "file", "options": {
         |  "format": "parquet", "path": "$dir/documents.parquet",
         |  "schema": "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"}},
         |"transforms": [
         |  {"type": "quality_keeper", "options": {"id.field": "doc_id", "text.field": "text",
         |    "score.dims": "64"}}],
         |"sink": {"type": "noop", "options": {}}}""".stripMargin
    Pipeline.build(s, PipelineSpec.fromJson(json), streaming = false)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .orderBy("lang")
  }

  /** Q288 RAKE serving against a persisted model — the q224/q255
    * incremental split applied to keyword scoring: the stoplist +
    * word-score tables train on the HISTORY corpus (doc_id % 10 ≠ 0)
    * once, and each ARRIVING doc (doc_id % 10 = 0) scores statelessly
    * against the broadcast model (per-doc phrase count, the
    * (score desc, phrase asc) top phrase, and the total). The same
    * plan runs as an append-mode stream — StreamingSpec pins
    * stream == batch. */
  val q288: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val hist = docs.filter(col("doc_id") % 10 =!= 0)
    val incoming = docs.filter(col("doc_id") % 10 === 0)
    val stops = TextMetrics.rakeStopwords(hist, "text", stopK = 20)
    val ws = TextMetrics.rakeWordScores(hist, "text", stops, maxPhraseLen = 4)
    TextMetrics.rakeScoreAgainst(incoming, "doc_id", "text", stops, ws,
        maxPhraseLen = 4)
      .orderBy("doc_id")
  }

  /** Q289 BOUNDED embedding near-dup: q37's blocking + threshold with
    * the per-doc top-⌈log₂N⌉ neighbor cap — the 100 TB output
    * contract (q37's threshold-only answer grows Ω(N²/100) at
    * cosine ≥ 0.3 in 64 dims; this one is ≤ N·k by construction, the
    * hierarchical per-bucket-then-global cap bounding every
    * exchange). k derives from the corpus like sqrtStride; the
    * oracle re-derives it and replays the 4-dp rank grid. q37 stays
    * as the exact-threshold semantics for bounded corpora. */
  val q289: Q = (s, dir) =>
    Dedup.embeddingNearDupTopK(
        Tables.embeddings(s, dir).withColumn("e", col("embedding").cast("array<double>")),
        "vec_id", "e", planes = lshPlanes, codeRadius = 2, threshold = 0.3)
      .orderBy("doc_id", "rank")

  /** Q290 BOUNDED concurrent-session profile: q152's expanded session
    * intervals through `intervalOverlapPartnerTopK` — per user the
    * top-5 co-active partners by shared overlapping-session-pair
    * count (partner-id tie-break). q152's exact semantics are
    * density-unbounded on a hot time axis (r14 sweep: 10.5× on 10×
    * data, the ANSWER growing); this is the profile posture whose
    * output is ≤ N·k and whose only wide exchange carries (user,
    * partner, count) rows, never pair lists. */
  val q290: Q = (s, dir) => {
    val ms = unix_millis(col("ts").cast("timestamp"))
    val sess = Behavior.sessionize(Tables.events(s, dir), "user_id", "ts",
        gapSeconds = 1800L)
      .groupBy(col("user_id"), col("session_idx"))
      .agg((min(ms) - 900000L).as("s_ms"), (max(ms) + 900000L).as("e_ms"))
      .select(col("user_id"), col("s_ms"), col("e_ms"))
    Relational.intervalOverlapPartnerTopK(sess, "user_id", "s_ms", "e_ms",
        bucketWidth = 1800000.0, k = 5)
      .select(col("user_id"), col("partner"), col("n_shared"), col("rank"))
      .orderBy("user_id", "rank")
  }

  /** Q291 INCREMENTAL near-dup as declarative config — the
    * `dedup_neardup_incremental` stage (the r14 verdict's missing
    * streaming posture for the near-dup pipeline family): the history
    * shingle index persists once, the pipeline's `filter` stage keeps
    * the arriving split, and the stage scores arriving docs against
    * the index without re-shingling history. Two result-identical
    * gears: batch submits (this gate) take the prefix-filtered JOIN
    * form (`containmentAgainstIndex` — index size unbounded); streams
    * take the IN-ROW broadcast form
    * (`Dedup.containmentAgainstIndexInRow`, the bigramNllAgainst
    * stream-static shape — map-only, append-safe, executor-bounded
    * index; StreamingSpec pins stream == batch). Must equal q255's
    * library composition, so it shares q255's oracle verbatim. */
  val q291: Q = (s, dir) => {
    val idxPath = persistedAsset("q291", dir) { p =>
      val hist = Tables.documents(s, dir).filter(col("doc_id") % 10 =!= 0)
      Dedup.shingleHashRows(hist, "doc_id", "text", 3)
        .write.mode("overwrite").parquet(p)
    }
    val json =
      s"""{"name": "neardup-incr-q291",
         |"source": {"type": "file", "options": {
         |  "format": "parquet", "path": "$dir/documents.parquet",
         |  "schema": "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"}},
         |"transforms": [
         |  {"type": "filter", "options": {"predicate": "doc_id % 10 = 0"}},
         |  {"type": "dedup_neardup_incremental", "options": {
         |    "id.field": "doc_id", "text.field": "text",
         |    "index.path": "$idxPath",
         |    "threshold.num": "7", "threshold.den": "10", "shingle.width": "3"}}],
         |"sink": {"type": "noop", "options": {}}}""".stripMargin
    Pipeline.build(s, PipelineSpec.fromJson(json), streaming = false)
      .orderBy("d1", "d2")
  }

  /** Q292 incremental EMBEDDING near-dup against a PERSISTED sign-LSH
    * code table — the q255 serving posture for embedding space (the
    * r15 verdict's one named capability gap): the history corpus
    * (vec_id % 10 ≠ 0) codes ONCE into `Dedup.embeddingCodeRows`
    * parquet; each arriving batch (vec_id % 10 = 0) codes itself
    * in-row against the same planes and emits every (arriving,
    * history) pair with code Hamming ≤ 2 and exact cosine ≥ 0.3 —
    * history vectors read from the index, never re-coded or
    * re-scanned. The streaming gear
    * (`embeddingNearDupAgainstIndexInRow`) is pinned
    * result-identical by spec. */
  val q292: Q = (s, dir) => {
    val idxPath = persistedAsset("q292", dir) { p =>
      val emb = Tables.embeddings(s, dir)
        .withColumn("e", col("embedding").cast("array<double>"))
      Dedup.embeddingCodeRows(emb.filter(col("vec_id") % 10 =!= 0),
          "vec_id", "e", lshPlanes)
        .write.mode("overwrite").parquet(p)
    }
    val arriving = Tables.embeddings(s, dir)
      .withColumn("e", col("embedding").cast("array<double>"))
      .filter(col("vec_id") % 10 === 0)
    Dedup.embeddingNearDupAgainstIndex(arriving, "vec_id", "e",
        s.read.parquet(idxPath), lshPlanes, codeRadius = 2,
        threshold = 0.3)
      .orderBy("d1", "d2")
  }

  /** Q293 ANN serving against a PERSISTED IVF model — the train/serve
    * split for the q283 family: a 1-round k-means coarse quantizer
    * (fixed stride 37 so the oracle replays the seed set without a
    * count) and the `Similarity.ivfCellIndex` assignment both persist
    * ONCE over the history split; each arriving probe
    * (vec_id % 10 = 0) ranks its 4 nearest cells against the stored
    * centroids and scores only those cells' members (exact cosine
    * from the index's frozen vectors). The corpus is never
    * re-assigned at query time. The streaming gear
    * (`ivfServeInRow` — two one-row model broadcasts, map-only) is
    * pinned result-identical by spec. */
  val q293: Q = (s, dir) => {
    val modelPath = persistedAsset("q293", dir) { p =>
      val hist = Tables.embeddings(s, dir)
        .withColumn("e", col("embedding").cast("array<double>"))
        .filter(col("vec_id") % 10 =!= 0)
      val cents = Similarity.kmeansCentroids(hist, "vec_id", "e",
          centroidStride = 37, iters = 1, dim = 64)
        .select(col("__cid"), col("__cv"))
      cents.write.mode("overwrite").parquet(s"$p/centroids")
      Similarity.ivfCellIndex(hist, "vec_id", "e", cents)
        .write.mode("overwrite").parquet(s"$p/cells")
    }
    val probes = Tables.embeddings(s, dir)
      .withColumn("e", col("embedding").cast("array<double>"))
      .filter(col("vec_id") % 10 === 0)
    Similarity.ivfServe(s.read.parquet(s"$modelPath/cells"),
        s.read.parquet(s"$modelPath/centroids"), probes, "vec_id", "e",
        k = 3, nprobe = 4)
      .orderBy("probe_id", "rank")
  }

  /** Q294 the EMBEDDING incremental near-dup as declarative config —
    * the q291 == q255 pattern for q292: the
    * `dedup_neardup_embedding_incremental` stage (planes re-derived
    * from config — hyperplanes is deterministic, so config IS the
    * geometry) must equal q292's library composition exactly, so this
    * gate shares q292's oracle verbatim. Batch submits take the
    * chunk-key join gear; streams take the in-row broadcast gear
    * (StreamingSpec pins stream == batch). */
  val q294: Q = (s, dir) => {
    val idxPath = persistedAsset("q292", dir) { p =>
      val emb = Tables.embeddings(s, dir)
        .withColumn("e", col("embedding").cast("array<double>"))
      Dedup.embeddingCodeRows(emb.filter(col("vec_id") % 10 =!= 0),
          "vec_id", "e", lshPlanes)
        .write.mode("overwrite").parquet(p)
    }
    val json =
      s"""{"name": "neardup-emb-incr-q294",
         |"source": {"type": "file", "options": {
         |  "format": "parquet", "path": "$dir/embeddings.parquet",
         |  "schema": "vec_id BIGINT, embedding ARRAY<FLOAT>"}},
         |"transforms": [
         |  {"type": "filter", "options": {"predicate": "vec_id % 10 = 0"}},
         |  {"type": "dedup_neardup_embedding_incremental", "options": {
         |    "id.field": "vec_id", "vec.field": "embedding",
         |    "index.path": "$idxPath",
         |    "planes.bits": "8", "dim": "64", "seed": "42",
         |    "code.radius": "2", "threshold": "0.3"}}],
         |"sink": {"type": "noop", "options": {}}}""".stripMargin
    Pipeline.build(s, PipelineSpec.fromJson(json), streaming = false)
      .orderBy("d1", "d2")
  }

  /** Q295 windowed co-activity profile — the BOUNDED live-profile
    * batch twin (q290's session-interval profile re-expressed on
    * tumbling windows so it can ALSO run watermarked on a stream —
    * `StreamingOps.coActivityProfileStream` is pinned
    * result-identical by StreamingSpec): per hour window each active
    * user's top-5 co-active partners by the partner's in-window
    * event count (count desc, partner asc; keys compared as strings
    * — one binary collation across Spark, the stream's Scala sort,
    * and DuckDB). Output ≤ actives·k per window. */
  val q295: Q = (s, dir) =>
    Behavior.coActivityProfile(Tables.events(s, dir), "user_id", "ts",
        windowMs = 3600000L, k = 5)
      .orderBy("window_start", "user_id", "rank")

  /** Q296 ANN serving against a PERSISTED IVF-PQ model (Jégou et al.
    * 2011's IVFADC) — the memory-scale completion of q293: the
    * history split persists THREE assets once (the stride-37 coarse
    * centroid set, a 1-round PQ codebook, and `pqCodeCells` — cell +
    * m-code per doc, NO raw vectors), and each arriving probe
    * (vec_id % 10 = 0) ranks its 4 nearest cells and ADC-scores only
    * those cells' members through its own (sub, cid) → d2 LUT. The
    * float corpus is read zero times at search; every LUT entry is
    * an integer-valued double, so adc_d2 is exact BIGINT and the
    * (adc_d2, id) rank replays in SQL. The streaming gear
    * (`ivfPqServeInRow` — three one-row model broadcasts, the
    * PQ-compressed members map, map-only) is pinned result-identical
    * by spec. */
  val q296: Q = (s, dir) => {
    val modelPath = persistedAsset("q296", dir) { p =>
      val hist = Tables.embeddings(s, dir)
        .withColumn("e", col("embedding").cast("array<double>"))
        .filter(col("vec_id") % 10 =!= 0)
      val coarse = Similarity.strideCentroids(hist, "vec_id", "e",
        centroidStride = 37)
      coarse.write.mode("overwrite").parquet(s"$p/coarse")
      val book = Similarity.pqTrain(hist, "vec_id", "e", m = 4, dim = 64,
        centroidStride = 37, iters = 1)
      book.write.mode("overwrite").parquet(s"$p/codebook")
      Similarity.pqCodeCells(hist, "vec_id", "e", coarse, book,
          m = 4, dim = 64)
        .write.mode("overwrite").parquet(s"$p/codes")
    }
    val probes = Tables.embeddings(s, dir)
      .withColumn("e", col("embedding").cast("array<double>"))
      .filter(col("vec_id") % 10 === 0)
    Similarity.ivfPqServe(s.read.parquet(s"$modelPath/codes"),
        s.read.parquet(s"$modelPath/coarse"),
        s.read.parquet(s"$modelPath/codebook"), probes, "vec_id", "e",
        k = 3, nprobe = 4, m = 4, dim = 64)
      .orderBy("probe_id", "rank")
  }

  /** Q297 BOUNDED embedding near-dup serving — q292's incremental
    * gear with the q289 output contract: each arriving doc keeps its
    * 3 best history matches (rounded-cosine desc, history id asc), so
    * serving output is ≤ |batch|·k regardless of history density. The
    * r16 perturbed-replica sweep measured q292's threshold output at
    * ~100× on 10× data (every copy of a vector stays near-dup of
    * every copy of its neighbors — the q37 semantics inherited by
    * serving); the production dedup-serving question is "what is the
    * closest existing doc", which this answers with a bounded plan.
    * q292 stays as the exact threshold semantics. */
  val q297: Q = (s, dir) => {
    val idxPath = persistedAsset("q292", dir) { p =>
      val emb = Tables.embeddings(s, dir)
        .withColumn("e", col("embedding").cast("array<double>"))
      Dedup.embeddingCodeRows(emb.filter(col("vec_id") % 10 =!= 0),
          "vec_id", "e", lshPlanes)
        .write.mode("overwrite").parquet(p)
    }
    val arriving = Tables.embeddings(s, dir)
      .withColumn("e", col("embedding").cast("array<double>"))
      .filter(col("vec_id") % 10 === 0)
    Dedup.embeddingNearDupAgainstIndexTopK(arriving, "vec_id", "e",
        s.read.parquet(idxPath), lshPlanes, codeRadius = 2,
        threshold = 0.3, k = 3)
      .orderBy("d1", "rank")
  }

  /** Q298 ANN serving as declarative config — the q294 == q292
    * pattern for retrieval: the `ann_serve` stage (model.type =
    * ivfpq) over q296's persisted (coarse, codebook, codes) assets
    * must equal q296's library composition exactly, so this gate
    * shares q296's oracle verbatim. Batch submits take the
    * cell-pruned join gear; probe streams take the in-row
    * three-broadcast gear (StreamingSpec pins the operators
    * stream == batch). */
  val q298: Q = (s, dir) => {
    val modelPath = persistedAsset("q296", dir) { p =>
      val hist = Tables.embeddings(s, dir)
        .withColumn("e", col("embedding").cast("array<double>"))
        .filter(col("vec_id") % 10 =!= 0)
      val coarse = Similarity.strideCentroids(hist, "vec_id", "e",
        centroidStride = 37)
      coarse.write.mode("overwrite").parquet(s"$p/coarse")
      val book = Similarity.pqTrain(hist, "vec_id", "e", m = 4, dim = 64,
        centroidStride = 37, iters = 1)
      book.write.mode("overwrite").parquet(s"$p/codebook")
      Similarity.pqCodeCells(hist, "vec_id", "e", coarse, book,
          m = 4, dim = 64)
        .write.mode("overwrite").parquet(s"$p/codes")
    }
    val json =
      s"""{"name": "ann-serve-q298",
         |"source": {"type": "file", "options": {
         |  "format": "parquet", "path": "$dir/embeddings.parquet",
         |  "schema": "vec_id BIGINT, embedding ARRAY<FLOAT>"}},
         |"transforms": [
         |  {"type": "filter", "options": {"predicate": "vec_id % 10 = 0"}},
         |  {"type": "ann_serve", "options": {
         |    "model.type": "ivfpq", "model.path": "$modelPath",
         |    "id.field": "vec_id", "vec.field": "embedding",
         |    "k": "3", "nprobe": "4", "pq.m": "4", "dim": "64"}}],
         |"sink": {"type": "noop", "options": {}}}""".stripMargin
    Pipeline.build(s, PipelineSpec.fromJson(json), streaming = false)
      .orderBy("probe_id", "rank")
  }

  /** q292's AND q294's oracle: the q37 brute-force replay (inlined
    * hyperplanes, Hamming ≤ 2, exact cosine ≥ 0.3) restricted to
    * DIRECTED cross-split pairs — d1 arriving (vec_id % 10 = 0), d2
    * history. */
  private def embServingOracle: String =
    embPairOracle("a.vec_id % 10 = 0 AND b.vec_id % 10 <> 0", "d1", "d2")

  /** q293's oracle: one Lloyd round over the history split (the
    * kmeansRefineOracle CTEs, stride 37), the cell assignment of the
    * history corpus and each probe's 4 nearest cells replayed from
    * the SAME refined centroid set, then q284's scoring tail over the
    * probed cells' members. */
  private def ivfServeOracle: String =
    "WITH eall AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, " +
      "list_transform(CAST(embedding AS DOUBLE[]), x -> round(x * 1024)) AS q FROM embeddings), " +
      "e AS (SELECT * FROM eall WHERE vec_id % 10 <> 0), " +
      "c0 AS (SELECT vec_id AS cid, q AS cv FROM e WHERE vec_id % 37 = 0), " +
      "p AS (SELECT unnest(range(1, 65)) AS i), " +
      "a1 AS (SELECT e.vec_id, e.q, c0.cid, row_number() OVER (PARTITION BY e.vec_id ORDER BY " +
      "list_dot_product(e.q, e.q) - 2 * list_dot_product(e.q, c0.cv) + list_dot_product(c0.cv, c0.cv), c0.cid) AS rn FROM e, c0), " +
      "m1 AS (SELECT vec_id, q, cid FROM a1 WHERE rn = 1), " +
      "s1 AS (SELECT cid, i, round(SUM(q[i]) / COUNT(*)) AS mu FROM m1, p GROUP BY cid, i), " +
      "n1 AS (SELECT cid, list(mu ORDER BY i) AS cv FROM s1 GROUP BY cid), " +
      "c1 AS (SELECT c0.cid, COALESCE(n1.cv, c0.cv) AS cv FROM c0 LEFT JOIN n1 USING (cid)), " +
      "dist AS (SELECT eall.vec_id, c1.cid, " +
      "list_dot_product(eall.q, eall.q) - 2 * list_dot_product(eall.q, c1.cv) + list_dot_product(c1.cv, c1.cv) AS d2 FROM eall, c1), " +
      "asg AS (SELECT vec_id, cid FROM (SELECT vec_id, cid, " +
      "ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM dist WHERE vec_id % 10 <> 0) t WHERE rn = 1), " +
      "pc AS (SELECT vec_id AS probe_id, cid FROM (SELECT vec_id, cid, " +
      "ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM dist WHERE vec_id % 10 = 0) t WHERE rn <= 4), " +
      "cand AS (SELECT pc.probe_id, a.vec_id FROM asg a JOIN pc USING (cid) WHERE a.vec_id <> pc.probe_id), " +
      "pvv AS (SELECT vec_id AS probe_id, v AS pv FROM eall WHERE vec_id % 10 = 0), " +
      "scored AS (SELECT c.probe_id, c.vec_id AS neighbor_id, " +
      "list_dot_product(e2.v, pvv.pv) / (sqrt(list_dot_product(e2.v, e2.v)) * sqrt(list_dot_product(pvv.pv, pvv.pv))) AS raw " +
      "FROM cand c JOIN eall e2 ON c.vec_id = e2.vec_id JOIN pvv ON c.probe_id = pvv.probe_id), " +
      "r AS (SELECT probe_id, neighbor_id, raw, ROW_NUMBER() OVER " +
      "(PARTITION BY probe_id ORDER BY raw DESC, neighbor_id) AS rn FROM scored) " +
      "SELECT probe_id, neighbor_id, ROUND(raw, 4) AS score, CAST(rn AS INT) AS rank " +
      "FROM r WHERE rn <= 3 ORDER BY probe_id, rank"

  /** q296's oracle: the IVFADC pipeline replayed end-to-end in SQL —
    * the stride-37 coarse set and its history assignment (the
    * ivfServeOracle shape, unrefined), one PQ training round + encode
    * (the pqOracleCtes program restricted to the history split), each
    * probe's 4 nearest cells, the per-probe (sub, cid) → d2 LUT, and
    * the exact-BIGINT ADC sums ranked (adc_d2, neighbor_id). */
  private def ivfPqServeOracle: String =
    "WITH eall AS (SELECT vec_id, " +
      "list_transform(CAST(embedding AS DOUBLE[]), x -> round(x * 1024)) AS q FROM embeddings), " +
      "cent AS (SELECT vec_id AS cid, q AS cv FROM eall WHERE vec_id % 37 = 0 AND vec_id % 10 <> 0), " +
      "dist AS (SELECT eall.vec_id, cent.cid, " +
      "list_dot_product(eall.q, eall.q) - 2 * list_dot_product(eall.q, cent.cv) + list_dot_product(cent.cv, cent.cv) AS d2 FROM eall, cent), " +
      "asg AS (SELECT vec_id, cid FROM (SELECT vec_id, cid, " +
      "ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM dist WHERE vec_id % 10 <> 0) t WHERE rn = 1), " +
      "pc AS (SELECT vec_id AS probe_id, cid FROM (SELECT vec_id, cid, " +
      "ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM dist WHERE vec_id % 10 = 0) t WHERE rn <= 4), " +
      "ss AS (SELECT CAST(unnest(range(0, 4)) AS INT) AS s), " +
      "sub AS (SELECT eall.vec_id, ss.s, list_slice(eall.q, ss.s * 16 + 1, ss.s * 16 + 16) AS sv FROM eall, ss), " +
      "c0 AS (SELECT s, vec_id AS cid, sv AS cv FROM sub WHERE vec_id % 37 = 0 AND vec_id % 10 <> 0), " +
      "p AS (SELECT unnest(range(1, 17)) AS i), " +
      "a1 AS (SELECT sub.vec_id, sub.s, sub.sv, c0.cid, row_number() OVER (PARTITION BY sub.vec_id, sub.s ORDER BY " +
      "list_dot_product(sub.sv, sub.sv) - 2 * list_dot_product(sub.sv, c0.cv) + list_dot_product(c0.cv, c0.cv), c0.cid) AS rn " +
      "FROM sub JOIN c0 USING (s) WHERE sub.vec_id % 10 <> 0), " +
      "m1 AS (SELECT vec_id, s, sv, cid FROM a1 WHERE rn = 1), " +
      "s1 AS (SELECT s, cid, i, round(SUM(sv[i]) / COUNT(*)) AS mu FROM m1, p GROUP BY s, cid, i), " +
      "n1 AS (SELECT s, cid, list(mu ORDER BY i) AS cv FROM s1 GROUP BY s, cid), " +
      "c1 AS (SELECT c0.s, c0.cid, COALESCE(n1.cv, c0.cv) AS cv FROM c0 LEFT JOIN n1 USING (s, cid)), " +
      "enc AS (SELECT vec_id, s, cid FROM (SELECT sub.vec_id, sub.s, c1.cid, row_number() OVER (PARTITION BY sub.vec_id, sub.s ORDER BY " +
      "list_dot_product(sub.sv, sub.sv) - 2 * list_dot_product(sub.sv, c1.cv) + list_dot_product(c1.cv, c1.cv), c1.cid) AS rn " +
      "FROM sub JOIN c1 USING (s) WHERE sub.vec_id % 10 <> 0) t WHERE rn = 1), " +
      "cand AS (SELECT pc.probe_id, a.vec_id FROM asg a JOIN pc USING (cid) WHERE a.vec_id <> pc.probe_id), " +
      "psub AS (SELECT vec_id AS probe_id, s, sv FROM sub WHERE vec_id % 10 = 0), " +
      "lut AS (SELECT psub.probe_id, c1.s, c1.cid, " +
      "list_dot_product(psub.sv, psub.sv) - 2 * list_dot_product(psub.sv, c1.cv) + list_dot_product(c1.cv, c1.cv) AS d2 " +
      "FROM c1 JOIN psub USING (s)), " +
      "sc AS (SELECT cand.probe_id, cand.vec_id AS neighbor_id, CAST(SUM(lut.d2) AS BIGINT) AS adc_d2 " +
      "FROM cand JOIN enc ON cand.vec_id = enc.vec_id " +
      "JOIN lut ON lut.probe_id = cand.probe_id AND lut.s = enc.s AND lut.cid = enc.cid GROUP BY 1, 2), " +
      "r AS (SELECT probe_id, neighbor_id, adc_d2, ROW_NUMBER() OVER " +
      "(PARTITION BY probe_id ORDER BY adc_d2, neighbor_id) AS rn FROM sc) " +
      "SELECT probe_id, neighbor_id, adc_d2, CAST(rn AS INT) AS rank " +
      "FROM r WHERE rn <= 3 ORDER BY probe_id, rank"

  /** q297's oracle: the q292 directed cross-split pair program with
    * the per-arriving top-3 rank on (rounded cosine desc, d2 asc). */
  private def embServingTopKOracle: String = {
    def codeExpr(vecSql: String): String =
      lshPlanes.zipWithIndex.map { case (p, i) =>
        s"(CASE WHEN list_dot_product(list_transform($vecSql, x -> round(x * 1024)), " +
          s"[${p.map(c => s"$c.0").mkString(",")}]) >= 0 THEN ${1L << i} ELSE 0 END)"
      }.mkString(" + ")
    "WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e, " +
      s"${codeExpr("CAST(embedding AS DOUBLE[])")} AS code FROM embeddings), " +
      "p AS (SELECT a.vec_id AS d1, b.vec_id AS d2, a.e AS ae, b.e AS be FROM c a JOIN c b " +
      "ON a.vec_id % 10 = 0 AND b.vec_id % 10 <> 0 AND bit_count(xor(a.code, b.code)) <= 2), " +
      "s AS (SELECT d1, d2, list_dot_product(ae, be) / " +
      "(sqrt(list_dot_product(ae, ae)) * sqrt(list_dot_product(be, be))) AS cs FROM p), " +
      "r AS (SELECT d1, d2, ROUND(cs, 4) AS cosine, ROW_NUMBER() OVER " +
      "(PARTITION BY d1 ORDER BY ROUND(cs, 4) DESC, d2) AS rn FROM s WHERE cs >= 0.3) " +
      "SELECT d1, d2, cosine, CAST(rn AS INT) AS rank FROM r WHERE rn <= 3 ORDER BY d1, rank"
  }

  /** q255's AND q291's oracle (the two postures compute the same
    * answer): q231's brute-force reference restricted to cross-split
    * pairs — directed containment |A∩B|/|A| with the exact 7/10 gate,
    * A and B on opposite sides of the doc_id % 10 split. */
  private def containmentIncrOracle: String =
    "WITH w AS (SELECT doc_id, str_split(lower(trim(text)), ' ') AS ws FROM documents), " +
      "t AS (SELECT DISTINCT doc_id, unnest(list_distinct([array_to_string(ws[i:i+2], ' ') FOR i IN range(1, len(ws) - 1)])) AS sh " +
      "FROM w WHERE len(ws) >= 3), " +
      "sig AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM t GROUP BY 1), " +
      "j AS (SELECT a.doc_id AS d1, b.doc_id AS d2, CAST(COUNT(*) AS BIGINT) AS ni " +
      "FROM t a JOIN t b ON a.sh = b.sh AND (a.doc_id % 10 = 0) <> (b.doc_id % 10 = 0) GROUP BY 1, 2) " +
      "SELECT d1, d2, s1.n AS n1, ni AS n_inter, " +
      "round(CAST(ni AS DOUBLE) / s1.n, 6) AS containment " +
      "FROM j JOIN sig s1 ON j.d1 = s1.doc_id " +
      "WHERE ni * 10 >= s1.n * 7 ORDER BY d1, d2"

  private def embNearDupTopKOracle: String = {
    def codeExpr(vecSql: String): String =
      lshPlanes.zipWithIndex.map { case (p, i) =>
        s"(CASE WHEN list_dot_product(list_transform($vecSql, x -> round(x * 1024)), " +
          s"[${p.map(c => s"$c.0").mkString(",")}]) >= 0 THEN ${1L << i} ELSE 0 END)"
      }.mkString(" + ")
    "WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e, " +
      s"${codeExpr("CAST(embedding AS DOUBLE[])")} AS code FROM embeddings), " +
      // ceil(log2(N)) = bit length of N-1 (bin() has no leading zeros)
      "k AS (SELECT CAST(length(bin(GREATEST(COUNT(*), 2) - 1)) AS INT) AS kk FROM c), " +
      "p AS (SELECT a.vec_id AS doc_id, b.vec_id AS neighbor_id, " +
      "ROUND(list_dot_product(a.e, b.e) / (sqrt(list_dot_product(a.e, a.e)) * " +
      "sqrt(list_dot_product(b.e, b.e))), 4) AS cosine FROM c a JOIN c b " +
      "ON a.vec_id <> b.vec_id AND bit_count(xor(a.code, b.code)) <= 2), " +
      "r AS (SELECT doc_id, neighbor_id, cosine, ROW_NUMBER() OVER " +
      "(PARTITION BY doc_id ORDER BY cosine DESC, neighbor_id) AS rn " +
      "FROM p WHERE cosine >= 0.3) " +
      "SELECT doc_id, neighbor_id, cosine, CAST(rn AS INT) AS rank " +
      "FROM r CROSS JOIN k WHERE rn <= kk ORDER BY doc_id, rank"
  }

  /** Q278 Wald SPRT per variant — the SEQUENTIAL purchase-rate gate
    * (H0: 10%, H1: 15%, α = β = 5%): pure-BIGINT log-likelihood over
    * portable micro-nat literals the oracle embeds verbatim, decided
    * against the Wald boundaries. The fixed-horizon q146 z-test's
    * early-stopping sibling; `StreamingOps.sprtStream` serves the
    * same state live. */
  val q278: Q = (s, dir) =>
    Eval.sprt(Tables.events(s, dir)
        .withColumn("variant", pmod(col("user_id"), lit(2L)).cast("string"))
        .withColumn("purchased", col("event_type") === "purchase"),
      "purchased", p0Num = 1L, p0Den = 10L, p1Num = 3L, p1Den = 20L,
      alphaMilli = 50L, betaMilli = 50L, by = Seq("variant"))
      .orderBy("variant")

  /** Q277 REAL baseline-TIFF decode (north star multimodal): q131's
    * text-byte truecolor pixels as actual TIFF files (`Tiff.encode` —
    * II header, typed IFD, single uncompressed strip) pushed through
    * the FULL decoder (byte-order dispatch, tag walk with
    * inline-vs-offset values, strip assembly, RGB→BGR), reported like
    * q108/q131/q273. The oracle replays the decoded-pixel stats from
    * raw text — matching only if the IFD round-trip is bit-exact. */
  val q277: Q = (s, dir) => {
    import graft.multimodal.{Multimodal, Tiff}
    val d = Tables.documents(s, dir)
    bmpFeatureReport(d, Multimodal.decodeTiffFeatures(
      textRasterAssets(d, "image/tiff", Tiff.encode)))
  }

  /** Q276 Kish effective sample size per language under
    * length-proportional sampling (w = n_chars): how many docs is the
    * weighted sample statistically WORTH — the design-efficiency
    * diagnostic every mixture/DSIR scheme owes beside its weights,
    * with ESS/n = 1/(1+cv²) as integer ppm. */
  val q276: Q = (s, dir) =>
    Sampling.effectiveSampleSize(Tables.documents(s, dir), Seq("lang"),
        "n_chars")
      .orderBy("lang")

  /** Q275 k-core of the near-dup pair graph (q30's exact-Jaccard
    * pairs): the densely-duplicated document families — every
    * surviving doc has ≥ k in-core near-dups, a property no single
    * degree filter gives (peeling one doc can drag its neighbors
    * below k). Fixed peel unrolling, loud convergence verify. */
  val q275: Q = (s, dir) =>
    Graph.kCore(
        Dedup.nearDupPairs(Tables.documents(s, dir), "doc_id", "text",
          threshold = 0.8, shingleWidth = 3, bands = 16, rowsPerBand = 3),
        "d1", "d2", k = 2, maxRounds = 4)
      .orderBy("id")

  /** Q274 Hilbert-curve layout audit — q209's write-time file-skipping
    * audit with the Hilbert key beside the Morton key: the
    * never-jumps curve clusters both dimensions strictly tighter than
    * Morton's quadrant seams. Pure integer bit walk, one chained
    * projection per level, exact-quantile file cuts. */
  val q274: Q = (s, dir) => {
    val e = Tables.events(s, dir)
      .withColumn("__day", datediff(col("ts").cast("date"),
        lit("2024-01-01").cast("date")).cast("long"))
    Layout.hilbertAudit(e, "user_id", "__day", bits = 16, files = 16)
      .orderBy("layout", "file")
  }

  /** Q273 REAL QOI decode (north star multimodal): q131's text-byte
    * truecolor pixels encoded as actual QOI files (`Qoi.encode` —
    * run/index/diff/luma/rgb greedy ops) and pushed through the FULL
    * decoder (header walk, all six chunk ops, the stateful 64-slot
    * rolling index, end-marker verification), reported like
    * q108/q131. The oracle replays the decoded-pixel stats from raw
    * text, so it only matches if encode→decode is bit-exact —
    * including the index-array bookkeeping on both sides. */
  val q273: Q = (s, dir) => {
    import graft.multimodal.{Multimodal, Qoi}
    val d = Tables.documents(s, dir)
    bmpFeatureReport(d, Multimodal.decodeQoiFeatures(
      textRasterAssets(d, "image/qoi", Qoi.encode)))
  }

  /** Q272 TextRank keywords — q148's PageRank run on the word
    * co-occurrence graph (adjacent non-stopword pairs, q271's
    * corpus-derived stoplist, co-occurrence counts as edge weights):
    * the graph-centrality companion to RAKE's degree/freq scores.
    * 3 replayed iterations, top-25 by (pr desc, word asc).
    *
    * The edge list rides a RELATIVE support cap (the q200 discipline,
    * r13 sweep fix): only pairs occurring ≥ max(2, N·5000/10⁶) times
    * survive — 5000 ppm of the doc count, so the PageRank graph keeps
    * corpus-frequent collocations and its size stays ~support-bounded
    * instead of growing with every novel adjacent pair (5.8× on 10×
    * data before the cap). One count() action derives the cap, the
    * sqrtStride convention; the oracle replays the identical floor. */
  val q272: Q = (s, dir) => {
    val d = Tables.documents(s, dir)
    val w = filter(split(lower(trim(col("text"))), " "), t => t =!= "")
    val uni = d.select(explode(w).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("__c"))
    val stopArr = uni.orderBy(col("__c").desc, col("tok").asc).limit(20)
      .agg(sort_array(collect_list(col("tok"))).as("__stops"))
    val biArr = when(size(w) >= 2,
      filter(transform(sequence(lit(1), size(w) - 1),
        i => struct(element_at(w, i).as("a"), element_at(w, i + 1).as("b"))),
        p => !array_contains(col("__stops"), p.getField("a")) &&
          !array_contains(col("__stops"), p.getField("b"))))
      .otherwise(array().cast("array<struct<a:string,b:string>>"))
    val minSupport = math.max(2L, d.count() * 5000L / 1000000L)
    // both union branches (src→dst and the swap) read this table in
    // pageRank's one edge plan: exchange reuse runs the corpus
    // tokenize+explode+count once
    val pairs = d.crossJoin(broadcast(stopArr))
      .select(explode(biArr).as("p"))
      .select(least(col("p.a"), col("p.b")).as("x"),
        greatest(col("p.a"), col("p.b")).as("y"))
      .where(col("x") < col("y"))
      .groupBy("x", "y").agg(count(lit(1)).as("w"))
      .where(col("w") >= minSupport)
    val edges = pairs.select(col("x").as("src"), col("y").as("dst"), col("w"))
      .unionByName(pairs.select(col("y").as("src"), col("x").as("dst"),
        col("w")))
    Graph.pageRankWeighted(edges, "src", "dst", "w", iters = 3)
      .select(col("id").as("word"), col("degree").as("out_weight"),
        round(col("rank"), 6).as("pr"))
      .orderBy(col("pr").desc, col("word").asc).limit(25)
  }

  /** Q271 RAKE keyphrase extraction with CORPUS-DERIVED stopwords
    * (top-20 tokens): maximal non-stopword runs score degree/freq —
    * the multi-word companion to q129's single-term tf-idf. Phrases
    * assemble in-row (mark-and-split); every score is an integer
    * micro decision. */
  val q271: Q = (s, dir) =>
    TextMetrics.rakeKeywords(Tables.documents(s, dir), "text",
      k = 25, stopK = 20, maxPhraseLen = 4)

  /** Q270 simplified silhouette of the 1-round-trained kmeans model
    * (q75's quantizer) — the "did k split anything real" readout at
    * assignment-round cost: per cluster, the mean of
    * (b − a)/b over integer-exact centroid distances, quantized to
    * micro before the sum so the means are integer decisions. */
  val q270: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
      .withColumn("e", col("embedding").cast("array<double>"))
    val cents = Similarity.kmeansCentroids(emb, "vec_id", "e",
      centroidStride = Similarity.sqrtStride(emb), iters = 1, dim = 64)
    Similarity.simplifiedSilhouette(emb, "vec_id", "e", cents)
      .orderBy("cid")
  }

  /** Q268 l-diversity distribution over (lang, length-bucket)
    * equivalence classes with `source` as the sensitive attribute —
    * q227 reports the worst class; this profiles the whole anonymity
    * surface per distinct-count l, with entropy l-diversity
    * (micro-nat exact) as the stricter readout. */
  val q268: Q = (s, dir) => {
    val d = Tables.documents(s, dir)
      .withColumn("len_bucket", expr("n_chars div 100"))
    Profile.lDiversityProfile(d, Seq("lang", "len_bucket"), "source")
      .orderBy("l")
  }

  /** Q269 t-closeness over (nation, market-segment) classes with the
    * bucketed account balance as the ORDERED sensitive attribute —
    * the leak l-diversity misses: EMD between each class's balance
    * distribution and the global one, integer-exact per class. */
  val q269: Q = (s, dir) => {
    val c = Tables.customer(s, dir)
      .withColumn("bal_bucket",
        floor(col("c_acctbal").cast("double") / 1000.0d).cast("long"))
    Profile.tCloseness(c, Seq("c_nationkey", "c_mktsegment"),
      "bal_bucket").orderBy("n_rows")
  }

  /** Q267 single-changepoint detection per event-type daily series —
    * q189's CUSUM says a drift started; this returns the exact split
    * day maximizing the between-segment SSE reduction, with exact
    * integer micro gains so the argmax is engine-independent. */
  val q267: Q = (s, dir) => {
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), col("ts").cast("date").as("day"))
      .agg(count(lit(1)).as("n_ev"))
    Behavior.changepointSse(daily, Seq("event_type"), "day", "n_ev")
      .orderBy("event_type")
  }

  /** Q260 one-way ANOVA of the hashed quality score across languages
    * — the k-sample mean gate (q146 is two-sample): F with eta² so a
    * large-corpus "significant" split reads against explained
    * variance. Unit-exact SS via DECIMAL floor divisions. */
  val q260: Q = (s, dir) => {
    val scored = TextMetrics.hashedLinearScoreInRow(
      Tables.documents(s, dir), "doc_id", "text", dims = 64,
      keep = Seq("lang"))
    Eval.anovaOneWay(scored, "lang", "score").orderBy("n")
  }

  /** Q261 Kruskal–Wallis H over the same language split — the
    * rank-based distribution-shift companion to q260's mean test,
    * immune to the score's heavy tails. Doubled-average-rank
    * histogram machinery (q187's device, k-wide). */
  val q261: Q = (s, dir) => {
    val scored = TextMetrics.hashedLinearScoreInRow(
      Tables.documents(s, dir), "doc_id", "text", dims = 64,
      keep = Seq("lang"))
    Eval.kruskalWallis(scored, "lang", "score").orderBy("n")
  }

  /** Q262 McNemar's paired test between two keep-gates — the length
    * rule (n_chars ≥ 400) vs the hashed-score rule (score ≥ 0) on the
    * SAME documents: are their disagreements symmetric, i.e. would
    * swapping rules change the corpus keep rate? */
  val q262: Q = (s, dir) => {
    val scored = TextMetrics.hashedLinearScoreInRow(
      Tables.documents(s, dir), "doc_id", "text", dims = 64,
      keep = Seq("n_chars"))
      .withColumn("g1", col("n_chars") >= 400L)
      .withColumn("g2", col("score") >= 0L)
    Eval.mcnemar(scored, "g1", "g2").orderBy("n")
  }

  /** Q263 G-test (log-likelihood ratio) of lang × source independence
    * — q151's chi-square on the same grid, in additive
    * information-theoretic form (G = 2n·MI, micro-nat exact). */
  val q263: Q = (s, dir) =>
    Eval.gTest(Tables.documents(s, dir), "lang", "source").orderBy("n")

  /** Q264 Cohen's d (with Hedges' g) between the en and zh quality
    * scores — the effect SIZE beside q260/q261's test statistics:
    * how many pooled standard deviations apart are the means? */
  val q264: Q = (s, dir) => {
    val scored = TextMetrics.hashedLinearScoreInRow(
      Tables.documents(s, dir), "doc_id", "text", dims = 64,
      keep = Seq("lang"))
    Eval.cohensD(scored, "lang", "score", "en", "zh").orderBy("n_a")
  }

  /** Q265 Brown–Forsythe variance-homogeneity test across languages —
    * q260's equal-variance assumption, checked: one-way ANOVA over
    * |score − lang-median| with the deterministic LOWER median. */
  val q265: Q = (s, dir) => {
    val scored = TextMetrics.hashedLinearScoreInRow(
      Tables.documents(s, dir), "doc_id", "text", dims = 64,
      keep = Seq("lang"))
    Eval.brownForsythe(scored, "lang", "score").orderBy("n")
  }

  /** Q266 Cochran–Armitage trend test — is the positive-score rate
    * MONOTONE in the document-length dose (n_chars div 100, capped at
    * 5)? The curriculum/filtering question chi-square wastes power
    * on; exact DECIMAL products, one division. */
  val q266: Q = (s, dir) => {
    val scored = TextMetrics.hashedLinearScoreInRow(
      Tables.documents(s, dir), "doc_id", "text", dims = 64,
      keep = Seq("n_chars"))
      .withColumn("dose", expr("least(n_chars div 100, 5)"))
      .withColumn("pos", col("score") >= 0L)
    Eval.cochranArmitage(scored, "dose", "pos").orderBy("n")
  }

  /** Q258 REAL baseline-JPEG decode (north star multimodal): per doc
    * a DC-only grayscale JPEG built from the spec tables (one flat
    * 8×8 block per text byte — `Jpeg.encodeGrayBlocks`), pushed
    * through the FULL decoder (marker walk, Huffman entropy decode,
    * dequantize, IDCT, level shift) and reported like q108/q131/q174
    * — the oracle replays the decoded-pixel stats from the raw text,
    * so it only matches if the whole encode→decode pipeline is
    * bit-exact. */
  val q258: Q = (s, dir) => {
    import graft.multimodal.{Asset, Jpeg, Multimodal}
    val d = Tables.documents(s, dir)
    val enc = org.apache.spark.sql.Encoders.product[Asset]
    val assets = d.select(col("doc_id").as("asset_id"),
        lit("image/jpeg").as("media_type"),
        col("text").cast("binary").as("bytes"),
        (lit(1) + pmod(col("doc_id"), lit(3))).cast("int").as("width"),
        (lit(1) + pmod(col("doc_id"), lit(2))).cast("int").as("height"))
      .as[Asset](enc)
      .mapPartitions { it =>
        it.map { a =>
          val grays = Array.tabulate(a.width * a.height)(i =>
            if (i < a.bytes.length) a.bytes(i) & 0xff else 32)
          a.copy(bytes = Jpeg.encodeGrayBlocks(a.width, a.height, grays))
        }
      }(enc)
    bmpFeatureReport(d, Multimodal.decodeJpegFeatures(assets))
  }

  /** Q256 bounded-error sketch intersection: per-source bottom-k
    * vocabulary signatures composed with the q241 HLL union —
    * |A∩B| ≈ Ĵ·est(A∪B) with Var(Ĵ) ≤ J(1−J)/k, the certificate
    * HLL inclusion–exclusion cannot give on small overlaps (its
    * documented caveat — this is the closing of it). */
  val q256: Q = (s, dir) => {
    val toks = Tables.documents(s, dir)
      .select(col("source"),
        explode(filter(split(lower(trim(col("text"))), " "),
          t => t =!= "")).as("__t"))
      .select(col("source"), TextMetrics.tokenHash(col("__t")).as("th"))
    Sketch.bottomKIntersect(
        Sketch.bottomKSketch(toks, Seq("source"), "th"),
        Sketch.hllSketch(toks, Seq("source"), "th"), "source")
      .orderBy("g1", "g2")
  }

  /** Q206 Cohen's kappa per lang between two corpus gates — the
    * length rule (n_toks ≥ 50) vs the hashed quality score (≥ 0):
    * chance-corrected label agreement, exact integer 2×2 counts,
    * one double division. "Do my two quality gates measure the same
    * thing, or does skew fake their raw agreement?" */
  val q206: Q = (s, dir) => {
    val scored = TextMetrics.hashedLinearScoreInRow(
      Tables.documents(s, dir), "doc_id", "text", dims = 64,
      keep = Seq("lang"))
    Eval.cohensKappa(
      scored.withColumn("__r1", col("n_toks") >= 50L)
        .withColumn("__r2", col("score") >= 0L),
      "__r1", "__r2", by = Seq("lang"))
      .orderBy("lang")
  }

  /** Q207 Fleiss' kappa per lang over R = 5 deterministic synthetic
    * raters (each votes the length label, hash-flipped with p = 0.2)
    * — the multi-annotator agreement readout for redundant labeling
    * passes; per-item positive-vote counts are all the statistic
    * needs. */
  val q207: Q = (s, dir) => {
    val scored = TextMetrics.hashedLinearScoreInRow(
      Tables.documents(s, dir), "doc_id", "text", dims = 64,
      keep = Seq("lang"))
    val votes = scored
      .select(col("doc_id"), col("lang"), (col("n_toks") >= 50L).as("__y"),
        explode(sequence(lit(0L), lit(4L))).as("__r"))
      .withColumn("__flip",
        pmod(pmod(col("doc_id") * 31L + col("__r"), lit(1000000007L)) *
          2654435761L, lit(1000000007L)) % 10L < 2L)
      .withColumn("__vote", col("__y") =!= col("__flip"))
    val perItem = votes.groupBy("doc_id", "lang")
      .agg(sum(when(col("__vote"), 1L).otherwise(0L)).as("n_pos"))
    Eval.fleissKappa(perItem, "n_pos", r = 5, by = Seq("lang"))
      .orderBy("lang")
  }

  /** Q209 z-order vs lexicographic layout audit over events
    * (user_id × event day): per-file min/max spans as ppm of the
    * global span — the write-time file-skipping readout. Z-order
    * keeps BOTH dimensions prunable; the lex sort smears the
    * trailing dimension across every file. */
  val q209: Q = (s, dir) => {
    val e = Tables.events(s, dir)
      .withColumn("__day", datediff(col("ts").cast("date"),
        lit("2024-01-01").cast("date")).cast("long"))
    Layout.layoutAudit(e, "user_id", "__day", bits = 16, files = 16)
      .orderBy("layout", "file")
  }

  /** Q210 lognormal fit of doc length per lang: MLE μ/σ in portable
    * micro-nats plus model-vs-empirical p90 — the capacity-planning
    * readout (batch assembly, truncation budgets) beside q204's
    * tail index. */
  val q210: Q = (s, dir) =>
    TextMetrics.lognormalFit(Tables.documents(s, dir), Seq("lang"),
        "n_chars")
      .orderBy("lang")

  /** Q211 Fano factor of daily event counts per type: var/mean over
    * the calendar-honest day span (gap days are exact zeros) — ≈1
    * Poisson-organic, ≫1 bursty replays/backfills, <1 metronome
    * automation. */
  val q211: Q = (s, dir) => {
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"),
        datediff(col("ts").cast("date"), lit("2024-01-01").cast("date"))
          .cast("long").as("x"))
      .agg(count(lit(1)).as("n"))
    Behavior.fanoFactor(daily, Seq("event_type"), "x", "n")
      .orderBy("event_type")
  }

  /** Q212 top principal component of the embedding covariance via
    * matrix-free power iteration: per-dim mean/variance + unit top
    * eigenvector + Rayleigh eigenvalue — the anisotropy readout
    * (is cosine measuring content, or one rogue common direction?).
    * C is never materialized; each round is one codegen'd dot scan
    * + one map-combined per-dim aggregation. */
  val q212: Q = (s, dir) =>
    Similarity.topComponent(Tables.embeddings(s, dir), "embedding",
        dims = 64, iters = 5)
      .orderBy("dim")

  /** Shared q215 fixture: each doc rendered as a REAL AVI video —
    * frame f holds the next w×h text bytes as gray pixels
    * (space-padded; ASCII corpus: byte == codepoint, pinned by the
    * corpus invariant), so the whole container pipeline — RIFF
    * framing, headers, bottom-up DIB rows, stride padding — must be
    * right for the luma sums to match the oracle's text arithmetic. */
  private def textAviAssets(d: DataFrame):
      org.apache.spark.sql.Dataset[graft.multimodal.Asset] = {
    import graft.multimodal.{Asset, Avi}
    val enc = org.apache.spark.sql.Encoders.product[Asset]
    d.select(col("doc_id").as("asset_id"),
        lit("video/avi").as("media_type"),
        col("text").cast("binary").as("bytes"),
        (lit(8) + pmod(col("doc_id"), lit(9))).cast("int").as("width"),
        (lit(5) + pmod(col("doc_id"), lit(7))).cast("int").as("height"))
      .as[Asset](enc)
      .mapPartitions { it =>
        it.map { a =>
          val nf = (3 + (a.asset_id % 4)).toInt
          val wh = a.width * a.height
          val frames = (0 until nf).map { f =>
            Array.tabulate(wh) { i =>
              val p = f * wh + i
              if (p < a.bytes.length) a.bytes(p) else 32.toByte
            }
          }
          a.copy(bytes = Avi.encodeGray(a.width, a.height, 40000, frames))
        }
      }(enc)
  }

  /** Q215 REAL video decode + frame sampling (north star): the docs
    * corpus rendered as actual AVI containers, decoded through the
    * typed seam with every-2nd-frame sampling, per-lang exact luma
    * report — gray BT.601 round-trips bit-exact, so the oracle
    * replays the sampled-frame sums straight from the text. */
  val q215: Q = (s, dir) => {
    import graft.multimodal.Multimodal
    val d = Tables.documents(s, dir)
    Multimodal.decodeAviFrames(textAviAssets(d), sampleEvery = 2).toDF()
      .join(d.select(col("doc_id"), col("lang")),
        col("asset_id") === col("doc_id"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_videos"),
        sum(col("n_frames").cast("long")).as("total_frames"),
        sum(col("n_sampled").cast("long")).as("sampled_frames"),
        sum(col("sampled_pixels")).as("sampled_pixels"),
        sum(col("sampled_luma_sum")).as("sum_luma"),
        sum(expr("sampled_luma_sum * 1000000 div sampled_pixels"))
          .as("sum_mean_micro"))
      .orderBy("lang")
  }

  /** Q216 overlapping passage chunking (window 32, stride 24 — 8-token
    * overlap): the RAG/retrieval prep artifact with deterministic
    * chunk ids; entirely scan-local, no shuffle until a consumer
    * aggregates. */
  val q216: Q = (s, dir) =>
    TextMetrics.passageChunks(Tables.documents(s, dir), "doc_id", "text",
        window = 32, stride = 24)
      .orderBy("doc_id", "chunk_id")

  /** Q217 weighted sampling without replacement (Efraimidis–Spirakis
    * keys): top-20 per lang with inclusion probability ∝ n_chars —
    * the length-proportional corpus draw rate-quotas can't express;
    * portable-hash u, round-12 ln(u)/w keys, id tie-break. */
  val q217: Q = (s, dir) =>
    Sampling.weightedSample(
        Tables.documents(s, dir).select(col("lang"), col("doc_id"),
          col("n_chars")),
        "doc_id", "n_chars", k = 20, by = Seq("lang"))
      .orderBy(col("lang"), col("es_key").desc, col("doc_id"))

  /** Q218 NDCG@10 + MRR per lang: does the hashed quality scorer put
    * the long (relevant) documents on top? Graded relevance from
    * length bands, all-integer micro discount table, one division
    * for NDCG — the ranking-gate metric AUC can't give because it
    * weights the top of the list. */
  val q218: Q = (s, dir) => {
    val scored = TextMetrics.hashedLinearScoreInRow(
        Tables.documents(s, dir), "doc_id", "text", dims = 64,
        keep = Seq("lang"))
      .withColumn("rel", when(col("n_toks") >= 80L, 2L)
        .when(col("n_toks") >= 40L, 1L).otherwise(0L))
    Eval.rankingMetrics(scored, "lang", "doc_id", "score", "rel", k = 10)
      .orderBy("lang")
  }

  /** Q219 REAL G.711 μ-law stream decode: text-derived linear samples
    * companded to the telephony wire format, decoded back through the
    * typed seam, per-lang exact integer signal report — engine and
    * oracle implement the companding law independently, so agreement
    * validates both directions. */
  val q219: Q = (s, dir) => {
    import graft.multimodal.{Asset, Multimodal, Mulaw}
    val d = Tables.documents(s, dir)
    val enc = org.apache.spark.sql.Encoders.product[Asset]
    val assets = d.select(col("doc_id").as("asset_id"),
        lit("audio/basic").as("media_type"),
        col("text").cast("binary").as("bytes"),
        lit(8000).as("width"), lit(1).as("height"))
      .as[Asset](enc)
      .mapPartitions { it =>
        it.map { a =>
          val samples = Array.tabulate(120) { i =>
            val b = if (i < a.bytes.length) a.bytes(i) & 0xff else 32
            (b * 257 - 32768).toShort
          }
          a.copy(bytes = Mulaw.encode(samples))
        }
      }(enc)
    Multimodal.decodeMulawSignal(assets).toDF()
      .join(d.select(col("doc_id"), col("lang")),
        col("asset_id") === col("doc_id"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_streams"),
        sum(col("n_samples")).as("n_samples"),
        sum(col("sum_dec")).as("sum_dec"),
        sum(col("sum_abs")).as("sum_abs"),
        max(col("peak")).as("peak"))
      .orderBy("lang")
  }

  /** Q220 rank-biased overlap @10 per lang between the hashed quality
    * scorer and the raw length heuristic: the top-weighted do-my-two-
    * rankers-agree gate (τ weighs position 9000 like position 9; RBO
    * doesn't) — all-integer suffix-sum weights, one BIGINT sum. */
  val q220: Q = (s, dir) => {
    val scored = TextMetrics.hashedLinearScoreInRow(
      Tables.documents(s, dir), "doc_id", "text", dims = 64,
      keep = Seq("lang", "n_chars"))
    Eval.rankBiasedOverlap(scored, "lang", "doc_id", "score", "n_chars",
        k = 10)
      .orderBy("lang")
  }

  /** Q213 "fightin' words" per lang: top-10 over-represented tokens
    * by Dirichlet-smoothed z-scored log-odds vs the rest of the
    * corpus — the corpus-comparison triage raw frequency ratios get
    * wrong (they overweight rare flukes; the variance term fixes
    * that). */
  val q213: Q = (s, dir) =>
    TextMetrics.logOddsWords(Tables.documents(s, dir), "text", "lang",
        k = 10)
      .orderBy(col("lang"), col("zscore").desc, col("token"))

  /** Q214 pairwise Jensen–Shannon source-similarity matrix: which
    * source tags are the same feed in disguise (js → 0) and which are
    * genuinely distinct (js → ln 2) — dedup triage + mixture design
    * input; vocab-bounded via the one-sided-tail ln 2 identity. */
  val q214: Q = (s, dir) =>
    CorpusLM.jsSourceMatrix(Tables.documents(s, dir), "text", "source")
      .orderBy("s1", "s2")

  /** Q208 Bradley–Terry strengths over event types from per-user
    * engagement comparisons (user prefers A over B when they did A
    * more): the pairwise-preference model behind RLHF comparison
    * data, solved by 5 oracle-replayed MM rounds over the 5×5 game
    * table — corpus cardinality never reaches the solver. */
  val q208: Q = (s, dir) => {
    val pu = Tables.events(s, dir).groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("__c"))
    val pairs = pu.alias("a").join(pu.alias("b"),
        col("a.user_id") === col("b.user_id") &&
          col("a.event_type") < col("b.event_type"))
      .select(col("a.event_type").as("__x"), col("b.event_type").as("__y"),
        col("a.__c").as("__cx"), col("b.__c").as("__cy"))
      .filter(col("__cx") =!= col("__cy"))
    val xy = pairs.groupBy(col("__x"), col("__y"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("__cx") > col("__cy"), 1L).otherwise(0L)).as("wx"))
    val games = xy.select(col("__x").as("i"), col("__y").as("j"),
        col("n"), col("wx").as("w"))
      .unionByName(xy.select(col("__y").as("i"), col("__x").as("j"),
        col("n"), (col("n") - col("wx")).as("w")))
    Eval.bradleyTerry(games, "i", "j", "n", "w", iters = 5)
      .orderBy("item")
  }

  /** The q209 oracle: the same BIGINT grid ranks and Morton
    * interleave as column arithmetic, quantile_cont file cuts (the
    * q157 idiom), per-file span ppm via integer div. */
  private def zorderOracle(bits: Int, files: Int): String = {
    val two = 1L << bits
    val inter = (0 until bits).map(i =>
      s"((bx >> $i) & 1) * ${1L << (2 * i)} + ((by >> $i) & 1) * ${1L << (2 * i + 1)}")
      .mkString(" + ")
    def cuts(key: String) = (1 until files).map(i =>
      s"quantile_cont(CAST($key AS DOUBLE), CAST($i AS DOUBLE) / $files) AS c$i")
      .mkString(", ")
    def fileOf(key: String) = (1 until files).map(i =>
      s"CASE WHEN CAST($key AS DOUBLE) > c$i THEN 1 ELSE 0 END")
      .mkString(" + ") + " + 1"
    def side(l: String, key: String) =
      s"c_$l AS (SELECT ${cuts(key)} FROM k), " +
        s"a_$l AS (SELECT ${fileOf(key)} AS file, x, y FROM k CROSS JOIN c_$l), " +
        s"g_$l AS (SELECT file, CAST(COUNT(*) AS BIGINT) AS n, MIN(x) AS fxmin, MAX(x) AS fxmax, " +
        s"MIN(y) AS fymin, MAX(y) AS fymax FROM a_$l GROUP BY 1), " +
        s"r_$l AS (SELECT '$l' AS layout, file, n, " +
        s"CASE WHEN xmax > xmin THEN (fxmax - fxmin) * 1000000 // (xmax - xmin) ELSE 0 END AS x_span_ppm, " +
        s"CASE WHEN ymax > ymin THEN (fymax - fymin) * 1000000 // (ymax - ymin) ELSE 0 END AS y_span_ppm " +
        s"FROM g_$l, st)"
    "WITH b AS (SELECT user_id AS x, date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS y FROM events), " +
      "st AS (SELECT MIN(x) AS xmin, MAX(x) AS xmax, MIN(y) AS ymin, MAX(y) AS ymax FROM b), " +
      s"k0 AS (SELECT x, y, (x - xmin) * $two // (xmax - xmin + 1) AS bx, " +
      s"(y - ymin) * $two // (ymax - ymin + 1) AS by FROM b, st), " +
      s"k AS MATERIALIZED (SELECT x, y, $inter AS zkey, bx * $two + by AS lkey FROM k0), " +
      side("zorder", "zkey") + ", " + side("lex", "lkey") + " " +
      "SELECT * FROM (SELECT * FROM r_zorder UNION ALL SELECT * FROM r_lex) ORDER BY layout, file"
  }

  /** q274's oracle: [[zorderOracle]]'s frame with the Hilbert key
    * generated as `bits` chained CTE steps — per level the quadrant
    * digit xor(3·rx, ry)·s² and the reflect/transpose rotation,
    * exactly the operator's walk. */
  private def hilbertOracle(bits: Int, files: Int): String = {
    val two = 1L << bits
    val inter = (0 until bits).map(i =>
      s"((bx >> $i) & 1) * ${1L << (2 * i)} + ((by >> $i) & 1) * ${1L << (2 * i + 1)}")
      .mkString(" + ")
    val steps = (bits - 1 to 0 by -1).zipWithIndex.map { case (i, j) =>
      val s = 1L << i
      s"h${j + 1} AS (SELECT x, y, zkey, hd + CAST(${s * s} AS BIGINT) * xor(3 * rx, ry) AS hd, " +
        s"CASE WHEN ry = 0 THEN (CASE WHEN rx = 1 THEN ${s - 1} - hy ELSE hy END) ELSE hx END AS hx, " +
        s"CASE WHEN ry = 0 THEN (CASE WHEN rx = 1 THEN ${s - 1} - hx ELSE hx END) ELSE hy END AS hy " +
        s"FROM (SELECT *, CASE WHEN (hx & $s) > 0 THEN 1 ELSE 0 END AS rx, " +
        s"CASE WHEN (hy & $s) > 0 THEN 1 ELSE 0 END AS ry FROM h$j))"
    }.mkString(", ")
    def cuts(key: String) = (1 until files).map(i =>
      s"quantile_cont(CAST($key AS DOUBLE), CAST($i AS DOUBLE) / $files) AS c$i")
      .mkString(", ")
    def fileOf(key: String) = (1 until files).map(i =>
      s"CASE WHEN CAST($key AS DOUBLE) > c$i THEN 1 ELSE 0 END")
      .mkString(" + ") + " + 1"
    def side(l: String, key: String) =
      s"c_$l AS (SELECT ${cuts(key)} FROM k), " +
        s"a_$l AS (SELECT ${fileOf(key)} AS file, x, y FROM k CROSS JOIN c_$l), " +
        s"g_$l AS (SELECT file, CAST(COUNT(*) AS BIGINT) AS n, MIN(x) AS fxmin, MAX(x) AS fxmax, " +
        s"MIN(y) AS fymin, MAX(y) AS fymax FROM a_$l GROUP BY 1), " +
        s"r_$l AS (SELECT '$l' AS layout, file, n, " +
        s"CASE WHEN xmax > xmin THEN (fxmax - fxmin) * 1000000 // (xmax - xmin) ELSE 0 END AS x_span_ppm, " +
        s"CASE WHEN ymax > ymin THEN (fymax - fymin) * 1000000 // (ymax - ymin) ELSE 0 END AS y_span_ppm " +
        s"FROM g_$l, st)"
    "WITH b AS (SELECT user_id AS x, date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS y FROM events), " +
      "st AS (SELECT MIN(x) AS xmin, MAX(x) AS xmax, MIN(y) AS ymin, MAX(y) AS ymax FROM b), " +
      s"k0 AS (SELECT x, y, (x - xmin) * $two // (xmax - xmin + 1) AS bx, " +
      s"(y - ymin) * $two // (ymax - ymin + 1) AS by FROM b, st), " +
      s"h0 AS (SELECT x, y, $inter AS zkey, bx AS hx, by AS hy, CAST(0 AS BIGINT) AS hd FROM k0), " +
      steps + ", " +
      s"k AS MATERIALIZED (SELECT x, y, zkey, hd AS hkey FROM h$bits), " +
      side("hilbert", "hkey") + ", " + side("zorder", "zkey") + " " +
      "SELECT * FROM (SELECT * FROM r_hilbert UNION ALL SELECT * FROM r_zorder) ORDER BY layout, file"
  }

  /** The q218 oracle: the q206 scored-doc CTEs + the SAME micro
    * discount literals (`Eval.rankWeightsMicro`) in a CASE table,
    * pure-BIGINT DCG/IDCG sums, one division for NDCG. */
  private def ndcgOracle(k: Int): String = {
    val ws = graft.operators.Eval.rankWeightsMicro(k)
    def wCase(r: String) = "CASE " + (1 to k).map(i =>
      s"WHEN $r = $i THEN ${ws(i - 1)}").mkString(" ") + " ELSE 0 END"
    "WITH t AS (SELECT doc_id, lang, unnest(str_split(lower(trim(text)), ' ')) AS tok FROM documents), " +
      "h AS (SELECT doc_id, lang, list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      "list_transform(range(1, length(tok) + 1), i -> CAST(unicode(substr(tok, CAST(i AS INT), 1)) AS BIGINT))), " +
      "(a, b) -> (a * 31 + b) % 2147483647) AS th FROM t WHERE tok <> ''), " +
      "w AS (SELECT doc_id, lang, ((th % 64) * 2654435761) % 1000000007 % 2001 - 1000 AS wt FROM h), " +
      "d AS (SELECT doc_id, lang, COUNT(*) AS n_toks, SUM(wt) AS score FROM w GROUP BY 1, 2), " +
      "v AS (SELECT doc_id, lang, score, CASE WHEN n_toks >= 80 THEN 2 WHEN n_toks >= 40 THEN 1 ELSE 0 END AS rel FROM d), " +
      "r AS (SELECT lang, rel, row_number() OVER (PARTITION BY lang ORDER BY score DESC, doc_id ASC) AS r, " +
      "row_number() OVER (PARTITION BY lang ORDER BY rel DESC, doc_id ASC) AS ri FROM v), " +
      s"g AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n, " +
      s"CAST(SUM(CASE WHEN r <= $k THEN rel * (${wCase("r")}) ELSE 0 END) AS BIGINT) AS dcg_micro, " +
      s"CAST(SUM(CASE WHEN ri <= $k THEN rel * (${wCase("ri")}) ELSE 0 END) AS BIGINT) AS idcg_micro, " +
      "MIN(CASE WHEN rel >= 1 THEN r END) AS fr FROM r GROUP BY 1) " +
      "SELECT lang, n, dcg_micro, idcg_micro, " +
      "CASE WHEN idcg_micro > 0 THEN round(CAST(dcg_micro AS DOUBLE) / CAST(idcg_micro AS DOUBLE), 6) END AS ndcg, " +
      "COALESCE(1000000 // fr, 0) AS mrr_micro FROM g ORDER BY lang"
  }

  /** The q220 oracle: the q206 scored-doc CTEs + n_chars as scorer B,
    * two rank windows, and the SAME suffix-sum micro literals
    * (`Eval.rboSuffixMicro`). */
  private def rboOracle(k: Int, pMicro: Long): String = {
    val sx = graft.operators.Eval.rboSuffixMicro(k, pMicro)
    val wCase = "CASE " + (1 to k).map(i =>
      s"WHEN m = $i THEN ${sx(i - 1)}").mkString(" ") + " ELSE 0 END"
    "WITH t AS (SELECT doc_id, lang, unnest(str_split(lower(trim(text)), ' ')) AS tok FROM documents), " +
      "h AS (SELECT doc_id, lang, list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      "list_transform(range(1, length(tok) + 1), i -> CAST(unicode(substr(tok, CAST(i AS INT), 1)) AS BIGINT))), " +
      "(a, b) -> (a * 31 + b) % 2147483647) AS th FROM t WHERE tok <> ''), " +
      "w AS (SELECT doc_id, lang, ((th % 64) * 2654435761) % 1000000007 % 2001 - 1000 AS wt FROM h), " +
      "d AS (SELECT doc_id, lang, SUM(wt) AS score FROM w GROUP BY 1, 2), " +
      "v AS (SELECT d.doc_id, d.lang, d.score, doc.n_chars FROM d JOIN documents doc USING (doc_id)), " +
      "r AS (SELECT lang, GREATEST(" +
      "row_number() OVER (PARTITION BY lang ORDER BY score DESC, doc_id ASC), " +
      "row_number() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id ASC)) AS m FROM v) " +
      s"SELECT lang, CAST(COUNT(*) AS BIGINT) AS n, " +
      s"CAST(SUM(CASE WHEN m <= $k THEN 1 ELSE 0 END) AS BIGINT) AS overlap_k, " +
      s"CAST(SUM($wCase) AS BIGINT) AS rbo_micro FROM r GROUP BY 1 ORDER BY lang"
  }

  /** The q212 oracle: the matrix-free power iteration unrolled —
    * per round one list_dot_product scan (same left-fold contract as
    * the engine's codegen'd dot), round-12 DECIMAL(38,12) per-dim
    * sums, the μ·Σs centering identity, list-fold norm, round-12
    * renormalization; Rayleigh λ from the final (v, w) pair. */
  private def embedPcaOracle(dims: Int, iters: Int): String = {
    val d1 = dims + 1
    val head =
      s"WITH e AS MATERIALIZED (SELECT list_transform(CAST(embedding AS DOUBLE[]), x -> round(x * 1024)) AS q " +
        s"FROM embeddings WHERE len(embedding) = $dims), " +
        s"st AS MATERIALIZED (SELECT CAST(i AS INTEGER) AS dim, CAST(COUNT(*) AS BIGINT) AS n, " +
        s"CAST(SUM(CAST(q[i] AS BIGINT)) AS BIGINT) AS sq, " +
        s"CAST(SUM(CAST(q[i] AS DECIMAL(38,0)) * CAST(q[i] AS BIGINT)) AS DECIMAL(38,0)) AS sq2 " +
        s"FROM e, unnest(range(1, $d1)) u(i) GROUP BY 1), " +
        s"mu AS MATERIALIZED (SELECT dim, round(CAST(sq AS DOUBLE) / n, 6) AS mu FROM st), " +
        s"v0 AS (SELECT dim, CAST(0.125 AS DOUBLE) AS vv FROM mu), "
    val rounds = (1 to iters).map { r =>
      s"vl${r - 1} AS (SELECT list(vv ORDER BY dim) AS vl FROM v${r - 1}), " +
        s"sr$r AS MATERIALIZED (SELECT q, list_dot_product(q, vl) AS s FROM e, vl${r - 1}), " +
        s"ss$r AS (SELECT CAST(SUM(CAST(round(s, 12) AS DECIMAL(38,12))) AS DOUBLE) AS ss FROM sr$r), " +
        s"wq$r AS (SELECT CAST(i AS INTEGER) AS dim, CAST(SUM(CAST(round(q[i] * s, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sqs " +
        s"FROM sr$r, unnest(range(1, $d1)) u(i) GROUP BY 1), " +
        s"wc$r AS MATERIALIZED (SELECT w.dim, sqs - mu.mu * ss AS w FROM wq$r w JOIN mu USING (dim), ss$r), " +
        s"nm$r AS (SELECT sqrt(list_dot_product(list(w ORDER BY dim), list(w ORDER BY dim))) AS nm FROM wc$r), " +
        s"v$r AS MATERIALIZED (SELECT dim, round(w / nm, 12) AS vv FROM wc$r, nm$r), "
    }.mkString
    head + rounds +
      s"lam AS (SELECT round(list_dot_product((SELECT list(vv ORDER BY dim) FROM v${iters - 1}), " +
      s"(SELECT list(w ORDER BY dim) FROM wc$iters)) / (SELECT MAX(n) FROM st), 6) AS eigval) " +
      s"SELECT st.dim, st.n, mu.mu, " +
      s"round(CAST(CAST(st.n AS DECIMAL(38,0)) * sq2 - CAST(sq AS DECIMAL(38,0)) * sq AS DOUBLE) / " +
      s"CAST(CAST(st.n AS DECIMAL(38,0)) * st.n AS DOUBLE), 6) AS variance, " +
      s"v$iters.vv AS loading, lam.eigval " +
      s"FROM st JOIN mu USING (dim) JOIN v$iters USING (dim), lam ORDER BY st.dim"
  }

  /** The q208 oracle: Hunter's MM rounds unrolled — per round, the
    * round-12 quantized denominator terms summed in DECIMAL(28,12),
    * the W/D update, and the sum-1 renormalization, exactly the
    * engine's program. */
  private def bradleyTerryOracle(iters: Int): String = {
    val head = "WITH pu AS (SELECT user_id, event_type, COUNT(*) AS c FROM events GROUP BY 1, 2), " +
      "pp AS (SELECT a.event_type AS x, b.event_type AS y, a.c AS cx, b.c AS cy " +
      "FROM pu a JOIN pu b ON a.user_id = b.user_id AND a.event_type < b.event_type WHERE a.c <> b.c), " +
      "xy AS (SELECT x, y, CAST(COUNT(*) AS BIGINT) AS n, " +
      "CAST(SUM(CASE WHEN cx > cy THEN 1 ELSE 0 END) AS BIGINT) AS wx FROM pp GROUP BY 1, 2), " +
      // MATERIALIZED hints: each round references w(r−1) TWICE — the
      // default inlining re-evaluates the whole upstream chain per
      // reference, going exponential in rounds (measured: >2 min
      // inlined, 0.04 s materialized at sf0.01)
      "g AS MATERIALIZED (SELECT x AS i, y AS j, n, wx AS w FROM xy UNION ALL SELECT y, x, n, n - wx FROM xy), " +
      "it AS MATERIALIZED (SELECT i AS id, CAST(SUM(w) AS BIGINT) AS n_wins, CAST(SUM(n) AS BIGINT) AS n_games FROM g GROUP BY 1), " +
      "w0 AS (SELECT id, CAST(1 AS DOUBLE) AS p FROM it), "
    val rounds = (1 to iters).map { r =>
      s"d$r AS (SELECT g.i AS id, CAST(SUM(CAST(CASE WHEN wi.p + wj.p > 0.0 " +
        s"THEN round(CAST(g.n AS DOUBLE) / (wi.p + wj.p), 12) ELSE 0.0 END AS DECIMAL(28,12))) AS DOUBLE) AS d " +
        s"FROM g JOIN w${r - 1} wi ON g.i = wi.id JOIN w${r - 1} wj ON g.j = wj.id GROUP BY 1), " +
        s"r$r AS (SELECT it.id, CASE WHEN d > 0.0 THEN round(CAST(n_wins AS DOUBLE) / d, 12) ELSE CAST(0 AS DOUBLE) END AS rr " +
        s"FROM it JOIN d$r USING (id)), " +
        s"s$r AS (SELECT CAST(SUM(CAST(rr AS DECIMAL(28,12))) AS DOUBLE) AS s FROM r$r), " +
        s"w$r AS MATERIALIZED (SELECT id, CASE WHEN s > 0.0 THEN round(rr / s, 12) ELSE CAST(0 AS DOUBLE) END AS p FROM r$r, s$r), "
    }.mkString
    head + rounds.dropRight(2) + " " +
      s"SELECT it.id AS item, n_wins, n_games, round(p, 6) AS strength " +
      s"FROM it JOIN w$iters USING (id) ORDER BY item"
  }

  /** The q196 oracle: Gonzalez's traversal unrolled — per round, the
    * exact min-distance-to-selected (integer-grid d², MIN over the
    * selected union) and the (d desc, id asc) argmax. */
  private def coresetOracle(k: Int): String = {
    val head = "WITH e AS (SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]), x -> round(x * 1024)) AS q FROM embeddings), " +
      "sel1 AS (SELECT vec_id, q FROM e WHERE vec_id = (SELECT MIN(vec_id) FROM e)), "
    val rounds = (2 to k).map { r =>
      s"d$r AS (SELECT e.vec_id, e.q, MIN(list_dot_product(e.q, e.q) - 2.0 * list_dot_product(e.q, s.q) + list_dot_product(s.q, s.q)) AS d " +
        s"FROM e CROSS JOIN sel${r - 1} s GROUP BY e.vec_id, e.q), " +
        s"c$r AS (SELECT vec_id, q, d FROM d$r ORDER BY d DESC, vec_id ASC LIMIT 1), " +
        s"sel$r AS (SELECT vec_id, q FROM sel${r - 1} UNION ALL SELECT vec_id, q FROM c$r), "
    }.mkString
    head + rounds.stripSuffix(", ") +
      " SELECT 1 AS sel_round, vec_id, CAST(NULL AS DOUBLE) AS radius FROM sel1" +
      (2 to k).map(r =>
        s" UNION ALL SELECT $r AS sel_round, vec_id, d AS radius FROM c$r")
        .mkString +
      " ORDER BY sel_round"
  }

  /** Q156 engagement pulse: per active day, exact DAU, trailing 7-day
    * WAU via a ×7 covered-day fan-out (no range join, no window over
    * users), and the DAU/WAU stickiness ratio. */
  val q156: Q = (s, dir) =>
    Behavior.engagement(Tables.events(s, dir), "user_id", "ts")

  /** Q157 decile lift of the hashed quality score against the
    * long-document outcome: nine exact global quantile cuts (boundary
    * ties to the lower decile), per-decile exact positive counts,
    * rate, and lift vs the overall rate — the ranking-model
    * acceptance table before a learned gate orders a corpus. */
  val q157: Q = (s, dir) => {
    val scored = TextMetrics.hashedLinearScoreInRow(
        Tables.documents(s, dir), "doc_id", "text", dims = 64,
        keep = Seq("n_chars"))
      .withColumn("long_doc", col("n_chars") >= 400L)
    Eval.decileLift(scored, "score", "long_doc")
  }

  /** Q158 exact two-sample KS between the train and holdout splits'
    * quality-score distributions (split = the q102 deterministic
    * hash, ~10% holdout): cumulative counts cross-multiplied in
    * DECIMAL so the statistic and its argmax are pure-integer
    * decisions — the distribution-shape drift gate chi-square
    * can't give. */
  val q158: Q = (s, dir) => {
    val scored = TextMetrics.hashedLinearScoreInRow(
        Tables.documents(s, dir), "doc_id", "text", dims = 64)
      .withColumn("holdout",
        (col("doc_id") * 2654435761L) % 1000000007L < 100000001L)
    Eval.ksTest(scored, "holdout", "score").orderBy("n_a")
  }

  /** Q159 weighted PageRank over the brand graph (q148 with edge
    * weights = co-occurrence counts): shares split ∝ weight over the
    * source's exact BIGINT out-weight — a 1000-order tie carries more
    * authority than a 2-order one. */
  val q159: Q = (s, dir) => {
    val bi = brandsByOrder(s, dir)
    val pairs = bi.join(bi.select(col("b"), col("i").as("j")), "b")
      .where(col("i") < col("j"))
      .groupBy(col("i").as("x"), col("j").as("y"))
      .agg(count(lit(1)).as("w"))
    val edges = pairs.select(col("x").as("src"), col("y").as("dst"), col("w"))
      .unionByName(pairs.select(col("y").as("src"), col("x").as("dst"),
        col("w")))
    Graph.pageRankWeighted(edges, "src", "dst", "w", iters = 3)
      .select(col("id").as("brand"), col("degree").as("out_weight"),
        round(col("rank"), 6).as("pr"))
      .orderBy(col("pr").desc, col("brand"))
  }

  /** Q160 cross-stratum score comparability through the percentile-
    * rank transform: the hashed quality score rank-normalized PER
    * LANGUAGE (all-integer average-rank numerator, ties share one
    * value), then the long-document cohort's mean percentile per
    * language — flat ≈ the gate is calibrated across strata. */
  val q160: Q = (s, dir) => {
    val scored = TextMetrics.hashedLinearScoreInRow(
      Tables.documents(s, dir), "doc_id", "text", dims = 64,
      keep = Seq("lang", "n_chars"))
    val isLong = col("n_chars") >= 400L
    Relational.percentileRank(scored, Seq("lang"), "score")
      .groupBy("lang")
      .agg(count(lit(1)).as("n"),
        sum(when(isLong, 1L).otherwise(0L)).as("n_long"),
        round(sum(when(isLong, col("pct")).otherwise(lit(0.0d))
            .cast("decimal(16,6)")).cast("double") /
          sum(when(isLong, 1L).otherwise(0L)), 6).as("avg_pct_long"))
      .orderBy("lang")
  }

  /** Q161 Pearson correlation matrix over lineitem's numeric columns
    * in one scan — ANALYZE's multivariate half: DECIMAL-exact moments,
    * fixed-order double correlations, listwise-complete rows. */
  val q161: Q = (s, dir) =>
    Profile.corrMatrix(Tables.lineitem(s, dir),
      Seq("l_discount", "l_extendedprice", "l_quantity", "l_tax"))

  /** Q162 whole-graph profile of the brand co-occurrence graph: node/
    * edge counts, connected components (min-label propagation),
    * largest component, global triangle count, mean degree — the
    * one-row health readout before any per-node graph analytics. */
  val q162: Q = (s, dir) => {
    val bi = brandsByOrder(s, dir)
    // consumed by THREE branches (triangles, edge count, components):
    // without this the pair build ran three times (r16)
    val pairs = Share.once(bi.join(bi.select(col("b"), col("i").as("j")), "b")
      .where(col("i") < col("j"))
      .select(col("i").as("x"), col("j").as("y"))
      .distinct(), "q162.pairs")
    val tri = Graph.triangles(pairs, "x", "y")
    val nodeStats = tri.agg(count(lit(1)).as("n_nodes"),
      sum(col("degree")).as("__sumdeg"),
      sum(col("n_triangles")).as("__tri3"))
    val edgeCount = pairs.agg(count(lit(1)).as("n_edges"))
    val comp = Dedup.dupClusters(pairs, "x", "y")
      .groupBy("cluster_id").agg(count(lit(1)).as("__sz"))
      .agg(count(lit(1)).as("n_components"),
        max(col("__sz")).as("largest_component"))
    nodeStats.crossJoin(broadcast(edgeCount)).crossJoin(broadcast(comp))
      .select(col("n_nodes"), col("n_edges"), col("n_components"),
        col("largest_component"),
        (col("__tri3") / 3).cast("long").as("n_triangles"),
        round(col("__sumdeg").cast("double") / col("n_nodes"), 4)
          .as("avg_degree"))
      .orderBy("n_nodes")
  }

  /** Q163 volume trend fit: per event type, the OLS slope / intercept
    * / R² of daily counts over the day index — the "is this feed
    * declining" readout that turns q145's point alarms into a
    * direction. */
  val q163: Q = (s, dir) => {
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), col("ts").cast("date").as("day"))
      .agg(count(lit(1)).as("n_events"))
      .withColumn("x", datediff(col("day"), lit("2024-01-01").cast("date")))
    Behavior.trendFit(daily, Seq("event_type"), "x", "n_events")
      .orderBy("event_type")
  }

  /** Q164 user growth curve: new users per first-seen day and the
    * running total — the acquisition readout beside q156's activity
    * pulse. */
  val q164: Q = (s, dir) =>
    Behavior.growthCurve(Tables.events(s, dir), "user_id", "ts")

  /** Q165 vocabulary-growth (Heaps-law) curve: distinct token types
    * vs corpus size over ten id-quantile slices — the statistic that
    * sizes a tokenizer vocabulary before q105/q107 train one. */
  val q165: Q = (s, dir) =>
    CorpusLM.vocabGrowth(Tables.documents(s, dir), "doc_id", "text")

  /** Q166 "also-bought" recommendations: q143's pair affinity made
    * directional (each pair serves both endpoints), then the top-3
    * partners per brand by (lift, n_pair) through the window top-k —
    * the co-occurrence recommender read straight off the basket
    * statistics. */
  val q166: Q = (s, dir) => {
    val baskets = Tables.lineitem(s, dir)
      .join(broadcast(Tables.part(s, dir)),
        col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey"), col("p_brand"))
    val aff = Affinity.pairAffinity(baskets, "l_orderkey", "p_brand",
      minSupport = 2L)
    val directional = aff
      .select(col("item_a").as("brand"), col("item_b").as("partner"),
        col("n_pair"), col("lift"))
      .unionByName(aff.select(col("item_b").as("brand"),
        col("item_a").as("partner"), col("n_pair"), col("lift")))
    Relational.topKPerGroup(directional, Seq("brand"),
        Seq(col("lift").desc, col("n_pair").desc, col("partner")), k = 3,
        rankCol = Some("rank"))
      .orderBy("brand", "rank")
  }

  /** Q167 Theil–Sen robust trend: the median of all pairwise slopes
    * of daily volume per event type — a single wild day drags OLS
    * (q163) but moves a median-of-slopes by one rank. Pairwise slopes
    * over the calendar-bounded day matrix, 6-dp-quantized, median via
    * the exact quantile program. */
  val q167: Q = (s, dir) => {
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), col("ts").cast("date").as("day"))
      .agg(count(lit(1)).as("n"))
      .withColumn("x", datediff(col("day"), lit("2024-01-01").cast("date")))
    Behavior.theilSen(daily, Seq("event_type"), "x", "n")
      .orderBy("event_type")
  }

  /** Q168 Mann–Kendall trend test (q167's significance gate): the
    * pairwise-sign S statistic, tie-corrected 18·Var(S), and the
    * continuity-corrected z — S/n/var18 pure BIGINT, z one fixed-order
    * double program. Same daily matrix as q167. */
  val q168: Q = (s, dir) => {
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), col("ts").cast("date").as("day"))
      .agg(count(lit(1)).as("n"))
      .withColumn("x", datediff(col("day"), lit("2024-01-01").cast("date")))
    Behavior.mannKendall(daily, Seq("event_type"), "x", "n")
      .orderBy("event_type")
  }

  /** Q169 weekly seasonal index (classical additive decomposition
    * readout over q145's daily matrix): per event type and day-of-week
    * phase, the centered mean deviation from a centered 7-day
    * moving-average trend — full windows only, exact-rational
    * detrending (7y − Σ7), one double division per phase. */
  val q169: Q = (s, dir) => {
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), col("ts").cast("date").as("day"))
      .agg(count(lit(1)).as("n"))
      .withColumn("x", datediff(col("day"), lit("2024-01-01").cast("date")))
    Behavior.seasonalIndex(daily, Seq("event_type"), "x", "n", period = 7)
      .orderBy("event_type", "phase")
  }

  /** Q170 incremental approx-distinct via mergeable HLL register
    * tables (the q87-style history split): per-event-type user
    * cardinality from history-sketch ⊕ batch-sketch — the full stream
    * is never rescanned. Merge == rescan is exact BY CONSTRUCTION
    * (SketchSpec pins table equality), so the oracle sketches the
    * union; the exact distinct count rides along as the report's
    * error reference. */
  val q170: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
      .select(col("event_type"), col("user_id"),
        col("ts").cast("date").as("day"))
    val cutoff = lit("2024-02-01").cast("date")
    val hist = Sketch.hllSketch(ev.filter(col("day") < cutoff),
      Seq("event_type"), "user_id")
    val batch = Sketch.hllSketch(ev.filter(col("day") >= cutoff),
      Seq("event_type"), "user_id")
    val est = Sketch.hllEstimate(
      Sketch.hllMerge(Seq(hist, batch), Seq("event_type")),
      Seq("event_type"))
    val exact = ev.groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("exact_distinct"))
    est.join(exact, "event_type").orderBy("event_type")
  }

  /** Q172 incremental ANALYZE profile (the sketch-backed
    * Profile.numeric): lineitem's four measures profiled from
    * history ⊕ batch moments sketches (q87's % 31 split) — counts,
    * min/max, DECIMAL-exact sums and the 6-dp mean all merge
    * exactly; the one non-mergeable statistic, distinct values,
    * rides along as an HLL estimate over the 1024-grid quantized
    * value key (the LSH quantize convention). The corpus is never
    * rescanned. */
  val q172: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir)
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val hist = li.filter(col("l_orderkey") % 31 === 0)
    val batch = li.filter(col("l_orderkey") % 31 =!= 0)
    val moments = Sketch.momentsReport(Sketch.momentsMerge(Seq(
      Sketch.momentsSketch(hist, cols), Sketch.momentsSketch(batch, cols))))
    def keys(df: DataFrame): DataFrame = df
      .select(explode(array(cols.map(c =>
        struct(lit(c).as("col_name"),
          round(col(c).cast("double") * 1024d).cast("long").as("u"))): _*))
        .as("m"))
      .select(col("m.col_name").as("col_name"), col("m.u").as("u"))
      .where(col("u").isNotNull)
    val est = Sketch.hllEstimate(Sketch.hllMerge(Seq(
        Sketch.hllSketch(keys(hist), Seq("col_name"), "u"),
        Sketch.hllSketch(keys(batch), Seq("col_name"), "u")),
      Seq("col_name")), Seq("col_name"))
    moments.join(est, "col_name").orderBy("col_name")
  }

  /** Q174 REAL GIF decode (the third raster container behind the
    * seam): each document renders as an actual GIF89a file — text
    * bytes as palette indices (GIF's native form), a formulaic
    * 256-entry color table, REAL variable-width LZW — and
    * `Multimodal.decodeGifFeatures` decodes the files back: signature
    * + logical-screen walk, global color table, genuine LZW with
    * clear/EOI and width growth, indices mapped through the file's
    * OWN palette. The oracle replays per-pixel BT.601 luma from the
    * raw text through the same palette formula by codepoint
    * arithmetic — matching only if the whole container round-trip is
    * bit-exact. */
  val q174: Q = (s, dir) => {
    import graft.multimodal.Multimodal
    val d = Tables.documents(s, dir)
    bmpFeatureReport(d, Multimodal.decodeGifFeatures(textGifAssets(d)))
  }

  /** Shared by q174: text bytes → GIF palette indices, formulaic
    * palette (r, g, b) = (i, 7i mod 256, 255 − i). */
  private def textGifAssets(d: DataFrame):
      org.apache.spark.sql.Dataset[graft.multimodal.Asset] = {
    import graft.multimodal.{Asset, Gif}
    val enc = org.apache.spark.sql.Encoders.product[Asset]
    d.select(col("doc_id").as("asset_id"),
        lit("image/gif").as("media_type"),
        col("text").cast("binary").as("bytes"),
        (lit(6) + pmod(col("doc_id"), lit(9))).cast("int").as("width"),
        (lit(4) + pmod(col("doc_id"), lit(5))).cast("int").as("height"))
      .as[Asset](enc)
      .mapPartitions { it =>
        val pal = Array.tabulate(768) { j =>
          val i = j / 3
          (j % 3 match {
            case 0 => i
            case 1 => (i * 7) % 256
            case _ => 255 - i
          }).toByte
        }
        it.map { a =>
          val n = a.width * a.height
          val idx = Array.tabulate(n)(i =>
            if (i < a.bytes.length) a.bytes(i) else 32.toByte)
          a.copy(bytes = Gif.encode(a.width, a.height, idx, pal))
        }
      }(enc)
  }

  /** Q176 Zipf rank-frequency fit (the tokenizer-sizing diagnostic
    * beside q165's Heaps law): per language, OLS of ln(freq) on
    * ln(rank) over the top-200 tokens — natural text slopes ≈ −1;
    * a flat or broken slope flags synthetic/garbled feeds. Ranks are
    * deterministic (freq desc, token asc), both lns 6-dp-rounded
    * before the DECIMAL-exact trendFit moments. */
  val q176: Q = (s, dir) => {
    val freqs = Tables.documents(s, dir)
      .select(col("lang"), explode(toks(col("text"))).as("tok"))
      .groupBy("lang", "tok")
      .agg(count(lit(1)).as("f"))
    TextMetrics.zipfFit(freqs, Seq("lang"), "tok", "f", k = 200)
      .orderBy("lang")
  }

  /** Q177 first/last-touch purchase attribution: every purchase
    * credits the user's first and last preceding non-purchase touch
    * on the (ts, event_id) total order; the two models' per-type
    * conversion counts sit side by side — their disagreement measures
    * journey length. */
  val q177: Q = (s, dir) =>
    Behavior.touchAttribution(Tables.events(s, dir), "user_id", "ts",
        "event_type", "event_id", convType = "purchase")
      .orderBy("touch_type")

  /** Q178 Kaplan–Meier time-to-first-purchase: per user, days from
    * first activity to first purchase (right-censored at last
    * activity for never-purchasers), then the KM curve — exact BIGINT
    * risk sets, 6-dp ln factors summed in DECIMAL, portable-rounded
    * survival. */
  val q178: Q = (s, dir) => {
    val peru = Tables.events(s, dir)
      .groupBy("user_id")
      .agg(min(col("ts")).as("t0"),
        min(when(col("event_type") === "purchase", col("ts"))).as("tp"),
        max(col("ts")).as("tmax"))
    val dur = peru.select(
      when(col("tp").isNotNull,
        datediff(col("tp").cast("date"), col("t0").cast("date")))
        .otherwise(datediff(col("tmax").cast("date"), col("t0").cast("date")))
        .as("dur"),
      when(col("tp").isNotNull, 1).otherwise(0).as("ev"))
    Behavior.kaplanMeier(dur, Seq.empty, "dur", "ev").orderBy("t")
  }

  /** Q175 per-source PSI drift gate over log-histogram sketches: each
    * source's n_chars distribution scored against the corpus marginal
    * ENTIRELY from the small sketch tables (the data could be long
    * gone) — add-one-smoothed exact rationals, 6-dp-rounded lns,
    * 9-dp terms summed in DECIMAL. */
  val q175: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val perSource = Sketch.logHistSketch(docs, Seq("source"), "n_chars")
    val corpus = Sketch.logHistSketch(docs, Seq.empty, "n_chars")
    Sketch.logHistPsi(perSource, Seq("source"), corpus)
      .orderBy("source")
  }

  /** Q221 Wasserstein-1 drift of each source's length distribution vs
    * the corpus, computed purely from the persisted log-histogram
    * sketches: PSI (q175) says THAT a feed moved; W₁ says HOW FAR in
    * relative-scale bucket units — exact integer CDF cross-products,
    * one 6-dp division. */
  val q221: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val perSource = Sketch.logHistSketch(docs, Seq("source"), "n_chars")
    val corpus = Sketch.logHistSketch(docs, Seq.empty, "n_chars")
    Sketch.logHistEmd(perSource, Seq("source"), corpus)
      .orderBy("source")
  }

  /** Q222 quantile-normalization mapping of doc length across
    * sources: each (source, n_chars) → the global value at the same
    * percentile position, all-integer rank/ceil-div/type-1 decisions
    * — the broadcastable table that makes one corpus-wide threshold
    * mean the same thing in every feed. */
  val q222: Q = (s, dir) =>
    Eval.quantileNormalizeMap(Tables.documents(s, dir), "source",
        "n_chars")
      .orderBy("source", "n_chars")

  /** Q223 data-contract audit: referential integrity (anti-join
    * posture), duplicate PKs, column-rule and cross-table-date checks
    * as one exact ppm report — the expectation suite an ingest runs
    * before joins silently drop rows; discount-policy rule exercises the
    * nonzero path. */
  val q223: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir)
    val o = Tables.orders(s, dir)
    val c = Tables.customer(s, dir)
    val shipJoined = li.select(col("l_orderkey"), col("l_shipdate"))
      .join(o.select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
    Profile.refIntegrity(li, "l_orderkey", o, "o_orderkey",
        "li_orphan_order")
      .unionByName(Profile.refIntegrity(o, "o_custkey", c, "c_custkey",
        "ord_orphan_cust"))
      .unionByName(Profile.checkRow(li, "li_nonpositive_qty",
        col("l_quantity") <= 0))
      .unionByName(Profile.checkRow(shipJoined, "li_ship_before_order",
        col("l_shipdate") < col("o_orderdate")))
      .unionByName(Profile.checkRow(li, "li_discount_over_5pct",
        col("l_discount") > 0.05))
      .unionByName(Profile.dupPk(o, "o_orderkey", "ord_dup_pk"))
      .orderBy("check")
  }

  /** Q173 Spearman rank correlation (the monotone-association gate):
    * does raw document length rank documents the way token count
    * does, per language — average-tie integer double-ranks from
    * vocab-bounded histograms, DECIMAL-exact moments, one fixed-order
    * correlation program. */
  val q173: Q = (s, dir) => {
    val d = Tables.documents(s, dir)
      .select(col("lang"), col("n_chars"),
        size(filter(split(lower(trim(col("text"))), " "), t => t =!= ""))
          .cast("long").as("n_toks"))
    Eval.spearman(d, Seq("lang"), "n_chars", "n_toks").orderBy("lang")
  }

  /** Q171 mergeable log-histogram rank queries (the DDSketch-shaped
    * incremental quantile path): per-lang p50/p90/p99 lower bounds of
    * n_chars from history ⊕ batch sketches (q87's doc_id % 31 split).
    * Bucket keys are pure integer bit-length programs; the answer is
    * within one ≤ 12.5%-wide bucket of the exact quantile. */
  val q171: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val hist = Sketch.logHistSketch(docs.filter(col("doc_id") % 31 === 0),
      Seq("lang"), "n_chars")
    val batch = Sketch.logHistSketch(docs.filter(col("doc_id") % 31 =!= 0),
      Seq("lang"), "n_chars")
    Sketch.logHistQuantiles(
        Sketch.logHistMerge(Seq(hist, batch), Seq("lang")), Seq("lang"),
        Seq("p50" -> 0.5, "p90" -> 0.9, "p99" -> 0.99))
      .orderBy("lang")
  }

  /** Q135 reciprocal-rank fusion (the score-free ensemble over q112's
    * scorer and a length prior): two rankers on incomparable scales —
    * the hashed quality score and raw character count — fuse per
    * language as Σ 10⁶ div (60 + rank), all-BIGINT, and the fused
    * top-5 per language is the report. No float ever decides an
    * ordering, so the oracle replays ranks, sums, and the fused list
    * exactly. */
  val q135: Q = (s, dir) => {
    val scored = TextMetrics.hashedLinearScoreInRow(
      Tables.documents(s, dir), "doc_id", "text", dims = 64,
      keep = Seq("lang", "n_chars"))
    Eval.rrfFuse(scored, "doc_id", by = Seq("lang"),
        rankers = Seq(
          "quality" -> Seq(col("score").desc),
          "length" -> Seq(col("n_chars").desc)),
        k = 60, topK = 5)
      .orderBy("lang", "rank")
  }

  /** Q134 corpus snapshot diff (the crawl-refresh report beside q87's
    * incremental dedup): the "new" snapshot derives deterministically
    * from the corpus — every 17th doc removed, every 5th's text
    * revised, every 13th re-added under a shifted id — and
    * `Dedup.corpusDiff` classifies every id added/removed/changed/
    * unchanged through 16 B fingerprints (text never crosses the
    * full-outer join). Per-(source, status) counts are the report a
    * feed owner reads before re-training. */
  val q134: Q = (s, dir) => {
    val d = Tables.documents(s, dir)
    val kept = d.filter(pmod(col("doc_id"), lit(17L)) =!= 0L)
      .withColumn("text",
        when(pmod(col("doc_id"), lit(5L)) === 0L,
          concat(col("text"), lit(" rev2"))).otherwise(col("text")))
    val added = d.filter(pmod(col("doc_id"), lit(13L)) === 0L)
      .withColumn("doc_id", col("doc_id") + 10000L)
    Dedup.corpusDiff(d, kept.unionByName(added), "doc_id", "text",
        keep = Seq("source"))
      .groupBy("source", "status")
      .agg(count(lit(1)).as("n"))
      .orderBy("source", "status")
  }

  /** Q132 hard-negative mining (the contrastive-training composition:
    * q37's near-dup pairs → q55's clustering → q54's batch kNN with a
    * cluster exclusion): the corpus is the q123 original+jittered-twin
    * set, duplicate clusters come from sign-LSH pairs at cosine ≥ 0.9,
    * and each probe's top-5 most-similar NON-cluster-mates are its
    * hard negatives — mined without the exclusion they would be false
    * negatives that poison embedding training. The oracle replays
    * blocking, pairs, transitive clustering, exclusion, and ranking. */
  val q132: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val twins = emb.select((col("vec_id") + 100000L).as("vec_id"),
      transform(col("e"),
        x => x + pmod(col("vec_id"), lit(10L)).cast("double") * 0.015).as("e"))
    val corpus = emb.unionByName(twins)
    val pairs = Dedup.embeddingNearDupPairs(corpus, "vec_id", "e",
      planes = lshPlanes, codeRadius = 2, threshold = 0.9)
    val clusters = Dedup.dupClusters(pairs, "d1", "d2")
    Similarity.hardNegatives(corpus, corpus.filter(col("vec_id") < 5),
        "vec_id", "e", clusters, k = 5, centroidStride = 37L, nprobe = 8)
      .orderBy("probe_id", "rank")
  }

  /** Q131 REAL PNG decode (the second raster container behind the
    * seam): each document renders as an actual truecolor PNG —
    * consecutive text byte triplets as (r, g, b) pixels, space-padded,
    * dimensions varying per doc — with the encoder CYCLING all five
    * scanline filter types per row, and `Multimodal.decodePngFeatures`
    * decodes the files back: chunk walk with CRC verification, zlib
    * inflate, every unfilter path, RGB→BGR to the shared raster. The
    * oracle replays per-pixel BT.601 luma from the raw text by
    * codepoint arithmetic — matching only if the whole container
    * round-trip is bit-exact. */
  val q131: Q = (s, dir) => {
    import graft.multimodal.Multimodal
    val d = Tables.documents(s, dir)
    bmpFeatureReport(d, Multimodal.decodePngFeatures(textPngAssets(d)))
  }

  /** Shared by q131: text byte triplets → truecolor PNG pixels. */
  private def textPngAssets(d: DataFrame):
      org.apache.spark.sql.Dataset[graft.multimodal.Asset] =
    textRasterAssets(d, "image/png", graft.multimodal.Png.encode)

  /** The ONE text→BGR truecolor asset builder behind q131 (PNG),
    * q273 (QOI), and q277 (TIFF): the (7 + id%8) × (4 + id%6) dims
    * and the space-padded byte-triplet mapping are load-bearing for
    * the shared `truecolorPixelReplayOracle` — parameterizing the
    * ENCODER is the only per-container difference, so a mapping
    * tweak can never silently diverge between containers. */
  private def textRasterAssets(d: DataFrame, mediaType: String,
      encodeRaster: (Int, Int, Array[Byte]) => Array[Byte]):
      org.apache.spark.sql.Dataset[graft.multimodal.Asset] = {
    import graft.multimodal.Asset
    val enc = org.apache.spark.sql.Encoders.product[Asset]
    d.select(col("doc_id").as("asset_id"),
        lit(mediaType).as("media_type"),
        col("text").cast("binary").as("bytes"),
        (lit(7) + pmod(col("doc_id"), lit(8))).cast("int").as("width"),
        (lit(4) + pmod(col("doc_id"), lit(6))).cast("int").as("height"))
      .as[Asset](enc)
      .mapPartitions { it =>
        it.map { a =>
          val n = a.width * a.height
          def t(j: Int): Byte =
            if (j < a.bytes.length) a.bytes(j) else 32.toByte
          val bgr = new Array[Byte](n * 3)
          var i = 0
          while (i < n) {
            bgr(i * 3) = t(i * 3 + 2)     // B
            bgr(i * 3 + 1) = t(i * 3 + 1) // G
            bgr(i * 3 + 2) = t(i * 3)     // R
            i += 1
          }
          a.copy(bytes = encodeRaster(a.width, a.height, bgr))
        }
      }(enc)
  }

  /** Q109 REAL pixel resize (north star): the q108 BMP corpus run
    * through `Multimodal.resizeBmp` — decode, nearest-neighbor
    * downscale to a 6-px bound, re-encode — then decoded AGAIN and
    * reported like q108. The oracle replays the resampling arithmetic
    * (out pixel (x,y) = src pixel (x*w/ow, y*h/oh), integer floor)
    * from the raw text, so it only matches if decode → resize →
    * re-encode → decode is bit-exact end to end. */
  val q109: Q = (s, dir) => {
    import graft.multimodal.Multimodal
    val d = Tables.documents(s, dir)
    bmpFeatureReport(d, Multimodal.decodeBmpFeatures(
      Multimodal.resizeBmp(textBmpAssets(d), maxDim = 6)))
  }

  /** Q110 REAL audio decode (north star, second modality): each
    * document's text renders as an actual RIFF/WAVE file — 120 mono
    * 16-bit PCM samples (sample i = codepoint×257 − 32768, spanning
    * the full signed range so LE sign handling is exercised), sample
    * rate varying per doc so the fmt-chunk parse is proven — and
    * `Multimodal.decodeWavFeatures` decodes the files back: rate from
    * the PARSED HEADER, exact integer sums and amplitude bins from
    * decoded samples. The oracle replays the stats from the raw text
    * via codepoint arithmetic — matching only if the chunk walk and
    * the signed little-endian sample decode are bit-exact. */
  /** Shared by q110/q119: each document rendered as an actual
    * RIFF/WAVE file — 120 mono 16-bit PCM samples (sample i =
    * codepoint×257 − 32768, spanning the full signed range so LE sign
    * handling is exercised), sample rate varying per doc so the
    * fmt-chunk parse is proven. The width metadata field carries the
    * target rate into the encoder (the decoder must recover it from
    * the file, not the metadata). */
  private def textWavAssets(d: DataFrame,
      sampleOf: Int => Int = b => b * 257 - 32768):
      org.apache.spark.sql.Dataset[graft.multimodal.Asset] = {
    import graft.multimodal.{Asset, Wav}
    val enc = org.apache.spark.sql.Encoders.product[Asset]
    d.select(col("doc_id").as("asset_id"),
        lit("audio/wav").as("media_type"),
        col("text").cast("binary").as("bytes"),
        (lit(8000) + pmod(col("doc_id"), lit(5)) * 1000).cast("int").as("width"),
        lit(1).as("height"))
      .as[Asset](enc)
      .mapPartitions { it =>
        it.map { a =>
          // first 120 text bytes as samples, space-padded
          val samples = Array.tabulate(120) { i =>
            val b = if (i < a.bytes.length) a.bytes(i) & 0xff else 32
            sampleOf(b).toShort
          }
          a.copy(bytes = Wav.encode(a.width, 1, samples))
        }
      }(enc)
  }

  val q110: Q = (s, dir) => {
    import graft.multimodal.Multimodal
    val d = Tables.documents(s, dir)
    Multimodal.decodeWavFeatures(textWavAssets(d)).toDF()
      .join(d.select(col("doc_id"), col("lang")), col("asset_id") === col("doc_id"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n"),
        sum(col("sample_rate")).as("sum_rate"),
        sum(col("n_samples")).as("total_samples"),
        sum(col("sum_sample")).as("sum_sample_total"),
        sum(col("sum_abs")).as("sum_abs_total"),
        sum(element_at(col("histogram"), 3)).as("h2"),
        sum(element_at(col("histogram"), 7)).as("h6"),
        sum(element_at(col("histogram"), 8)).as("h7"))
      .orderBy("lang")
  }

  /** Q111 overlapping-window exact-substring dedup (Lee et al. 2022's
    * ExactSubstr, the dedup step that catches duplicated passages at
    * ANY alignment — non-overlapping q83 misses a copied passage
    * shifted by one word): every 8-word span survives only at its
    * first occurrence (min doc_id, then min start); later occurrences
    * mark their covered word positions for deletion; docs rebuilt from
    * surviving words. The shuffled span stream is (id, start, 128-bit
    * hash) — span text never leaves the scan projection — and the
    * occurrence join's build side is pre-filtered to multiplicity > 1
    * spans only. Runs the COLOCATED variant (corpus staged bucketed on
    * doc_id) so the rebuild join's text side is exchange-free at any
    * scale, exactly like q83. Per-lang removal report; the oracle
    * replays the policy on the span text itself. */
  val q111: Q = (s, dir) =>
    Dedup.substringDedupColocated(Tables.documents(s, dir), "doc_id", "text",
        windowWords = 8, stagingTable = "graft_q111_docs_staged",
        buckets = s.conf.get("spark.sql.shuffle.partitions").toInt)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_words_removed") > 0L, 1L).otherwise(0L)).as("n_docs_touched"),
        sum(col("n_words_removed")).as("n_words_removed"),
        sum(length(col("clean_text"))).as("sum_clean_chars"))
      .orderBy("lang")

  /** Q112 exact ROC-AUC of the hashed quality classifier (the
    * model-eval step every learned corpus gate needs before it filters
    * 100 TB): q84's integer scorer evaluated per language against a
    * deterministic length label (n_toks ≥ 50) via the rank-sum
    * identity with average-rank tie handling. Integer scores make tie
    * groups real, so the ½-credit path is exercised, and u2 = 2U stays
    * a BIGINT the oracle replays exactly. The only data-sized exchange
    * collapses rows to per-(lang, score) counts; the cumulative window
    * runs over that histogram, not the corpus. */
  val q112: Q = (s, dir) => {
    val scored = TextMetrics.hashedLinearScoreInRow(
        Tables.documents(s, dir), "doc_id", "text", dims = 64,
        keep = Seq("lang"))
      .withColumn("__label", col("n_toks") >= 50L)
    Eval.rocAuc(scored, "score", "__label", by = Seq("lang")).orderBy("lang")
  }

  /** Q114 calibration table for the hashed quality gate (q112's
    * companion: AUC says the scorer ranks, this says whether a cut at
    * score s admits the positive rate its magnitude claims): scores
    * bin by floored division (width 2000 — negative bins stay
    * consistent; DuckDB's `//` truncates, so the oracle replays
    * floor() explicitly), per (lang, bin) counts and observed positive
    * rate in integer ppm. One map-side-combined aggregation; the
    * exchange carries occupied bins only. */
  val q114: Q = (s, dir) => {
    val scored = TextMetrics.hashedLinearScoreInRow(
        Tables.documents(s, dir), "doc_id", "text", dims = 64,
        keep = Seq("lang"))
      .withColumn("__label", col("n_toks") >= 50L)
    Eval.calibrationTable(scored, "score", "__label", binWidth = 2000L,
        by = Seq("lang"))
      .orderBy("lang", "bin")
  }

  /** Q115 markup → text extraction (step zero of a web corpus — C4/
    * CCNet/RefinedWeb all start by stripping crawl HTML): documents
    * are deterministically wrapped in HTML (script + style + comment
    * noise, `<b>` inline tags, `&#97;` entity encoding) and
    * `Web.stripMarkup` must recover `source ⧺ ' ' ⧺ text` exactly —
    * the per-lang roundtrip count pins every strip stage (element-
    * content removal, tag strip, entity decode order, whitespace
    * collapse) against the oracle's replay of the same regex chain.
    * Scan-local, codegen'd, RE2-safe. */
  val q115: Q = (s, dir) => {
    val d = Tables.documents(s, dir)
    val enc = regexp_replace(
      regexp_replace(col("text"), "a", "&#97;"), " the ", " <b>the</b> ")
    val html = concat(
      lit("<html><head><script type=\"text/javascript\">var t = 1 < 2;" +
        "</script><style>p { color: red; }</style></head><body><h1>"),
      col("source"), lit("</h1><p>"), enc,
      lit("</p><!-- crawler footer --></body></html>"))
    val stripped = Web.stripMarkup(html)
    val want = concat(col("source"), lit(" "), col("text"))
    d.select(col("lang"), length(html).as("hl"), length(stripped).as("sl"),
        (stripped === want).cast("long").as("rt"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("hl")).as("sum_html_chars"),
        sum(col("sl")).as("sum_text_chars"),
        sum(col("rt")).as("n_roundtrip"))
      .orderBy("lang")
  }

  /** Deterministic crawl URL used by q116/q117: mixed-case scheme and
    * host, sometimes an explicit default port, tracking params
    * interleaved with real ones, a fragment — every hazard
    * normalization must handle. */
  private def crawlUrl: Column = concat(
    lit("HTTPS://CDN."), upper(col("source")),
    when(pmod(col("doc_id"), lit(2L)) === 0L, lit(".COM")).otherwise(lit(".Org")),
    when(pmod(col("doc_id"), lit(3L)) === 0L, lit(":443")).otherwise(lit("")),
    lit("/Docs/"), col("doc_id"),
    lit("?utm_source=feed&b=2&id="), pmod(col("doc_id"), lit(7L)),
    lit("&utm_campaign=x&a=1#sec"))

  /** Q116 URL canonicalization (the key under which URL dedup and
    * per-domain caps work): lowercase scheme/host, default port
    * stripped, fragment dropped, tracking params removed, surviving
    * params sorted. Per-domain report; `n_port_left` pins the port
    * strip at a constant 0. Path case is PRESERVED (paths are
    * case-sensitive by contract). */
  val q116: Q = (s, dir) => {
    val u = crawlUrl
    Tables.documents(s, dir)
      .select(Web.domain(u).as("domain"),
        Web.normalizeUrl(u).as("norm"))
      .groupBy("domain")
      .agg(count(lit(1)).as("n"),
        countDistinct(col("norm")).as("n_distinct"),
        sum(length(col("norm"))).as("sum_len"),
        sum(when(col("norm").contains(":443"), 1L).otherwise(0L)).as("n_port_left"),
        min(col("norm")).as("first_norm"))
      .orderBy("domain")
  }

  /** Q117 per-domain crawl cap (RefinedWeb's anti-spam stage: no
    * domain may flood the mix): `Sampling.stratifiedQuota` keyed on
    * the canonical domain keeps 3 docs per domain, chosen by the
    * portable selector hash — deterministic, engine-replayable, and
    * one ranking shuffle bounded by quota × |domains|. */
  val q117: Q = (s, dir) => {
    val withDom = Tables.documents(s, dir)
      .select(col("doc_id"), col("n_chars"),
        Web.domain(crawlUrl).as("domain"))
    Sampling.stratifiedQuota(withDom, Seq("domain"), "doc_id", quota = 3)
      .groupBy("domain")
      .agg(count(lit(1)).as("n_kept"),
        sum(col("doc_id")).as("sum_ids"),
        sum(col("n_chars")).as("sum_chars"))
      .orderBy("domain")
  }

  /** Q118's corpus: the q108 BMP rendering of each doc PLUS a
    * perturbed twin under asset_id + 1,000,000 — a uniform +8
    * brightness lift (dHash-invariant: every gradient comparison is
    * unchanged) with fixed "sensor noise" (gray 120) at every 17th
    * raster index (flips a few gradient bits). The twins model
    * re-exposed / lightly-edited copies of the same image — the
    * near-dup class a byte-level hash can never catch. */
  private def textBmpAssetsWithTwins(d: DataFrame):
      org.apache.spark.sql.Dataset[graft.multimodal.Asset] = {
    import graft.multimodal.{Asset, Bmp}
    val enc = org.apache.spark.sql.Encoders.product[Asset]
    d.select(col("doc_id").as("asset_id"),
        lit("image/bmp").as("media_type"),
        col("text").cast("binary").as("bytes"),
        (lit(8) + pmod(col("doc_id"), lit(9))).cast("int").as("width"),
        (lit(5) + pmod(col("doc_id"), lit(7))).cast("int").as("height"))
      .as[Asset](enc)
      .mapPartitions { it =>
        it.flatMap { a =>
          val n = a.width * a.height
          val gray = Array.tabulate(n)(i =>
            if (i < a.bytes.length) a.bytes(i) else 32.toByte)
          val twin = Array.tabulate(n)(i =>
            if (i % 17 == 0) 120.toByte else ((gray(i) & 0xff) + 8).toByte)
          Seq(a.copy(bytes = Bmp.encodeGray(a.width, a.height, gray)),
            a.copy(asset_id = a.asset_id + 1000000L,
              bytes = Bmp.encodeGray(a.width, a.height, twin)))
        }
      }(enc)
  }

  /** Q118 image near-duplicate pairs by perceptual hash (the
    * multimodal member of the dedup family): every asset decodes
    * through the REAL BMP seam to a 64-bit dHash (9×8 luma thumbnail,
    * gradient signs — `Bmp.dhash64`), and the codes feed the SAME
    * exact pigeonhole banding as SimHash text dedup
    * (`Dedup.simhashPairsFromCodes`: 4 16-bit chunks, Hamming ≤ 3).
    * The corpus plants a brightness-shifted, sensor-noised twin per
    * image (see [[textBmpAssetsWithTwins]]); the gate counts which
    * twins survive within the radius — at sf0.01, every emitted pair
    * is a true twin (no accidental collisions) and ~20% of twins
    * drift past Hamming 3, so both precision and the radius cut are
    * exercised. Pixels never shuffle: the banding exchange carries
    * 16 B code rows. The oracle replays thumbnail, luma, code, and
    * brute-force all-pairs Hamming (banding is lossless by
    * pigeonhole). */
  val q118: Q = (s, dir) => {
    import graft.multimodal.Multimodal
    val codes = Multimodal.dhashCodes(
      textBmpAssetsWithTwins(Tables.documents(s, dir)))
    Dedup.simhashPairsFromCodes(codes, "asset_id", maxHamming = 3, bits = 64)
      .orderBy("d1", "d2")
  }

  /** Q119 audio signal-quality features (the gate trio an audio corpus
    * filters on before training): the q110 WAV corpus decoded through
    * the REAL RIFF seam to zero crossings / exact integer energy /
    * peak amplitude per asset (`Wav.signalStats` — silence, loudness,
    * clipping), aggregated per lang. The oracle replays the stats from
    * raw text codepoints (sample i = cp×257 − 32768) with a lag
    * window for the sign transitions — matching only if the chunk
    * walk and signed LE sample decode are bit-exact. Decode is
    * partition-preserving; only thin feature rows enter the join. */
  val q119: Q = (s, dir) => {
    import graft.multimodal.Multimodal
    val d = Tables.documents(s, dir)
    Multimodal.decodeWavSignal(textWavAssets(d)).toDF()
      .join(d.select(col("doc_id"), col("lang")), col("asset_id") === col("doc_id"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n"),
        sum(col("sample_rate")).as("sum_rate"),
        sum(col("zero_crossings")).as("sum_zc"),
        sum(col("energy")).as("total_energy"),
        max(col("peak")).as("max_peak"),
        sum(col("peak").cast("long")).as("sum_peak"))
      .orderBy("lang")
  }

  /** Q120 operating-point selection + gate application (closing the
    * measure→choose→apply loop q112/q114 open): Youden's J picks the
    * exact threshold for q84's hashed quality scorer against the
    * deterministic length label — maximized via integer
    * cross-multiplication (tp·N − fp·P, BIGINT; no float compare
    * decides), ties toward the stricter cut — and the corpus is gated
    * at `score ≥ threshold`, reported per lang with the chosen
    * threshold and J (ppm) on every row. The argmax runs over the
    * distinct-score histogram (TakeOrdered, not a corpus sort) and
    * the 1-row threshold broadcasts — the no-collect scalar
    * pattern. */
  val q120: Q = (s, dir) => {
    val scored = TextMetrics.hashedLinearScoreInRow(
        Tables.documents(s, dir), "doc_id", "text", dims = 64,
        keep = Seq("lang"))
      .withColumn("__label", col("n_toks") >= 50L)
    val thr = Eval.youdenThreshold(scored, "score", "__label")
      .select(col("threshold"), col("j_micro"))
    scored.crossJoin(broadcast(thr))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("score") >= col("threshold"), 1L).otherwise(0L)).as("n_kept"),
        min(col("threshold")).as("threshold"),
        min(col("j_micro")).as("j_micro"))
      .withColumn("kept_micro", expr("n_kept * 1000000 div n_docs"))
      .orderBy("lang")
  }

  /** Q121 domain-level boilerplate line removal (the web-pipeline
    * stage between markup strip and dedup: every page of a site
    * repeats its header/nav/footer — per-line document frequency
    * WITHIN the domain separates template from content): documents
    * render as crawl pages (domain-branded header + body + an
    * occasional unique ref line + footer), and
    * `Web.dropBoilerplateLines` must remove exactly the lines seen in
    * ≥ 3 distinct docs of the domain — headers/footers go, every
    * body and ref line stays — rebuilding each page in-row from thin
    * removed-position arrays (line text never enters an exchange).
    * Per-lang removal report; the oracle replays DF counting on the
    * line text itself (hash equality == text equality, the q113
    * convention). */
  val q121: Q = (s, dir) => {
    val d = Tables.documents(s, dir)
    val dom = Web.domain(crawlUrl)
    val page = concat(
      lit("Home | About | "), dom, lit("\n"), col("text"),
      when(pmod(col("doc_id"), lit(5L)) === 0L,
        concat(lit("\nref "), col("doc_id"))).otherwise(lit("")),
      lit("\nCopyright "), dom)
    val pages = d.select(col("doc_id"), col("lang"), dom.as("domain"),
      page.as("page"))
    Web.dropBoilerplateLines(pages, "doc_id", "domain", "page", minDf = 3)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_lines")).as("sum_lines"),
        sum(col("n_lines_removed")).as("sum_removed"),
        sum(length(col("clean_text"))).as("sum_clean_chars"))
      .orderBy("lang")
  }

  /** Q122 audio endpoint-silence trim (the normalization step before
    * audio dedup/training — padding must not count as content): the
    * WAV corpus rendered under a zero-at-space sample map (s =
    * (cp − 32)·300, so the trailing space pad is TRUE digital
    * silence), trimmed through decode → endpoint strip → re-encode
    * (`Multimodal.trimWavSilence`, threshold 0), then decoded AGAIN
    * and reported per lang. The oracle replays the trim bounds from
    * raw text (first/last non-space among the 120 padded codepoints)
    * and the signal stats over the kept range — matching only if
    * decode → trim → re-encode → decode is bit-exact end to end,
    * including interior spaces surviving (endpoint trim, not a
    * gate). */
  val q122: Q = (s, dir) => {
    import graft.multimodal.Multimodal
    val d = Tables.documents(s, dir)
    val trimmed = Multimodal.trimWavSilence(
      textWavAssets(d, b => (b - 32) * 300), threshold = 0)
    Multimodal.decodeWavSignal(trimmed).toDF()
      .join(d.select(col("doc_id"), col("lang")), col("asset_id") === col("doc_id"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n"),
        sum(col("n_samples")).as("total_samples"),
        sum(lit(120L) - col("n_samples")).as("n_trimmed"),
        sum(col("zero_crossings")).as("sum_zc"),
        sum(col("energy")).as("total_energy"),
        max(col("peak")).as("max_peak"))
      .orderBy("lang")
  }

  /** Q123 SemDeDup — semantic deduplication with trained k-means
    * blocking (Abbas et al. 2023; the embedding-space sibling of q37's
    * sign-LSH near-dup, with the SAME integer-exact trainer as
    * q75/q76): the corpus plants a jittered twin per vector
    * (v + (id%10)·0.015 per dimension under id + 100,000 — jitter
    * scale varies by id class, so some twins stay semantic duplicates
    * at cosine ≥ 0.9 and others drift below, exercising both sides of
    * the cut), trains 2 Lloyd rounds over originals + twins, and
    * `Dedup.semanticDedup` drops every vector that is a ≥ 0.9-cosine
    * duplicate of a smaller-id cell-mate. Full per-vector verdicts
    * (id, cell, kept) — the oracle replays training, assignment,
    * in-cell pairs, and the exact-cosine residual end to end. */
  val q123: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val twins = emb.select((col("vec_id") + 100000L).as("vec_id"),
      transform(col("e"),
        x => x + pmod(col("vec_id"), lit(10L)).cast("double") * 0.015).as("e"))
    val corpus = emb.unionByName(twins)
    // r14: derived √N stride over the 2N-vector corpus — the last
    // GATED fixed-stride pin (the r14 isolate sweep measured 8.9× on
    // 10× data under stride 37; the oracle derives the same stride)
    val trained = Similarity.kmeansCentroids(corpus, "vec_id", "e",
        centroidStride = Similarity.sqrtStride(corpus), iters = 2, dim = 64)
      .select(col("__cid"), col("__cv"))
    Dedup.semanticDedup(corpus, "vec_id", "e", trained, threshold = 0.9)
      .orderBy("vec_id")
  }

  /** Q124's corpus: a MIXED media lake — even doc_ids render as BMP
    * (q108's rasterization), odd as WAV (q110's samples), every 13th
    * ships RAW TEXT BYTES under a media claim (the corrupt-blob
    * class), and every 7th doc's `media_type` CLAIM is swapped to the
    * wrong container (crawl label noise). */
  private def mixedMediaAssets(d: DataFrame):
      org.apache.spark.sql.Dataset[graft.multimodal.Asset] = {
    import graft.multimodal.{Asset, Bmp, Wav}
    val enc = org.apache.spark.sql.Encoders.product[Asset]
    val parityType = when(pmod(col("doc_id"), lit(2L)) === 0L,
      lit("image/bmp")).otherwise(lit("audio/wav"))
    val swapped = when(pmod(col("doc_id"), lit(2L)) === 0L,
      lit("audio/wav")).otherwise(lit("image/bmp"))
    d.select(col("doc_id").as("asset_id"),
        when(pmod(col("doc_id"), lit(7L)) === 0L, swapped)
          .otherwise(parityType).as("media_type"),
        col("text").cast("binary").as("bytes"),
        (lit(8) + pmod(col("doc_id"), lit(9))).cast("int").as("width"),
        (lit(5) + pmod(col("doc_id"), lit(7))).cast("int").as("height"))
      .as[Asset](enc)
      .mapPartitions { it =>
        it.map { a =>
          if (a.asset_id % 13 == 0) a // raw text bytes: the corrupt blob
          else if (a.asset_id % 2 == 0) {
            val n = a.width * a.height
            val gray = Array.tabulate(n)(i =>
              if (i < a.bytes.length) a.bytes(i) else 32.toByte)
            a.copy(bytes = Bmp.encodeGray(a.width, a.height, gray))
          } else {
            val samples = Array.tabulate(120) { i =>
              val b = if (i < a.bytes.length) a.bytes(i) & 0xff else 32
              (b * 257 - 32768).toShort
            }
            a.copy(bytes =
              Wav.encode(8000 + (a.asset_id % 5).toInt * 1000, 1, samples))
          }
        }
      }(enc)
  }

  /** Q124 mixed-corpus decode dispatch (the hygiene pass before any
    * decode fan-out on a real media lake): container type comes from
    * MAGIC BYTES (`Multimodal.sniffMediaType` — scan-local, no UDF),
    * assets route to the matching REAL decoder, corrupt blobs
    * classify as octet-stream instead of throwing, and the
    * claimed×sniffed matrix with per-class decoded checksums (exact
    * luma sum / exact energy) is the report. The oracle replays the
    * routing arithmetic and BOTH decoders' stats from raw text —
    * matching only if sniffing, routing, and each decode are all
    * bit-exact. */
  val q124: Q = (s, dir) => {
    import graft.multimodal.Multimodal
    Multimodal.dispatchDecode(mixedMediaAssets(Tables.documents(s, dir)))
      .groupBy("claimed", "sniffed")
      .agg(count(lit(1)).as("n"),
        sum(col("n_units")).as("sum_units"),
        sum(col("checksum")).as("sum_checksum"))
      .orderBy("claimed", "sniffed")
  }

  /** Q125 product-quantization train + encode (Jégou et al. 2011 —
    * the memory-scale ANN representation beside q75's coarse
    * quantizer): 4 subspace quantizers train in one pass per round
    * over the exploded (id, sub, subvector) view, then every
    * embedding compresses to 4 centroid ids. The report is the full
    * codebook (centroid checksum) plus the encode histogram — how
    * many docs each (subspace, centroid) code serves — so the oracle
    * replays training AND encoding. Integer-exact throughout: grid
    * quantization, re-quantized means, (d2, cid) tie-break.
    * Fixed-stride FIXTURE PIN — q280 gates the √N-stride gear. */
  val q125: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
      .withColumn("e", col("embedding").cast("array<double>"))
    val book = Similarity.pqTrain(emb, "vec_id", "e", m = 4, dim = 64,
      centroidStride = 37L, iters = 1)
    val codes = Similarity.pqEncode(emb, "vec_id", "e", book, m = 4, dim = 64)
    val used = codes.select(posexplode(col("__code")).as(Seq("sub", "cid")))
      .groupBy("sub", "cid").agg(count(lit(1)).as("n_docs"))
    book.select(col("__sub").as("sub"), col("__cid").as("cid"),
        Similarity.dot(col("__cv"), col("__cv")).cast("long").as("mu_dot"))
      .join(used, Seq("sub", "cid"), "left")
      .select(col("sub"), col("cid"), col("mu_dot"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"))
      .orderBy("sub", "cid")
  }

  /** Q126 PQ asymmetric-distance search (q125's codes actually
    * searched): the query stays a full grid-quantized vector, the
    * corpus is read as 4 small ints/doc, and each doc's approximate
    * d2 is a fold over the one broadcast m·C-entry lookup table —
    * the float corpus is touched zero times at search, which is the
    * whole point of PQ at 100 TB. Every LUT entry is integer-valued,
    * so the BIGINT sum and (adc_d2, id) ranking replay exactly.
    * Fixed-stride FIXTURE PIN — q281 gates the √N-stride gear. */
  val q126: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
      .withColumn("e", col("embedding").cast("array<double>"))
    val book = Similarity.pqTrain(emb, "vec_id", "e", m = 4, dim = 64,
      centroidStride = 37L, iters = 1)
    Similarity.pqAdcTopK(emb, "vec_id", "e", book,
      targetId = 3L, k = 10, m = 4, dim = 64)
  }

  /** Q127 average precision (step-wise PR-AUC) of the hashed quality
    * gate, per language — q112's companion on the imbalanced axis:
    * ROC-AUC is blind to class skew, AP weights exactly the admit
    * region the gate operates in. Same scored frame as q112/q114/q120;
    * per-threshold terms are 9-dp-rounded exact integer divisions
    * summed in DECIMAL (the q99 convention), so the metric replays
    * bit-for-bit. */
  val q127: Q = (s, dir) => {
    val scored = TextMetrics.hashedLinearScoreInRow(
        Tables.documents(s, dir), "doc_id", "text", dims = 64,
        keep = Seq("lang"))
      .withColumn("__label", col("n_toks") >= 50L)
    Eval.prAuc(scored, "score", "__label", by = Seq("lang")).orderBy("lang")
  }

  /** Q128 encoding-hygiene QA (the decode-damage gate an ingest runs
    * before any text op trusts the bytes): the corpus is clean ASCII,
    * so — like q124's media noise — deterministic corruption derives
    * from doc_id: every 3rd doc gains a U+FFFD replacement char, every
    * 5th a C0 control char, every 7th a "Ã©"-style UTF-8-as-Latin-1
    * mojibake pair. The gate counts all three signatures scan-locally
    * (codegen'd regexp_count, no shuffle) and the per-lang report
    * aggregates counts, flags, and integer-ppm badness. */
  val q128: Q = (s, dir) => {
    val noisy = Tables.documents(s, dir).select(col("doc_id"), col("lang"),
      concat(col("text"),
        when(pmod(col("doc_id"), lit(3L)) === 0L, lit(" \uFFFD"))
          .otherwise(lit("")),
        when(pmod(col("doc_id"), lit(5L)) === 0L, lit("\u0007"))
          .otherwise(lit("")),
        when(pmod(col("doc_id"), lit(7L)) === 0L,
          lit(" \u00C3\u00A9t\u00C3\u00A9")).otherwise(lit("")))
        .as("text"))
    TextMetrics.encodingQa(noisy, "doc_id", "text", keep = Seq("lang"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("is_clean"), 0L).otherwise(1L)).as("n_flagged"),
        sum(col("n_repl")).as("sum_repl"),
        sum(col("n_ctrl")).as("sum_ctrl"),
        sum(col("n_moji")).as("sum_moji"),
        sum(col("badness_micro")).as("sum_badness_micro"))
      .orderBy("lang")
  }

  /** Q129 TF-IDF keyword extraction (the salience report beside q77's
    * corpus-frequency scoring): each doc's top-3 terms by tf·idf.
    * idf is the 6-dp-rounded ln of an exact integer ratio carried in
    * DECIMAL, so the (score, term) ranking replays bit-for-bit; the
    * df table joins term-keyed (vocab-bounded), the doc count is a
    * 1-row broadcast, and the per-doc window sees only candidate
    * rows. */
  val q129: Q = (s, dir) =>
    TextMetrics.tfidfKeywords(Tables.documents(s, dir), "doc_id", "text",
        k = 3, keep = Seq("lang"))
      .orderBy("doc_id", "rank")

  /** Q130 length-bucketed batch assembly (the dynamic-batching step an
    * inference/eval fleet runs — q81 packs concatenated streams, this
    * accounts PADDED batches): docs bucket to the next power of two of
    * their token count (waste < 50% by construction), batches of 8
    * form deterministically inside (bucket, selector-shard) cells, and
    * the per-bucket report totals batches, tokens, padding, and
    * integer-ppm efficiency. The exponent is integer-exact via the
    * binary-representation length — no float log2 at boundaries. */
  val q130: Q = (s, dir) => {
    val lens = Tables.documents(s, dir).select(col("doc_id"),
      size(filter(split(lower(trim(col("text"))), " "), t => t =!= ""))
        .cast("long").as("n_toks"))
    Sampling.lengthBucketBatches(lens, "doc_id", "n_toks",
        batchSize = 8, shards = 4)
      .groupBy("bucket_cap")
      .agg(count(lit(1)).as("n_batches"),
        sum(col("n_docs")).as("n_docs"),
        sum(col("sum_len")).as("sum_tokens"),
        sum(col("waste")).as("sum_padding"),
        sum(col("n_docs") * col("batch_len")).as("padded_tokens"))
      .withColumn("efficiency_micro",
        expr("sum_tokens * 1000000 div padded_tokens"))
      .orderBy("bucket_cap")
  }

  /** Q113 n-gram novelty profile (the stale-feed scan dedup rules
    * don't catch): per doc, the ppm of its distinct 3-grams NOT
    * already emitted by an earlier doc (corpus order = doc_id, the
    * dedup family's first-occurrence policy), aggregated per lang with
    * a "stale" count (novelty < 50%). Gram text never leaves the scan
    * projection — the explode carries 128-bit hashes, the
    * first-occurrence agg and verdict join share one hash key, and
    * novelty is integer ppm (q69's micro convention), never a float. */
  val q113: Q = (s, dir) =>
    TextMetrics.ngramNovelty(Tables.documents(s, dir), "doc_id", "text",
        n = 3, keep = Seq("lang"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_grams")).as("sum_grams"),
        sum(col("n_repeated")).as("sum_repeated"),
        sum(col("novelty_micro")).as("sum_novelty_micro"),
        sum(when(col("novelty_micro") < 500000L, 1L).otherwise(0L)).as("n_stale"))
      .orderBy("lang")

  /** Q106 BPE tokenization report (q105 applied back to its corpus):
    * the final merged symbol strings ARE the tokenization of every
    * word type, so application is a broadcast join of the vocabulary-
    * sized merged-word table into the per-(lang, word) count table —
    * the corpus text itself is never re-scanned per round. Per-lang
    * word/BPE-token/char counts and the chars-per-token compression
    * ratio every tokenizer evaluation reports. */
  val q106: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val fin = bpeTrain(docs, 6)._2
      .select(col("word"),
        size(filter(split(trim(col("s")), " "), x => x =!= "")).cast("long")
          .as("__ntok"))
    val wl = docs
      .select(col("lang"), explode(toks(col("text"))).as("word"))
      .groupBy("lang", "word").agg(count(lit(1)).as("__m"))
    wl.join(broadcast(fin), "word")
      .groupBy("lang")
      .agg(sum(col("__m")).as("n_words"),
        sum(col("__m") * col("__ntok")).as("n_bpe_tokens"),
        sum(col("__m") * length(col("word"))).as("n_chars"))
      .withColumn("chars_per_token",
        round(col("n_chars").cast("double") / col("n_bpe_tokens").cast("double"), 4))
      .orderBy("lang")
  }

  // ------------------------------------------------------------------ maps

  val all: Map[String, Q] = Map(
    "q01_scan_project" -> q01,
    "q02_mask" -> q02,
    "q03_filter" -> q03,
    "q04_incremental_hwm" -> q04,
    "q05_join_inner" -> q05,
    "q06_multiway_agg" -> q06,
    "q07_broadcast_join" -> q07,
    "q08_left_outer" -> q08,
    "q09_semi_join" -> q09,
    "q10_anti_join" -> q10,
    "q11_range_join" -> q11,
    "q12_agg_distinct" -> q12,
    "q13_rollup" -> q13,
    "q14_cube" -> q14,
    "q15_window_topk" -> q15,
    "q16_window_running" -> q16,
    "q17_lag_delta" -> q17,
    "q18_topk" -> q18,
    "q19_setops" -> q19,
    "q20_scalar_fns" -> q20,
    "q21_json" -> q21,
    "q22_window_tumbling" -> q22,
    "q23_session_window" -> q23,
    "q24_cdc_latest_state" -> q24,
    "q25_dedup_exact" -> q25,
    "q26_token_counts" -> q26,
    "q27_cosine_topk" -> q27,
    "q28_multimodal" -> q28,
    "q29_cdc_unwrap" -> q29,
    "q30_neardup_minhash" -> q30,
    "q31_knn_pruned" -> q31,
    "q32_label_remap" -> q32,
    "q33_rate_windowed" -> q33,
    "q34_asof_join" -> q34,
    "q35_ann_lsh" -> q35,
    "q36_simhash_neardup" -> q36,
    "q37_embedding_neardup" -> q37,
    "q38_text_quality" -> q38,
    "q39_langid" -> q39,
    "q40_fingerprint" -> q40,
    "q41_token_regex" -> q41,
    "q42_percentiles" -> q42,
    "q43_full_outer" -> q43,
    "q44_grouping_sets" -> q44,
    "q45_rate_resets" -> q45,
    "q46_ann_ivf" -> q46,
    "q47_pipeline_smt" -> q47,
    "q48_incremental_id" -> q48,
    "q49_dataprep" -> q49,
    "q50_promtext_roundtrip" -> q50,
    "q51_multimodal_binary" -> q51,
    "q52_neardup_ngram" -> q52,
    "q53_window_sliding" -> q53,
    "q54_knn_join" -> q54,
    "q55_dup_clusters" -> q55,
    "q56_salted_join" -> q56,
    "q57_interval_funnel" -> q57,
    "q58_multimodal_decode" -> q58,
    "q59_jmx_relabel" -> q59,
    "q60_dedup_pipeline" -> q60,
    "q61_gapfill" -> q61,
    "q62_pivot" -> q62,
    "q63_window_family" -> q63,
    "q64_schema_merge" -> q64,
    "q65_right_outer" -> q65,
    "q66_sampling" -> q66,
    "q67_mixture" -> q67,
    "q68_token_budget" -> q68,
    "q69_repetition" -> q69,
    "q70_decontamination" -> q70,
    "q71_repetition_stream_twin" -> q71,
    "q72_smt_catalog" -> q72,
    "q73_smt_routing" -> q73,
    "q74_corpus_ngrams" -> q74,
    "q75_kmeans_refine" -> q75,
    "q76_ivf_trained" -> q76,
    "q77_corpus_freq" -> q77,
    "q78_ivf_knn_join" -> q78,
    "q79_bloom_semi_join" -> q79,
    "q80_seeded_shuffle" -> q80,
    "q81_seq_packing" -> q81,
    "q82_epoch_mixture" -> q82,
    "q83_chunk_dedup" -> q83,
    "q84_quality_classifier" -> q84,
    "q85_context_split" -> q85,
    "q86_scd2" -> q86,
    "q87_incremental_dedup" -> q87,
    "q88_profile" -> q88,
    "q89_quantile_filter" -> q89,
    "q90_pii_scan" -> q90,
    "q91_histogram" -> q91,
    "q92_fuzzy_decontamination" -> q92,
    "q93_semantic_decontamination" -> q93,
    "q94_cluster_split" -> q94,
    "q95_corpus_prep" -> q95,
    "q96_corpus_catalog" -> q96,
    "q97_vocab_coverage" -> q97,
    "q98_dup_provenance" -> q98,
    "q99_lm_perplexity" -> q99,
    "q100_dsir_weights" -> q100,
    "q101_source_divergence" -> q101,
    "q102_ccnet_buckets" -> q102,
    "q103_profile_similarity" -> q103,
    "q104_profile_segments" -> q104,
    "q105_bpe_train" -> q105,
    "q106_bpe_tokenize" -> q106,
    "q107_bpe_batch_train" -> q107,
    "q108_bmp_decode" -> q108,
    "q109_bmp_resize" -> q109,
    "q110_wav_decode" -> q110,
    "q111_substring_dedup" -> q111,
    "q112_roc_auc" -> q112,
    "q113_ngram_novelty" -> q113,
    "q114_calibration" -> q114,
    "q115_html_extract" -> q115,
    "q116_url_normalize" -> q116,
    "q117_domain_cap" -> q117,
    "q118_image_neardup" -> q118,
    "q119_audio_signal" -> q119,
    "q120_youden_gate" -> q120,
    "q121_boilerplate" -> q121,
    "q122_silence_trim" -> q122,
    "q123_semdedup" -> q123,
    "q124_media_dispatch" -> q124,
    "q125_pq_encode" -> q125,
    "q126_pq_adc" -> q126,
    "q127_pr_auc" -> q127,
    "q128_encoding_qa" -> q128,
    "q129_tfidf_keywords" -> q129,
    "q130_length_batches" -> q130,
    "q131_png_decode" -> q131,
    "q132_hard_negatives" -> q132,
    "q133_temperature_mix" -> q133,
    "q134_corpus_diff" -> q134,
    "q135_rank_fusion" -> q135,
    "q136_winsorize" -> q136,
    "q137_char_entropy" -> q137,
    "q138_embedding_qa" -> q138,
    "q139_zscore" -> q139,
    "q140_funnel" -> q140,
    "q141_cohort_retention" -> q141,
    "q142_fuzzy_match" -> q142,
    "q143_basket_affinity" -> q143,
    "q144_sessionize" -> q144,
    "q145_rolling_anomaly" -> q145,
    "q146_ab_test" -> q146,
    "q147_entity_resolution" -> q147,
    "q148_pagerank" -> q148,
    "q149_subset_docs" -> q149,
    "q150_triangles" -> q150,
    "q151_chi_square" -> q151,
    "q152_session_overlap" -> q152,
    "q153_key_skew" -> q153,
    "q154_mad_outliers" -> q154,
    "q155_transition_matrix" -> q155,
    "q156_engagement" -> q156,
    "q157_decile_lift" -> q157,
    "q158_ks_test" -> q158,
    "q159_pagerank_weighted" -> q159,
    "q160_percentile_rank" -> q160,
    "q161_corr_matrix" -> q161,
    "q162_graph_profile" -> q162,
    "q163_trend_fit" -> q163,
    "q164_growth_curve" -> q164,
    "q165_vocab_growth" -> q165,
    "q166_also_bought" -> q166,
    "q167_theil_sen" -> q167,
    "q168_mann_kendall" -> q168,
    "q169_seasonal_dow" -> q169,
    "q170_hll_incremental" -> q170,
    "q171_loghist_quantiles" -> q171,
    "q172_incr_profile" -> q172,
    "q173_spearman" -> q173,
    "q174_gif_decode" -> q174,
    "q175_psi_drift" -> q175,
    "q176_zipf_fit" -> q176,
    "q177_attribution" -> q177,
    "q178_kaplan_meier" -> q178,
    "q179_markov_stationary" -> q179,
    "q180_benford" -> q180,
    "q181_autocorrelation" -> q181,
    "q182_common_paths" -> q182,
    "q183_rfm" -> q183,
    "q184_cms_tokens" -> q184,
    "q185_pmi_collocations" -> q185,
    "q186_trend_anomalies" -> q186,
    "q187_mann_whitney" -> q187,
    "q188_kendall_tau" -> q188,
    "q189_cusum_shift" -> q189,
    "q190_ols2" -> q190,
    "q191_readability" -> q191,
    "q192_mutual_info" -> q192,
    "q193_assortativity" -> q193,
    "q194_cramers_v" -> q194,
    "q195_lead_lag" -> q195,
    "q196_coreset" -> q196,
    "q197_ewma_chart" -> q197,
    "q198_weighted_quantiles" -> q198,
    "q199_cuped" -> q199,
    "q200_sparse_cosine" -> q200,
    "q201_source_hhi" -> q201,
    "q202_bootstrap_ci" -> q202,
    "q203_isotonic" -> q203,
    "q204_hill_tail" -> q204,
    "q205_setsim_join" -> q205,
    "q206_cohens_kappa" -> q206,
    "q207_fleiss_kappa" -> q207,
    "q208_bradley_terry" -> q208,
    "q209_zorder_audit" -> q209,
    "q210_lognormal_fit" -> q210,
    "q211_fano_factor" -> q211,
    "q212_embed_pca" -> q212,
    "q213_logodds_words" -> q213,
    "q214_js_source_matrix" -> q214,
    "q215_video_frames" -> q215,
    "q216_passage_chunks" -> q216,
    "q217_weighted_sample" -> q217,
    "q218_ndcg_mrr" -> q218,
    "q219_mulaw_audio" -> q219,
    "q220_rbo" -> q220,
    "q221_sketch_emd" -> q221,
    "q222_quantile_norm" -> q222,
    "q223_contract_audit" -> q223,
    "q224_setsim_incremental" -> q224,
    "q225_quality_keeper" -> q225,
    "q226_bm25_topk" -> q226,
    "q227_k_anonymity" -> q227,
    "q228_interval_coverage" -> q228,
    "q229_gini_length" -> q229,
    "q230_conformal_gate" -> q230,
    "q231_containment_join" -> q231,
    "q232_effective_dim" -> q232,
    "q233_nelson_aalen" -> q233,
    "q234_log_rank" -> q234,
    "q235_krippendorff" -> q235,
    "q236_khop_reach" -> q236,
    "q237_centroid_matrix" -> q237,
    "q238_dup_source_matrix" -> q238,
    "q239_lexical_diversity" -> q239,
    "q240_diff_in_diff" -> q240,
    "q241_hll_overlap" -> q241,
    "q242_neyman_allocation" -> q242,
    "q243_multiclass_f1" -> q243,
    "q244_sketch_ks" -> q244,
    "q245_rmst" -> q245,
    "q246_coverage_select" -> q246,
    "q247_water_fill" -> q247,
    "q248_simpson_audit" -> q248,
    "q249_image_patches" -> q249,
    "q250_audio_frames" -> q250,
    "q251_rejection_attribution" -> q251,
    "q252_loo_ablation" -> q252,
    "q253_corpus_bleu" -> q253,
    "q254_pipeline_dataprep" -> q254,
    "q255_containment_incremental" -> q255,
    "q256_bottomk_intersect" -> q256,
    "q257_unigram_train" -> q257,
    "q258_jpeg_decode" -> q258,
    "q259_ivf_sqrt" -> q259,
    "q260_anova" -> q260,
    "q261_kruskal_wallis" -> q261,
    "q262_mcnemar" -> q262,
    "q263_g_test" -> q263,
    "q264_cohens_d" -> q264,
    "q265_brown_forsythe" -> q265,
    "q266_cochran_armitage" -> q266,
    "q267_changepoint" -> q267,
    "q268_l_diversity" -> q268,
    "q269_t_closeness" -> q269,
    "q270_silhouette" -> q270,
    "q271_rake_keywords" -> q271,
    "q272_textrank" -> q272,
    "q273_qoi_decode" -> q273,
    "q274_hilbert_audit" -> q274,
    "q275_kcore" -> q275,
    "q276_ess" -> q276,
    "q277_tiff_decode" -> q277,
    "q278_sprt" -> q278,
    "q279_jl_projection" -> q279,
    "q280_pq_encode_sqrt" -> q280,
    "q281_pq_adc_sqrt" -> q281,
    "q282_kmeans_sqrt" -> q282,
    "q283_ivf_trained_sqrt" -> q283,
    "q284_ivf_knn_join_sqrt" -> q284,
    "q285_bleu_multiref" -> q285,
    "q286_pipeline_neardup" -> q286,
    "q287_pipeline_keeper" -> q287,
    "q288_rake_serving" -> q288,
    "q289_embedding_neardup_topk" -> q289,
    "q290_session_overlap_topk" -> q290,
    "q291_pipeline_neardup_incremental" -> q291,
    "q292_embedding_neardup_serving" -> q292,
    "q293_ivf_serving" -> q293,
    "q294_pipeline_embedding_serving" -> q294,
    "q295_coactivity_profile" -> q295,
    "q296_ivfpq_serving" -> q296,
    "q297_embedding_serving_topk" -> q297,
    "q298_pipeline_ann_serving" -> q298,
  )

  /** The q112/q139 scored-documents CTE block (tokenize → portable
    * token hash → 64-bucket hashed weight → per-doc BIGINT score),
    * shared by every oracle that consumes the hashed quality score. */
  private val scoredDocCtes: String =
    "WITH t AS (SELECT doc_id, lang, unnest(str_split(lower(trim(text)), ' ')) AS tok FROM documents), " +
      "h AS (SELECT doc_id, lang, list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      "list_transform(range(1, length(tok) + 1), i -> CAST(unicode(substr(tok, CAST(i AS INT), 1)) AS BIGINT))), " +
      "(a, b) -> (a * 31 + b) % 2147483647) AS th FROM t WHERE tok <> ''), " +
      "w AS (SELECT doc_id, lang, ((th % 64) * 2654435761) % 1000000007 % 2001 - 1000 AS wt FROM h), " +
      "d AS (SELECT doc_id, lang, SUM(wt) AS score FROM w GROUP BY 1, 2)"

  /** The derived-stride CTE pair (q259's recipe, reused by every
    * √N-discipline re-gate): stride = n div ⌈√n⌉ with the exact
    * floor-sqrt + one s² ≥ n adjust `Similarity.sqrtStride` runs.
    * Counts the `e` CTE (the embeddings view every consumer defines). */
  private val strideCtes: String = {
    val s0 = "CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT)"
    "nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM e), " +
      "st AS (SELECT CASE WHEN n <= 1 THEN 1 ELSE greatest(1, " +
      s"n // (CASE WHEN $s0 * $s0 >= n THEN $s0 ELSE $s0 + 1 END)) END AS stride FROM nn)"
  }

  /** The q60/q286 oracle: exact survivors → near-dup pairs over the
    * survivors → recursive-CTE transitive closure → drop non-canonical
    * members → per-lang stats. q286 reuses it VERBATIM — the q254==q49
    * pattern: the declarative pipeline must compute exactly what the
    * library composition computes. */
  private val dedupPipelineOracle: String =
    "WITH RECURSIVE surv AS (SELECT MIN(doc_id) AS doc_id FROM documents " +
      "GROUP BY lower(trim(text))), " +
      "docs2 AS (SELECT d.* FROM documents d JOIN surv USING (doc_id)), " +
      "toks AS (SELECT doc_id, str_split(lower(trim(text)), ' ') AS w FROM docs2), " +
      "sh AS (SELECT doc_id, list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] " +
      "for i in range(1, len(w) - 1)]) AS ts FROM toks WHERE len(w) >= 3), " +
      "j AS (SELECT a.doc_id AS d1, b.doc_id AS d2, " +
      "CAST(len(list_intersect(a.ts, b.ts)) AS DOUBLE) / " +
      "(len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts))) AS jac " +
      "FROM sh a JOIN sh b ON a.doc_id < b.doc_id " +
      "AND least(len(a.ts), len(b.ts)) >= 0.8 * greatest(len(a.ts), len(b.ts)) - 1e-9 " +
      "WHERE len(a.ts) > 0 AND len(b.ts) > 0), " +
      "p AS (SELECT d1, d2 FROM j WHERE jac >= 0.8), " +
      "nodes AS (SELECT d1 AS id FROM p UNION SELECT d2 FROM p), " +
      "edges AS (SELECT d1 AS src, d2 AS dst FROM p UNION SELECT d2, d1 FROM p), " +
      "reach(id, lbl) AS (SELECT id, id FROM nodes " +
      "UNION SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.id), " +
      "cc AS (SELECT id, MIN(lbl) AS cluster_id FROM reach GROUP BY id) " +
      "SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars " +
      "FROM docs2 WHERE doc_id NOT IN (SELECT id FROM cc WHERE id <> cluster_id) " +
      "GROUP BY lang ORDER BY lang"

  /** The q225/q287 shared CTE block: the q55 transitive-closure
    * clusters + the q112 hashed score, ranked (score desc, id asc)
    * within each cluster. q225 reports the keepers; q287 reports the
    * per-lang stats of everything that survives keeper selection. */
  private val qualityKeeperCtes: String =
    "WITH RECURSIVE toks AS (SELECT doc_id, str_split(lower(trim(text)), ' ') AS w FROM documents), " +
      "sh AS (SELECT doc_id, list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] " +
      "for i in range(1, len(w) - 1)]) AS ts FROM toks WHERE len(w) >= 3), " +
      "j AS (SELECT a.doc_id AS d1, b.doc_id AS d2, " +
      "CAST(len(list_intersect(a.ts, b.ts)) AS DOUBLE) / " +
      "(len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts))) AS jac " +
      "FROM sh a JOIN sh b ON a.doc_id < b.doc_id " +
      "AND least(len(a.ts), len(b.ts)) >= 0.8 * greatest(len(a.ts), len(b.ts)) - 1e-9 " +
      "WHERE len(a.ts) > 0 AND len(b.ts) > 0), " +
      "p AS (SELECT d1, d2 FROM j WHERE jac >= 0.8), " +
      "nodes AS (SELECT d1 AS id FROM p UNION SELECT d2 FROM p), " +
      "edges AS (SELECT d1 AS src, d2 AS dst FROM p UNION SELECT d2, d1 FROM p), " +
      "reach(id, lbl) AS (SELECT id, id FROM nodes " +
      "UNION SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.id), " +
      "cl AS (SELECT id AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY id), " +
      "t2 AS (SELECT doc_id, unnest(str_split(lower(trim(text)), ' ')) AS tok FROM documents), " +
      "h2 AS (SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      "list_transform(range(1, length(tok) + 1), i -> CAST(unicode(substr(tok, CAST(i AS INT), 1)) AS BIGINT))), " +
      "(a, b) -> (a * 31 + b) % 2147483647) AS th FROM t2 WHERE tok <> ''), " +
      "w2 AS (SELECT doc_id, ((th % 64) * 2654435761) % 1000000007 % 2001 - 1000 AS wt FROM h2), " +
      "d2 AS (SELECT doc_id, CAST(SUM(wt) AS BIGINT) AS score FROM w2 GROUP BY 1), " +
      "m AS (SELECT cl.cluster_id, cl.doc_id, d2.score FROM cl JOIN d2 USING (doc_id)), " +
      "r AS (SELECT cluster_id, doc_id, score, " +
      "row_number() OVER (PARTITION BY cluster_id ORDER BY score DESC, doc_id ASC) AS rn, " +
      "COUNT(*) OVER (PARTITION BY cluster_id) AS nm FROM m) "

  /** The q75/q282 oracle: replays both Lloyd rounds bit-for-bit —
    * quantized vectors and re-quantized means keep every distance
    * integer-valued, so the (d2, cid) assignment order is
    * engine-independent. Seeding is the fixed 37 stride (q75, the
    * fixture pin) or the derived √N stride (q282). */
  private def kmeansRefineOracle(derivedStride: Boolean): String =
    "WITH e AS (SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]), x -> round(x * 1024)) AS q FROM embeddings), " +
      (if (derivedStride)
        strideCtes +
          ", c0 AS (SELECT vec_id AS cid, q AS cv FROM e, st WHERE vec_id % st.stride = 0), "
      else
        "c0 AS (SELECT vec_id AS cid, q AS cv FROM e WHERE vec_id % 37 = 0), ") +
      "p AS (SELECT unnest(range(1, 65)) AS i), " +
      "a1 AS (SELECT e.vec_id, e.q, c0.cid, row_number() OVER (PARTITION BY e.vec_id ORDER BY " +
      "list_dot_product(e.q, e.q) - 2 * list_dot_product(e.q, c0.cv) + list_dot_product(c0.cv, c0.cv), c0.cid) AS rn FROM e, c0), " +
      "m1 AS (SELECT vec_id, q, cid FROM a1 WHERE rn = 1), " +
      "s1 AS (SELECT cid, i, round(SUM(q[i]) / COUNT(*)) AS mu, COUNT(*) AS n FROM m1, p GROUP BY cid, i), " +
      "n1 AS (SELECT cid, list(mu ORDER BY i) AS cv FROM s1 GROUP BY cid), " +
      "c1 AS (SELECT c0.cid, COALESCE(n1.cv, c0.cv) AS cv FROM c0 LEFT JOIN n1 USING (cid)), " +
      "a2 AS (SELECT e.vec_id, e.q, c1.cid, row_number() OVER (PARTITION BY e.vec_id ORDER BY " +
      "list_dot_product(e.q, e.q) - 2 * list_dot_product(e.q, c1.cv) + list_dot_product(c1.cv, c1.cv), c1.cid) AS rn FROM e, c1), " +
      "m2 AS (SELECT vec_id, q, cid FROM a2 WHERE rn = 1), " +
      "s2 AS (SELECT cid, i, round(SUM(q[i]) / COUNT(*)) AS mu, COUNT(*) AS n FROM m2, p GROUP BY cid, i), " +
      "n2 AS (SELECT cid, list(mu ORDER BY i) AS cv, MAX(n) AS n FROM s2 GROUP BY cid), " +
      "c2 AS (SELECT c1.cid, COALESCE(n2.cv, c1.cv) AS cv, COALESCE(n2.n, 0) AS n FROM c1 LEFT JOIN n2 USING (cid)) " +
      "SELECT cid, CAST(n AS BIGINT) AS n, CAST(list_dot_product(cv, cv) AS BIGINT) AS mu_dot, " +
      "CAST(list_aggregate(cv, 'sum') AS BIGINT) AS mu_sum FROM c2 ORDER BY cid"

  /** The q76/q283 oracle: the two training rounds verbatim, then q46's
    * search tail against the refined centroids. */
  private def ivfTrainedOracle(derivedStride: Boolean): String =
    "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, " +
      "list_transform(CAST(embedding AS DOUBLE[]), x -> round(x * 1024)) AS q FROM embeddings), " +
      (if (derivedStride)
        strideCtes +
          ", c0 AS (SELECT vec_id AS cid, q AS cv FROM e, st WHERE vec_id % st.stride = 0), "
      else
        "c0 AS (SELECT vec_id AS cid, q AS cv FROM e WHERE vec_id % 37 = 0), ") +
      "p AS (SELECT unnest(range(1, 65)) AS i), " +
      "a1 AS (SELECT e.vec_id, e.q, c0.cid, row_number() OVER (PARTITION BY e.vec_id ORDER BY " +
      "list_dot_product(e.q, e.q) - 2 * list_dot_product(e.q, c0.cv) + list_dot_product(c0.cv, c0.cv), c0.cid) AS rn FROM e, c0), " +
      "m1 AS (SELECT vec_id, q, cid FROM a1 WHERE rn = 1), " +
      "s1 AS (SELECT cid, i, round(SUM(q[i]) / COUNT(*)) AS mu FROM m1, p GROUP BY cid, i), " +
      "n1 AS (SELECT cid, list(mu ORDER BY i) AS cv FROM s1 GROUP BY cid), " +
      "c1 AS (SELECT c0.cid, COALESCE(n1.cv, c0.cv) AS cv FROM c0 LEFT JOIN n1 USING (cid)), " +
      "a2 AS (SELECT e.vec_id, e.q, c1.cid, row_number() OVER (PARTITION BY e.vec_id ORDER BY " +
      "list_dot_product(e.q, e.q) - 2 * list_dot_product(e.q, c1.cv) + list_dot_product(c1.cv, c1.cv), c1.cid) AS rn FROM e, c1), " +
      "m2 AS (SELECT vec_id, q, cid FROM a2 WHERE rn = 1), " +
      "s2 AS (SELECT cid, i, round(SUM(q[i]) / COUNT(*)) AS mu FROM m2, p GROUP BY cid, i), " +
      "n2 AS (SELECT cid, list(mu ORDER BY i) AS cv FROM s2 GROUP BY cid), " +
      "c2 AS (SELECT c1.cid, COALESCE(n2.cv, c1.cv) AS cv FROM c1 LEFT JOIN n2 USING (cid)), " +
      "dist AS (SELECT e.vec_id, c2.cid, " +
      "list_dot_product(e.q, e.q) - 2 * list_dot_product(e.q, c2.cv) + list_dot_product(c2.cv, c2.cv) AS d2 FROM e, c2), " +
      "asg AS (SELECT vec_id, cid FROM (SELECT vec_id, cid, " +
      "ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM dist) t WHERE rn = 1), " +
      "probes AS (SELECT cid FROM dist WHERE vec_id = 3 ORDER BY d2, cid LIMIT 8), " +
      "cand AS (SELECT a.vec_id FROM asg a JOIN probes pr USING (cid) WHERE a.vec_id <> 3), " +
      "tgt AS (SELECT MIN(v) AS t FROM e WHERE vec_id = 3), " +
      "scored AS (SELECT e.vec_id, list_dot_product(e.v, (SELECT t FROM tgt)) / " +
      "(sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product((SELECT t FROM tgt), (SELECT t FROM tgt)))) AS raw " +
      "FROM e JOIN cand USING (vec_id)) " +
      "SELECT vec_id, ROUND(raw, 4) AS score FROM scored ORDER BY score DESC, vec_id LIMIT 10"

  /** The q78/q284 oracle: q46's assignment CTEs, then q54's scoring
    * tail restricted to each probe's nprobe cells. */
  private def ivfKnnJoinOracle(derivedStride: Boolean): String =
    "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, " +
      "list_transform(CAST(embedding AS DOUBLE[]), x -> round(x * 1024)) AS q FROM embeddings), " +
      (if (derivedStride)
        strideCtes +
          ", cent AS (SELECT vec_id AS cid, q AS cv FROM e, st WHERE vec_id % st.stride = 0), "
      else
        "cent AS (SELECT vec_id AS cid, q AS cv FROM e WHERE vec_id % 37 = 0), ") +
      "dist AS (SELECT e.vec_id, cent.cid, " +
      "list_dot_product(e.q, e.q) - 2 * list_dot_product(e.q, cent.cv) + list_dot_product(cent.cv, cent.cv) AS d2 FROM e, cent), " +
      "asg AS (SELECT vec_id, cid FROM (SELECT vec_id, cid, " +
      "ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM dist) t WHERE rn = 1), " +
      "pc AS (SELECT vec_id AS probe_id, cid FROM (SELECT vec_id, cid, " +
      "ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM dist WHERE vec_id < 5) t WHERE rn <= 8), " +
      "cand AS (SELECT pc.probe_id, a.vec_id FROM asg a JOIN pc USING (cid) WHERE a.vec_id <> pc.probe_id), " +
      "p AS (SELECT vec_id AS probe_id, v AS pv FROM e WHERE vec_id < 5), " +
      "scored AS (SELECT c.probe_id, c.vec_id AS neighbor_id, " +
      "list_dot_product(e.v, p.pv) / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(p.pv, p.pv))) AS raw " +
      "FROM cand c JOIN e ON c.vec_id = e.vec_id JOIN p ON c.probe_id = p.probe_id), " +
      "r AS (SELECT probe_id, neighbor_id, raw, ROW_NUMBER() OVER " +
      "(PARTITION BY probe_id ORDER BY raw DESC, neighbor_id) AS rank FROM scored) " +
      "SELECT probe_id, neighbor_id, ROUND(raw, 4) AS score, rank FROM r " +
      "WHERE rank <= 3 ORDER BY probe_id, rank"

  /** Shared by q125/q126 (fixed-stride fixture pins) and q280/q281
    * (the √N-discipline re-gates): one PQ training round — the
    * (id, sub, subvector) explode of the grid-quantized embeddings, a
    * stride-seeded init per subspace (37 fixed, or derived ≈ √N), the
    * (d2, cid) argmin assignment, re-quantized means — and the encode
    * assignment `enc` against the refreshed codebook `c1`. */
  private def pqOracleCtes(derivedStride: Boolean): String =
    "WITH e AS (SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]), x -> round(x * 1024)) AS q FROM embeddings), " +
      (if (derivedStride) strideCtes + ", " else "") +
      "ss AS (SELECT CAST(unnest(range(0, 4)) AS INT) AS s), " +
      "sub AS (SELECT e.vec_id, ss.s, list_slice(e.q, ss.s * 16 + 1, ss.s * 16 + 16) AS sv FROM e, ss), " +
      (if (derivedStride)
        "c0 AS (SELECT s, vec_id AS cid, sv AS cv FROM sub, st WHERE vec_id % st.stride = 0), "
      else
        "c0 AS (SELECT s, vec_id AS cid, sv AS cv FROM sub WHERE vec_id % 37 = 0), ") +
      "p AS (SELECT unnest(range(1, 17)) AS i), " +
      "a1 AS (SELECT sub.vec_id, sub.s, sub.sv, c0.cid, row_number() OVER (PARTITION BY sub.vec_id, sub.s ORDER BY " +
      "list_dot_product(sub.sv, sub.sv) - 2 * list_dot_product(sub.sv, c0.cv) + list_dot_product(c0.cv, c0.cv), c0.cid) AS rn " +
      "FROM sub JOIN c0 USING (s)), " +
      "m1 AS (SELECT vec_id, s, sv, cid FROM a1 WHERE rn = 1), " +
      "s1 AS (SELECT s, cid, i, round(SUM(sv[i]) / COUNT(*)) AS mu FROM m1, p GROUP BY s, cid, i), " +
      "n1 AS (SELECT s, cid, list(mu ORDER BY i) AS cv FROM s1 GROUP BY s, cid), " +
      "c1 AS (SELECT c0.s, c0.cid, COALESCE(n1.cv, c0.cv) AS cv FROM c0 LEFT JOIN n1 USING (s, cid)), " +
      "enc AS (SELECT vec_id, s, cid FROM (SELECT sub.vec_id, sub.s, c1.cid, row_number() OVER (PARTITION BY sub.vec_id, sub.s ORDER BY " +
      "list_dot_product(sub.sv, sub.sv) - 2 * list_dot_product(sub.sv, c1.cv) + list_dot_product(c1.cv, c1.cv), c1.cid) AS rn " +
      "FROM sub JOIN c1 USING (s)) t WHERE rn = 1)"

  /** Shared by q69 (explode+agg path) and q71 (stateless in-row path):
    * two engine paths, one report, one oracle. */
  private val repetitionOracleSql: String =
    "WITH w AS (SELECT doc_id, lang, str_split(lower(trim(text)), ' ') AS ws FROM documents), " +
      "b AS (SELECT doc_id, lang, unnest([ws[i] || ' ' || ws[i+1] FOR i IN range(1, len(ws))]) AS bg " +
      "FROM w WHERE len(ws) >= 2), " +
      "c AS (SELECT doc_id, lang, bg, COUNT(*) AS cnt FROM b GROUP BY ALL), " +
      "g AS (SELECT doc_id, lang, SUM(cnt) AS tb, MAX(cnt) AS tm, COUNT(*) AS td FROM c GROUP BY ALL), " +
      "m AS (SELECT lang, (tm * 1000000) // tb AS top_micro, ((tb - td) * 1000000) // tb AS dup_micro FROM g) " +
      "SELECT lang, COUNT(*) AS n, " +
      "CAST(SUM(CASE WHEN top_micro > 60000 THEN 1 ELSE 0 END) AS BIGINT) AS n_top_flag, " +
      "CAST(SUM(CASE WHEN dup_micro > 40000 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_flag, " +
      "CAST(SUM(top_micro) AS BIGINT) AS sum_top_micro, " +
      "CAST(SUM(dup_micro) AS BIGINT) AS sum_dup_micro " +
      "FROM m GROUP BY lang ORDER BY lang"

  /** The q105 oracle, generated per round count: DuckDB replays every
    * BPE training round — frequency-weighted pair counts, the argmax
    * pick (count desc, pair asc), and the input-forward non-overlapping
    * `replace` merge — exactly as the engine runs them. Generated
    * because the rounds are mechanically identical (the hand-written
    * q75 two-round pattern, parameterized). */
  /** The q257 oracle: replays the unigram-LM trainer round for round —
    * seed substring counts + quantized ln scores, then per round a
    * RECURSIVE-CTE Viterbi DP per word (list-of-structs state, struct
    * max = the engine's (score, split) lexicographic tie-break), a
    * recursive backtrack emitting one piece per step, disuse pruning
    * and the add-one rescore. Vocab CTEs are MATERIALIZED (each is
    * referenced by the score map, the next round, and the final
    * select — DuckDB's default inlining would re-derive the chain per
    * reference). */
  private def unigramOracleSql(rounds: Int, seedTopK: Int, p: Int): String = {
    val base =
      "WITH RECURSIVE w0 AS MATERIALIZED (SELECT word, CAST(COUNT(*) AS BIGINT) AS n FROM " +
        "(SELECT unnest(list_filter(str_split(lower(trim(text)), ' '), x -> x <> '')) AS word FROM documents) GROUP BY word), " +
      s"sub AS MATERIALIZED (SELECT piece, CAST(SUM(n) AS BIGINT) AS cnt FROM " +
        s"(SELECT n, unnest(flatten([[substr(word, CAST(q AS INT), CAST(l AS INT)) FOR q IN range(1, length(word) - l + 2)] " +
        s"FOR l IN range(1, $p + 1)])) AS piece FROM w0) GROUP BY piece), " +
      "sing AS MATERIALIZED (SELECT piece FROM sub WHERE length(piece) = 1), " +
      s"seed AS (SELECT piece, cnt FROM sub WHERE length(piece) = 1 UNION ALL " +
        s"SELECT piece, cnt FROM (SELECT piece, cnt FROM sub WHERE length(piece) > 1 ORDER BY cnt DESC, piece LIMIT $seedTopK)), " +
      "v0 AS MATERIALIZED (SELECT piece, cnt, CAST(floor(ln(CAST(cnt AS DOUBLE) / CAST(t.tot AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS score_micro " +
        "FROM seed, (SELECT SUM(cnt) AS tot FROM seed) t)"
    val roundCtes = (1 to rounds).map { r =>
      s"m$r AS (SELECT map(list(piece), list(score_micro)) AS sm FROM v${r - 1}), " +
      s"dp$r AS (SELECT word, n, 0 AS i, [{'v': CAST(0 AS BIGINT), 'j': 0}] AS acc FROM w0 " +
        s"UNION ALL SELECT word, n, i + 1, list_append(acc, list_aggregate(" +
        s"[{'v': acc[j + 1].v + COALESCE(map_extract(m$r.sm, substr(word, CAST(j + 1 AS INT), CAST(i + 1 - j AS INT)))[1], -1000000000000), 'j': CAST(j AS INT)} " +
        s"FOR j IN range(greatest(0, i + 1 - $p), i + 1)], 'max')) FROM dp$r, m$r WHERE i < length(word)), " +
      s"fin$r AS (SELECT word, n, acc FROM dp$r WHERE i = length(word)), " +
      s"bt$r AS (SELECT word, n, acc, CAST(length(word) AS INT) AS e, CAST(NULL AS VARCHAR) AS piece FROM fin$r " +
        s"UNION ALL SELECT word, n, acc, acc[e + 1].j, substr(word, acc[e + 1].j + 1, e - acc[e + 1].j) FROM bt$r WHERE e > 0), " +
      s"cnt$r AS (SELECT piece, CAST(SUM(n) AS BIGINT) AS cnt FROM bt$r WHERE piece IS NOT NULL GROUP BY 1), " +
      s"kept$r AS (SELECT piece, CAST(SUM(cnt) AS BIGINT) AS cnt FROM " +
        s"(SELECT piece, cnt FROM cnt$r UNION ALL SELECT piece, CAST(0 AS BIGINT) AS cnt FROM sing) GROUP BY 1), " +
      s"v$r AS MATERIALIZED (SELECT piece, cnt, CAST(floor(ln(CAST(cnt + 1 AS DOUBLE) / CAST(t.tot + t.v AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS score_micro " +
        s"FROM kept$r, (SELECT SUM(cnt) AS tot, COUNT(*) AS v FROM kept$r) t)"
    }.mkString(", ", ", ", " ")
    base + roundCtes +
      s"SELECT piece, cnt, score_micro FROM v$rounds ORDER BY piece"
  }

  private def bpeOracleSql(rounds: Int): String = {
    val base =
      "WITH w0 AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS n FROM " +
        "(SELECT unnest(list_filter(str_split(lower(trim(text)), ' '), x -> x <> '')) AS word " +
        "FROM documents) GROUP BY word), " +
      "s0 AS (SELECT word, n, ' ' || array_to_string(" +
        "[substr(word, CAST(i AS INT), 1) for i in range(1, length(word) + 1)], ' ') || ' ' AS s FROM w0)"
    val roundCtes = (1 to rounds).map { k =>
      s"sy$k AS (SELECT n, list_filter(str_split(trim(s), ' '), x -> x <> '') AS sy FROM s${k - 1}), " +
      s"p$k AS (SELECT pair, CAST(SUM(n) AS BIGINT) AS cnt FROM " +
        s"(SELECT n, unnest([sy[i] || ' ' || sy[i + 1] for i in range(1, len(sy))]) AS pair FROM sy$k) " +
        s"GROUP BY pair), " +
      s"b$k AS (SELECT pair, cnt FROM p$k ORDER BY cnt DESC, pair LIMIT 1), " +
      s"s$k AS (SELECT word, n, replace(s, ' ' || b$k.pair || ' ', " +
        s"' ' || replace(b$k.pair, ' ', '') || ' ') AS s FROM s${k - 1} CROSS JOIN b$k)"
    }.mkString(", ", ", ", " ")
    val out = (1 to rounds)
      .map(k => s"SELECT CAST($k AS BIGINT) AS merge_round, pair, cnt FROM b$k")
      .mkString(" UNION ALL ")
    base + roundCtes + out + " ORDER BY merge_round"
  }

  /** The q107 oracle: replays the BATCHED trainer — per round the
    * top-K candidate ranking, the order-free dominance filter (keep a
    * candidate iff NO higher-ranked candidate chains with it, consumes
    * its merged symbol, or produces the same merged symbol), and the
    * whole surviving batch applied to the round-start strings via a
    * `list_reduce` fold of the same space-delimited `replace` both
    * engines share. CTEs are MATERIALIZED: each round is referenced
    * twice (next round + the output union), and DuckDB's default
    * inlining would re-derive the whole chain per reference —
    * exponential in round count. */
  private def bpeBatchOracleSql(rounds: Int, batchK: Int): String = {
    val base =
      "WITH w0 AS MATERIALIZED (SELECT word, CAST(COUNT(*) AS BIGINT) AS n FROM " +
        "(SELECT unnest(list_filter(str_split(lower(trim(text)), ' '), x -> x <> '')) AS word " +
        "FROM documents) GROUP BY word), " +
      "s0 AS MATERIALIZED (SELECT word, n, ' ' || array_to_string(" +
        "[substr(word, CAST(i AS INT), 1) for i in range(1, length(word) + 1)], ' ') || ' ' AS s FROM w0)"
    val roundCtes = (1 to rounds).map { k =>
      s"sy$k AS (SELECT n, list_filter(str_split(trim(s), ' '), x -> x <> '') AS sy FROM s${k - 1}), " +
      s"p$k AS (SELECT pair, CAST(SUM(n) AS BIGINT) AS cnt FROM " +
        s"(SELECT n, unnest([sy[i] || ' ' || sy[i + 1] for i in range(1, len(sy))]) AS pair FROM sy$k) " +
        s"GROUP BY pair), " +
      s"c$k AS MATERIALIZED (SELECT pair, cnt, rnk FROM " +
        s"(SELECT pair, cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, pair) AS rnk FROM p$k) " +
        s"WHERE rnk <= $batchK), " +
      s"b$k AS MATERIALIZED (SELECT c.pair, c.cnt, c.rnk FROM c$k c " +
        s"WHERE NOT EXISTS (SELECT 1 FROM c$k h WHERE h.rnk < c.rnk AND (" +
        "split_part(h.pair,' ',2)=split_part(c.pair,' ',1) OR " +
        "split_part(h.pair,' ',1)=split_part(c.pair,' ',2) OR " +
        "replace(h.pair,' ','')=split_part(c.pair,' ',1) OR " +
        "replace(h.pair,' ','')=split_part(c.pair,' ',2) OR " +
        "replace(c.pair,' ','')=split_part(h.pair,' ',1) OR " +
        "replace(c.pair,' ','')=split_part(h.pair,' ',2) OR " +
        "replace(c.pair,' ','')=replace(h.pair,' ','')))), " +
      s"s$k AS MATERIALIZED (SELECT word, n, list_reduce(" +
        s"list_prepend(s, (SELECT COALESCE(list(pair ORDER BY rnk), []) FROM b$k)), " +
        "(acc, x) -> replace(acc, ' ' || x || ' ', ' ' || replace(x, ' ', '') || ' ')) AS s " +
        s"FROM s${k - 1})"
    }.mkString(", ", ", ", " ")
    val out = (1 to rounds)
      .map(k => s"SELECT CAST($k AS BIGINT) AS merge_round, CAST(rnk AS BIGINT) AS rank, pair, cnt FROM b$k")
      .mkString(" UNION ALL ")
    base + roundCtes + out + " ORDER BY merge_round, rank"
  }

  /** The q106 oracle: the same generated training rounds, then the
    * final merged strings applied as the tokenization of every word
    * type, rolled up per (lang, word) counts. */
  private def bpeApplyOracleSql(rounds: Int): String = {
    val base =
      "WITH w0 AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS n FROM " +
        "(SELECT unnest(list_filter(str_split(lower(trim(text)), ' '), x -> x <> '')) AS word " +
        "FROM documents) GROUP BY word), " +
      "s0 AS (SELECT word, n, ' ' || array_to_string(" +
        "[substr(word, CAST(i AS INT), 1) for i in range(1, length(word) + 1)], ' ') || ' ' AS s FROM w0)"
    val roundCtes = (1 to rounds).map { k =>
      s"sy$k AS (SELECT n, list_filter(str_split(trim(s), ' '), x -> x <> '') AS sy FROM s${k - 1}), " +
      s"p$k AS (SELECT pair, CAST(SUM(n) AS BIGINT) AS cnt FROM " +
        s"(SELECT n, unnest([sy[i] || ' ' || sy[i + 1] for i in range(1, len(sy))]) AS pair FROM sy$k) " +
        s"GROUP BY pair), " +
      s"b$k AS (SELECT pair, cnt FROM p$k ORDER BY cnt DESC, pair LIMIT 1), " +
      s"s$k AS (SELECT word, n, replace(s, ' ' || b$k.pair || ' ', " +
        s"' ' || replace(b$k.pair, ' ', '') || ' ') AS s FROM s${k - 1} CROSS JOIN b$k)"
    }.mkString(", ", ", ", " ")
    base + roundCtes +
      s", fin AS (SELECT word, CAST(len(list_filter(str_split(trim(s), ' '), x -> x <> '')) AS BIGINT) AS ntok FROM s$rounds), " +
      "wl AS (SELECT lang, word, CAST(COUNT(*) AS BIGINT) AS m FROM " +
        "(SELECT lang, unnest(list_filter(str_split(lower(trim(text)), ' '), x -> x <> '')) AS word " +
        "FROM documents) GROUP BY 1, 2) " +
      "SELECT lang, CAST(SUM(m) AS BIGINT) AS n_words, " +
      "CAST(SUM(m * ntok) AS BIGINT) AS n_bpe_tokens, " +
      "CAST(SUM(m * length(word)) AS BIGINT) AS n_chars, " +
      "ROUND(CAST(CAST(SUM(m * length(word)) AS BIGINT) AS DOUBLE) / " +
      "CAST(CAST(SUM(m * ntok) AS BIGINT) AS DOUBLE), 4) AS chars_per_token " +
      "FROM wl JOIN fin USING (word) GROUP BY lang ORDER BY lang"
  }

  /** Shared by q131 (PNG) and q273 (QOI) — identical text->RGB pixel
    * mapping, different container: replay the DECODED-pixel stats
    * from the raw text; matching requires the container round-trip
    * to be bit-exact. */
  private val truecolorPixelReplayOracle: String =
    ("WITH dm AS (SELECT doc_id, lang, 7 + doc_id % 8 AS w, 4 + doc_id % 6 AS h, "
      + "rpad(substr(text, 1, CAST(3*(7 + doc_id % 8)*(4 + doc_id % 6) AS INT)), "
      + "CAST(3*(7 + doc_id % 8)*(4 + doc_id % 6) AS INT), ' ') AS px FROM documents), "
      + "c AS (SELECT doc_id, lang, w, h, w*h AS np, px, unnest(range(w*h)) AS p FROM dm), "
      + "c2 AS (SELECT doc_id, lang, w, h, np, "
      + "(ord(substr(px, CAST(3*p + 1 AS INT), 1)) * 299 + "
      + "ord(substr(px, CAST(3*p + 2 AS INT), 1)) * 587 + "
      + "ord(substr(px, CAST(3*p + 3 AS INT), 1)) * 114) // 1000 AS g FROM c), "
      + "per AS (SELECT doc_id, lang, w, h, np, CAST(SUM(g) AS BIGINT) AS s, "
      + "SUM(CASE WHEN g // 16 = 2 THEN 1 ELSE 0 END) AS h2, "
      + "SUM(CASE WHEN g // 16 = 6 THEN 1 ELSE 0 END) AS h6, "
      + "SUM(CASE WHEN g // 16 = 7 THEN 1 ELSE 0 END) AS h7 "
      + "FROM c2 GROUP BY doc_id, lang, w, h, np) "
      + "SELECT lang, COUNT(*) AS n, CAST(SUM(w) AS BIGINT) AS sum_w, "
      + "CAST(SUM(h) AS BIGINT) AS sum_h, "
      + "CAST(SUM(np) AS BIGINT) AS total_pixels, "
      + "CAST(SUM(s * 1000000 // np) AS BIGINT) AS sum_mean_micro, "
      + "CAST(SUM(h2) AS BIGINT) AS h2, "
      + "CAST(SUM(h6) AS BIGINT) AS h6, CAST(SUM(h7) AS BIGINT) AS h7 "
      + "FROM per GROUP BY lang ORDER BY lang")

  val oracle: Map[String, String] = Map(
    "q01_scan_project" ->
      "SELECT l_orderkey, l_linenumber FROM lineitem ORDER BY l_orderkey, l_linenumber",
    "q02_mask" ->
      "SELECT c_custkey, 'CENSORED' AS c_name FROM customer ORDER BY c_custkey",
    "q03_filter" ->
      "SELECT o_orderkey FROM orders WHERE o_orderdate >= TIMESTAMP '1995-01-01' ORDER BY o_orderkey",
    "q04_incremental_hwm" ->
      ("SELECT event_id FROM events " +
        "WHERE ts > (SELECT MAX(ts) FROM events WHERE event_id < 500) ORDER BY event_id"),
    "q05_join_inner" ->
      ("SELECT n_name, r_name FROM nation JOIN region ON n_regionkey = r_regionkey " +
        "ORDER BY n_name, r_name"),
    "q06_multiway_agg" ->
      ("SELECT n_name, ROUND(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) " +
        "AS DOUBLE), 4) AS revenue " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey " +
        "JOIN nation ON c_nationkey = n_nationkey " +
        "GROUP BY n_name ORDER BY n_name"),
    "q07_broadcast_join" ->
      ("SELECT p_brand, COUNT(*) AS n FROM lineitem JOIN part ON l_partkey = p_partkey " +
        "GROUP BY p_brand ORDER BY p_brand"),
    "q08_left_outer" ->
      ("SELECT c_custkey, COUNT(o_orderkey) AS n_orders FROM customer " +
        "LEFT JOIN orders ON c_custkey = o_custkey GROUP BY c_custkey ORDER BY c_custkey"),
    "q09_semi_join" ->
      ("SELECT c_custkey FROM customer WHERE c_custkey IN (SELECT o_custkey FROM orders) " +
        "ORDER BY c_custkey"),
    "q10_anti_join" ->
      ("SELECT c_custkey FROM customer WHERE NOT EXISTS " +
        "(SELECT 1 FROM orders WHERE o_custkey = c_custkey " +
        "AND o_orderdate >= TIMESTAMP '1998-06-01') ORDER BY c_custkey"),
    "q11_range_join" ->
      ("SELECT o_orderstatus, COUNT(*) AS n FROM events, orders " +
        "WHERE value >= o_totalprice * 0.001 AND value <= o_totalprice * 0.001 + 0.5 " +
        "GROUP BY o_orderstatus ORDER BY o_orderstatus"),
    "q12_agg_distinct" ->
      ("SELECT o_orderstatus, COUNT(*) AS n, COUNT(DISTINCT o_custkey) AS n_cust " +
        "FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"),
    "q13_rollup" ->
      ("SELECT CAST(GROUPING(l_returnflag) AS INT) AS g_rf, " +
        "CAST(GROUPING(l_linestatus) AS INT) AS g_ls, " +
        "COALESCE(l_returnflag, 'ALL') AS rf, COALESCE(l_linestatus, 'ALL') AS ls, " +
        "ROUND(SUM(l_quantity), 4) AS sum_qty, COUNT(*) AS n " +
        "FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus) " +
        "ORDER BY g_rf, g_ls, rf, ls"),
    "q14_cube" ->
      ("SELECT CAST(GROUPING(o_orderstatus) AS INT) AS g_s, " +
        "CAST(GROUPING(o_orderpriority) AS INT) AS g_p, " +
        "COALESCE(o_orderstatus, 'ALL') AS status, COALESCE(o_orderpriority, 'ALL') AS priority, " +
        "COUNT(*) AS n FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority) " +
        "ORDER BY g_s, g_p, status, priority"),
    "q15_window_topk" ->
      ("SELECT o_custkey, o_orderkey, rn FROM (" +
        "SELECT o_custkey, o_orderkey, ROW_NUMBER() OVER " +
        "(PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn FROM orders) t " +
        "WHERE rn <= 3 ORDER BY o_custkey, rn"),
    "q16_window_running" ->
      ("SELECT o_custkey, o_orderkey, ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER " +
        "(PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE), 4) AS running " +
        "FROM orders ORDER BY o_custkey, o_orderkey"),
    "q17_lag_delta" ->
      ("SELECT event_id, user_id, ROUND(value - LAG(value) OVER " +
        "(PARTITION BY user_id ORDER BY ts, event_id), 4) AS delta " +
        "FROM events ORDER BY event_id"),
    "q18_topk" ->
      ("SELECT o_orderkey, o_totalprice FROM orders " +
        "ORDER BY o_totalprice DESC, o_orderkey LIMIT 10"),
    "q19_setops" ->
      ("SELECT 'intersect' AS op, COUNT(*) AS n FROM " +
        "((SELECT o_custkey FROM orders) INTERSECT (SELECT c_custkey FROM customer)) t1 " +
        "UNION ALL SELECT 'except' AS op, COUNT(*) AS n FROM " +
        "((SELECT c_custkey FROM customer) EXCEPT (SELECT o_custkey FROM orders)) t2 " +
        "UNION ALL SELECT 'union_all' AS op, COUNT(*) AS n FROM " +
        "((SELECT o_custkey FROM orders) UNION ALL (SELECT c_custkey FROM customer)) t3 " +
        "ORDER BY op"),
    "q20_scalar_fns" ->
      ("SELECT l_orderkey, l_linenumber, CONCAT('o_', CAST(l_orderkey AS VARCHAR)) AS tag, " +
        "SUBSTRING(l_returnflag, 1, 1) AS rf, YEAR(l_shipdate) AS yr, " +
        "ROUND(l_extendedprice * (1.0 + l_tax), 4) AS gross " +
        "FROM lineitem WHERE l_quantity < 5 ORDER BY l_orderkey, l_linenumber, yr, gross, rf"),
    "q21_json" ->
      ("SELECT event_id, CAST(props->>'$.k' AS INT) AS k FROM events ORDER BY event_id"),
    "q22_window_tumbling" ->
      ("SELECT date_trunc('hour', ts) AS wstart, event_type, COUNT(*) AS n, " +
        "ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4) AS sum_value " +
        "FROM events GROUP BY date_trunc('hour', ts), event_type ORDER BY wstart, event_type"),
    "q23_session_window" ->
      ("WITH g AS (SELECT user_id, ts, event_id, CASE WHEN LAG(ts) OVER w IS NULL " +
        "OR ts - LAG(ts) OVER w >= INTERVAL '30 minutes' THEN 1 ELSE 0 END AS brk " +
        "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), " +
        "s AS (SELECT user_id, ts, SUM(brk) OVER " +
        "(PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid " +
        "FROM g) " + // ts,event_id: same total order as window w (ties must not flap sid)
        "SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n FROM s " +
        "GROUP BY user_id, sid ORDER BY user_id, session_start"),
    "q24_cdc_latest_state" ->
      ("SELECT user_id, event_id, ts, event_type, ROUND(value, 4) AS value FROM (" +
        "SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn " +
        "FROM events) t WHERE rn = 1 ORDER BY user_id"),
    "q25_dedup_exact" ->
      ("WITH survivors AS (SELECT MIN(doc_id) AS doc_id FROM documents " +
        "GROUP BY LOWER(TRIM(text))) " +
        "SELECT lang, COUNT(*) AS n FROM documents JOIN survivors USING(doc_id) " +
        "GROUP BY lang ORDER BY lang"),
    "q26_token_counts" ->
      ("SELECT token, COUNT(*) AS n FROM (SELECT UNNEST(str_split(LOWER(text), ' ')) AS token " +
        "FROM documents) t WHERE token <> '' GROUP BY token ORDER BY n DESC, token LIMIT 20"),
    "q27_cosine_topk" ->
      ("WITH tgt AS (SELECT MIN(CAST(embedding AS DOUBLE[])) AS t_e FROM embeddings WHERE vec_id = 0), " +
        "scored AS (SELECT vec_id, " +
        "list_dot_product(CAST(embedding AS DOUBLE[]), (SELECT t_e FROM tgt)) / " +
        "(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) * " +
        "sqrt(list_dot_product((SELECT t_e FROM tgt), (SELECT t_e FROM tgt)))) AS raw " +
        "FROM embeddings WHERE vec_id <> 0) " +
        "SELECT vec_id, ROUND(raw, 4) AS score FROM scored " +
        "ORDER BY score DESC, vec_id LIMIT 5"),
    "q28_multimodal" ->
      ("SELECT lang, COUNT(*) AS n, " +
        "ROUND(CAST(SUM(n_chars) AS DOUBLE) / COUNT(*), 4) AS avg_chars, " +
        "MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars " +
        "FROM documents JOIN embeddings ON doc_id = vec_id WHERE label = 1 " +
        "GROUP BY lang ORDER BY lang"),
    "q29_cdc_unwrap" ->
      ("WITH c AS (SELECT event_id, user_id, value, " +
        "CASE WHEN event_type = 'signup' THEN 'c' WHEN event_type = 'error' THEN 'd' ELSE 'u' END AS op, " +
        "epoch_ms(ts) AS ts_ms FROM events), " +
        "r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts_ms DESC, event_id DESC) AS rn FROM c) " +
        "SELECT user_id, event_id, op AS __op, " +
        "CASE WHEN op = 'd' THEN 'true' ELSE 'false' END AS __deleted, " +
        "ROUND(value, 4) AS value FROM r WHERE rn = 1 ORDER BY user_id"),
    "q30_neardup_minhash" ->
      ("WITH toks AS (SELECT doc_id, str_split(lower(trim(text)), ' ') AS w FROM documents), " +
        "sh AS (SELECT doc_id, list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] " +
        "for i in range(1, len(w) - 1)]) AS ts FROM toks WHERE len(w) >= 3), " +
        "j AS (SELECT a.doc_id AS d1, b.doc_id AS d2, " +
        "CAST(len(list_intersect(a.ts, b.ts)) AS DOUBLE) / " +
        "(len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts))) AS jac " +
        "FROM sh a JOIN sh b ON a.doc_id < b.doc_id " +
        // J ≤ min/max: size-ratio prune (sound with float slack), same
        // bound the Spark operator applies before its intersection join
        "AND least(len(a.ts), len(b.ts)) >= 0.8 * greatest(len(a.ts), len(b.ts)) - 1e-9 " +
        "WHERE len(a.ts) > 0 AND len(b.ts) > 0) " +
        "SELECT d1, d2, ROUND(jac, 4) AS jaccard FROM j WHERE jac >= 0.8 ORDER BY d1, d2"),
    "q31_knn_pruned" ->
      ("WITH tgt AS (SELECT MIN(CAST(embedding AS DOUBLE[])) AS t_e FROM embeddings WHERE vec_id = 1), " +
        "scored AS (SELECT vec_id, " +
        "list_dot_product(CAST(embedding AS DOUBLE[]), (SELECT t_e FROM tgt)) / " +
        "(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) * " +
        "sqrt(list_dot_product((SELECT t_e FROM tgt), (SELECT t_e FROM tgt)))) AS raw " +
        "FROM embeddings WHERE vec_id <> 1) " +
        "SELECT vec_id, ROUND(raw, 4) AS score FROM scored " +
        "ORDER BY score DESC, vec_id LIMIT 10"),
    "q32_label_remap" ->
      ("SELECT regexp_replace(event_type, '^(click|view)$', 'engagement') AS label, " +
        "COUNT(*) AS n, ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4) AS sum_value " +
        "FROM events GROUP BY label ORDER BY label"),
    "q33_rate_windowed" ->
      ("SELECT date_trunc('hour', ts) AS wstart, event_type, " +
        "ROUND((MAX(value) - MIN(value)) / 3600.0, 6) AS rate " +
        "FROM events GROUP BY date_trunc('hour', ts), event_type ORDER BY wstart, event_type"),
    "q34_asof_join" ->
      ("WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'), " +
        "s AS (SELECT user_id, ts, MAX(event_id) AS signup_event_id FROM events " +
        "WHERE event_type = 'signup' GROUP BY user_id, ts) " +
        "SELECT p.event_id, p.user_id, s.signup_event_id " +
        "FROM p ASOF LEFT JOIN s ON p.user_id = s.user_id AND p.ts >= s.ts " +
        "ORDER BY p.event_id"),
    "q35_ann_lsh" -> lshOracle,
    "q36_simhash_neardup" -> simhashOracle,
    "q37_embedding_neardup" -> embNearDupOracle,
    "q38_text_quality" ->
      ("WITH d AS (SELECT lang, list_filter(str_split(lower(trim(text)), ' '), t -> t <> '') AS w " +
        "FROM documents), " +
        "m AS (SELECT lang, len(w) AS n_tok, " +
        "len(list_filter(w, t -> list_contains(['the','a','of','and','in','to','is'], t))) AS n_stop, " +
        "list_sum(list_transform(w, t -> CAST(length(t) AS BIGINT))) AS n_char FROM d) " +
        "SELECT lang, COUNT(*) AS n, " +
        "ROUND(CAST(SUM(n_tok) AS DOUBLE) / COUNT(*), 4) AS avg_tokens, " +
        "ROUND(CAST(SUM(n_char) AS DOUBLE) / SUM(n_tok), 4) AS avg_token_len, " +
        "ROUND(CAST(SUM(n_stop) AS DOUBLE) / SUM(n_tok), 4) AS stopword_ratio " +
        "FROM m GROUP BY lang ORDER BY lang"),
    "q39_langid" ->
      ("WITH d AS (SELECT lang, list_filter(str_split(lower(trim(text)), ' '), t -> t <> '') AS w " +
        "FROM documents), " +
        "sc AS (SELECT lang, " +
        "len(list_filter(w, t -> list_contains(['der','die','das','und'], t))) AS s_de, " +
        "len(list_filter(w, t -> list_contains(['the','a','of','and'], t))) AS s_en, " +
        "len(list_filter(w, t -> list_contains(['el','la','los','y'], t))) AS s_es, " +
        "len(list_filter(w, t -> list_contains(['le','la','les','et'], t))) AS s_fr FROM d) " +
        "SELECT lang, CASE " +
        "WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de' " +
        "WHEN s_en >= s_es AND s_en >= s_fr THEN 'en' " +
        "WHEN s_es >= s_fr THEN 'es' ELSE 'fr' END AS predicted, COUNT(*) AS n " +
        "FROM sc GROUP BY lang, predicted ORDER BY lang, predicted"),
    "q40_fingerprint" ->
      ("WITH f AS (SELECT lang, list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        "list_transform(range(1, length(lower(trim(text))) + 1), " +
        "i -> CAST(unicode(substr(lower(trim(text)), CAST(i AS INT), 1)) AS BIGINT))), " +
        "(a, b) -> (a * 31 + b) % 2147483647) AS fp FROM documents) " +
        "SELECT lang, COUNT(*) AS n, COUNT(DISTINCT fp) AS n_fp, MIN(fp) AS min_fp " +
        "FROM f GROUP BY lang ORDER BY lang"),
    "q41_token_regex" ->
      // CAST AS BIGINT: DuckDB's SUM over integers returns HUGEINT/INT128,
      // Spark returns LongType — uncast, the schema hash diverges even
      // when every value agrees (the one red hash in CORRECTNESS_r04)
      ("WITH d AS (SELECT lang, regexp_extract_all(lower(trim(text)), " +
        "'[a-z]+|[0-9]+|[^a-z0-9\\s]') AS tok FROM documents) " +
        "SELECT lang, CAST(SUM(len(tok)) AS BIGINT) AS n_tokens, " +
        "CAST(SUM(len(list_filter(tok, t -> regexp_full_match(t, '[a-z]+')))) AS BIGINT) AS n_alpha, " +
        "CAST(SUM(len(list_filter(tok, t -> regexp_full_match(t, '[0-9]+')))) AS BIGINT) AS n_num " +
        "FROM d GROUP BY lang ORDER BY lang"),
    "q42_percentiles" ->
      ("SELECT l_returnflag, ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS p50, " +
        "ROUND(quantile_cont(l_extendedprice, 0.95), 4) AS p95, " +
        "ROUND(quantile_cont(l_quantity, 0.5), 4) AS q50 " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),
    "q43_full_outer" ->
      ("WITH c AS (SELECT c_custkey FROM customer WHERE c_custkey <= 900), " +
        "o AS (SELECT o_custkey, COUNT(*) AS n_orders FROM orders " +
        "WHERE o_custkey >= 100 GROUP BY o_custkey) " +
        "SELECT COALESCE(c_custkey, o_custkey) AS custkey, " +
        "CAST(c_custkey IS NOT NULL AS INT) AS has_c, " +
        "COALESCE(n_orders, 0) AS n_orders " +
        "FROM c FULL OUTER JOIN o ON c_custkey = o_custkey ORDER BY custkey"),
    "q44_grouping_sets" ->
      ("SELECT CAST(GROUPING(l_returnflag) AS INT) AS g_rf, " +
        "CAST(GROUPING(l_linestatus) AS INT) AS g_ls, " +
        "COALESCE(l_returnflag, 'ALL') AS rf, COALESCE(l_linestatus, 'ALL') AS ls, " +
        "COUNT(*) AS n FROM lineitem " +
        "GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ()) " +
        "ORDER BY g_rf, g_ls, rf, ls"),
    "q45_rate_resets" ->
      ("WITH s AS (SELECT user_id, ts, value, LAG(value) OVER " +
        "(PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM events), " +
        "i AS (SELECT user_id, ts, CASE WHEN prev IS NULL THEN 0.0 " +
        "WHEN value >= prev THEN value - prev ELSE value END AS inc FROM s) " +
        "SELECT user_id, COUNT(*) AS n_samples, " +
        "ROUND(CAST(SUM(CAST(inc AS DECIMAL(18,6))) AS DOUBLE), 4) AS total_increase, " +
        "ROUND(CAST(epoch_ms(MAX(ts)) - epoch_ms(MIN(ts)) AS DOUBLE) / 1000.0, 4) AS span_sec " +
        "FROM i GROUP BY user_id HAVING span_sec > 0 ORDER BY user_id"),
    "q46_ann_ivf" -> ivfOracle,
    "q47_pipeline_smt" ->
      ("SELECT lang, COUNT(*) AS n, " +
        "CAST(SUM(CASE WHEN n_chars < 200 THEN 1 ELSE 0 END) AS BIGINT) AS n_masked " +
        "FROM documents WHERE lang IN ('en', 'fr') GROUP BY lang ORDER BY lang"),
    "q48_incremental_id" ->
      ("SELECT event_id, user_id FROM events WHERE event_id > " +
        "(SELECT MAX(event_id) FROM events WHERE event_type = 'signup' AND user_id < 50) " +
        "ORDER BY event_id"),
    "q49_dataprep" ->
      ("WITH survivors AS (SELECT MIN(doc_id) AS doc_id FROM documents " +
        "GROUP BY LOWER(TRIM(text))), " +
        "d AS (SELECT doc_id, lang, n_chars, " +
        "list_filter(str_split(lower(trim(text)), ' '), t -> t <> '') AS w " +
        "FROM documents JOIN survivors USING (doc_id)), " +
        "m AS (SELECT lang, n_chars, len(w) AS n_tok, " +
        "len(list_filter(w, t -> list_contains(['the','a','of','and','in','to','is'], t))) AS n_stop, " +
        "len(list_filter(w, t -> list_contains(['der','die','das','und'], t))) AS s_de, " +
        "len(list_filter(w, t -> list_contains(['the','a','of','and'], t))) AS s_en, " +
        "len(list_filter(w, t -> list_contains(['el','la','los','y'], t))) AS s_es, " +
        "len(list_filter(w, t -> list_contains(['le','la','les','et'], t))) AS s_fr FROM d), " +
        "f AS (SELECT lang, n_chars, CASE " +
        "WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de' " +
        "WHEN s_en >= s_es AND s_en >= s_fr THEN 'en' " +
        "WHEN s_es >= s_fr THEN 'es' ELSE 'fr' END AS predicted " +
        "FROM m WHERE n_tok >= 10 AND 2 * n_stop < n_tok) " +
        "SELECT lang, predicted, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS sum_chars " +
        "FROM f GROUP BY lang, predicted ORDER BY lang, predicted"),
    "q50_promtext_roundtrip" ->
      // parse ∘ format = identity, so the oracle aggregates the raw table
      ("SELECT 'graft_value' AS name, user_id, event_type, COUNT(*) AS n, " +
        "ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4) AS sum_value, " +
        "MAX(epoch_ms(ts)) AS max_ts " +
        "FROM events GROUP BY user_id, event_type ORDER BY user_id, event_type"),
    "q52_neardup_ngram" ->
      // intersection via unnest + equi-join (the Spark operator's own
      // shape): selective 10-grams keep the join sparse — the all-pairs
      // list_intersect formulation is quadratic in documents and did not
      // terminate in reasonable time at sf0.1. Zero-intersection pairs
      // are absent from `inter`, which the >= 0.8 filter excludes anyway.
      ("WITH s AS (SELECT doc_id, lower(trim(text)) AS t FROM documents), " +
        "sh AS (SELECT doc_id, list_distinct([substr(t, i, 10) for i in range(1, length(t) - 8)]) AS gs " +
        "FROM s WHERE length(t) >= 10), " +
        "r AS (SELECT doc_id, unnest(gs) AS g FROM sh), " +
        "inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS i " +
        "FROM r a JOIN r b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY d1, d2), " +
        "lens AS (SELECT doc_id, len(gs) AS n FROM sh), " +
        "j AS (SELECT d1, d2, CAST(i AS DOUBLE) / (la.n + lb.n - i) AS jac " +
        "FROM inter JOIN lens la ON d1 = la.doc_id JOIN lens lb ON d2 = lb.doc_id) " +
        "SELECT d1, d2, ROUND(jac, 4) AS jaccard FROM j WHERE jac >= 0.8 ORDER BY d1, d2"),
    "q53_window_sliding" ->
      // each event belongs to 2 overlapping 1h/30m windows: the 30-min
      // bucket of ts and the one 30 min earlier (both epoch-aligned,
      // matching Spark's window() alignment)
      ("WITH b AS (SELECT event_type, value, date_trunc('hour', ts) + " +
        "CASE WHEN EXTRACT(minute FROM ts) >= 30 THEN INTERVAL 30 MINUTE " +
        "ELSE INTERVAL 0 MINUTE END AS tb FROM events), " +
        "w AS (SELECT event_type, value, " +
        "CASE WHEN k = 1 THEN tb - INTERVAL 30 MINUTE ELSE tb END AS wstart " +
        "FROM b CROSS JOIN (VALUES (0), (1)) t(k)) " +
        "SELECT wstart, event_type, COUNT(*) AS n, " +
        "ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4) AS sum_value " +
        "FROM w GROUP BY wstart, event_type ORDER BY wstart, event_type"),
    "q54_knn_join" ->
      ("WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
        "p AS (SELECT vec_id AS probe_id, v AS pv FROM e WHERE vec_id < 5), " +
        "scored AS (SELECT p.probe_id, e.vec_id AS neighbor_id, " +
        "list_dot_product(e.v, p.pv) / (sqrt(list_dot_product(e.v, e.v)) * " +
        "sqrt(list_dot_product(p.pv, p.pv))) AS raw " +
        "FROM e CROSS JOIN p WHERE e.vec_id <> p.probe_id), " +
        "r AS (SELECT probe_id, neighbor_id, raw, ROW_NUMBER() OVER " +
        "(PARTITION BY probe_id ORDER BY raw DESC, neighbor_id) AS rank FROM scored) " +
        "SELECT probe_id, neighbor_id, ROUND(raw, 4) AS score, rank FROM r " +
        "WHERE rank <= 3 ORDER BY probe_id, rank"),
    "q55_dup_clusters" ->
      // transitive closure (recursive CTE) over the q30 pair graph;
      // cluster id = min reachable node — identical to min-label
      // propagation's fixpoint
      ("WITH RECURSIVE toks AS (SELECT doc_id, str_split(lower(trim(text)), ' ') AS w FROM documents), " +
        "sh AS (SELECT doc_id, list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] " +
        "for i in range(1, len(w) - 1)]) AS ts FROM toks WHERE len(w) >= 3), " +
        "j AS (SELECT a.doc_id AS d1, b.doc_id AS d2, " +
        "CAST(len(list_intersect(a.ts, b.ts)) AS DOUBLE) / " +
        "(len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts))) AS jac " +
        "FROM sh a JOIN sh b ON a.doc_id < b.doc_id " +
        "AND least(len(a.ts), len(b.ts)) >= 0.8 * greatest(len(a.ts), len(b.ts)) - 1e-9 " +
        "WHERE len(a.ts) > 0 AND len(b.ts) > 0), " +
        "p AS (SELECT d1, d2 FROM j WHERE jac >= 0.8), " +
        "nodes AS (SELECT d1 AS id FROM p UNION SELECT d2 FROM p), " +
        "edges AS (SELECT d1 AS src, d2 AS dst FROM p UNION SELECT d2, d1 FROM p), " +
        "reach(id, lbl) AS (SELECT id, id FROM nodes " +
        "UNION SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.id) " +
        "SELECT id AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY id ORDER BY doc_id"),
    "q56_salted_join" ->
      // the plain join: salting must be invisible in the result
      ("SELECT o_orderpriority, COUNT(*) AS n, " +
        "ROUND(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) " +
        "AS DOUBLE), 4) AS revenue " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "GROUP BY o_orderpriority ORDER BY o_orderpriority"),
    "q57_interval_funnel" ->
      ("SELECT s.user_id, COUNT(*) AS n_pairs, " +
        "ROUND(CAST(SUM(CAST(p.value AS DECIMAL(18,6))) AS DOUBLE), 4) AS sum_value " +
        "FROM events s JOIN events p ON s.user_id = p.user_id " +
        "WHERE s.event_type = 'signup' AND p.event_type = 'purchase' " +
        "AND p.ts >= s.ts AND p.ts < s.ts + INTERVAL 30 MINUTE " +
        "GROUP BY s.user_id ORDER BY s.user_id"),
    "q58_multimodal_decode" ->
      // per-char codepoint arithmetic replays the stub decoder's byte
      // histogram exactly (ASCII: 1 char = 1 byte, codepoint = byte)
      ("WITH c AS (SELECT doc_id, lang, length(text) AS n_bytes, " +
        "unnest(str_split(text, '')) AS ch FROM documents), " +
        "per AS (SELECT doc_id, lang, n_bytes, " +
        "CAST(SUM(ord(ch)) AS BIGINT) * 1000000 // n_bytes AS mean_micro, " +
        "SUM(CASE WHEN ord(ch) // 16 = 3 THEN 1 ELSE 0 END) AS h3, " +
        "SUM(CASE WHEN ord(ch) // 16 = 6 THEN 1 ELSE 0 END) AS h6, " +
        "SUM(CASE WHEN ord(ch) // 16 = 7 THEN 1 ELSE 0 END) AS h7 " +
        "FROM c GROUP BY doc_id, lang, n_bytes) " +
        "SELECT lang, COUNT(*) AS n, CAST(SUM(n_bytes) AS BIGINT) AS total_bytes, " +
        "CAST(SUM(mean_micro) AS BIGINT) AS sum_mean_micro, " +
        "CAST(SUM(h3) AS BIGINT) AS h3, CAST(SUM(h6) AS BIGINT) AS h6, " +
        "CAST(SUM(h7) AS BIGINT) AS h7 FROM per GROUP BY lang ORDER BY lang"),
    "q59_jmx_relabel" ->
      // rebuild the raw MBean names, relabel with the same RE2-safe
      // pattern (literal rename template, no group refs — Java regex and
      // RE2 agree), sum by the extracted labels
      ("WITH m AS (SELECT 'kafka.connect<type=task-metrics, connector=' || event_type || " +
        "', task=' || CAST(user_id % 4 AS VARCHAR) || '><>poll-total' AS raw, value FROM events), " +
        "r AS (SELECT regexp_replace(raw, " +
        "'kafka\\.connect<type=task-metrics, connector=([a-z]+), task=([0-9]+)><>poll-total', " +
        "'kafka_connect_task_poll_total') AS name, " +
        "regexp_extract(raw, 'connector=([a-z]+)', 1) AS connector, " +
        "regexp_extract(raw, 'task=([0-9]+)', 1) AS task, value FROM m) " +
        "SELECT name, connector, task, COUNT(*) AS n, " +
        "ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4) AS sum_value " +
        "FROM r GROUP BY name, connector, task ORDER BY name, connector, task"),
    "q60_dedup_pipeline" ->
      // exact survivors → near-dup pairs over survivors → recursive-CTE
      // closure → drop non-canonical members → per-lang stats
      dedupPipelineOracle,
    "q61_gapfill" ->
      ("WITH bounds AS (SELECT date_trunc('hour', MIN(ts)) AS lo, " +
        "date_trunc('hour', MAX(ts)) AS hi FROM events), " +
        "hours AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS wstart FROM bounds), " +
        "types AS (SELECT DISTINCT event_type FROM events), " +
        "counts AS (SELECT date_trunc('hour', ts) AS wstart, event_type, COUNT(*) AS n " +
        "FROM events GROUP BY 1, 2) " +
        "SELECT h.wstart, t.event_type, COALESCE(c.n, 0) AS n " +
        "FROM hours h CROSS JOIN types t " +
        "LEFT JOIN counts c ON c.wstart = h.wstart AND c.event_type = t.event_type " +
        "ORDER BY h.wstart, t.event_type"),
    "q62_pivot" ->
      ("SELECT user_id, " +
        "CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click, " +
        "CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error, " +
        "CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase, " +
        "CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup, " +
        "CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view " +
        "FROM events GROUP BY user_id ORDER BY user_id"),
    "q63_window_family" ->
      ("SELECT o_custkey, o_orderkey, DENSE_RANK() OVER w AS dr, NTILE(4) OVER w AS nt, " +
        "ROUND(CUME_DIST() OVER w, 4) AS cd, " +
        "FIRST_VALUE(o_orderkey) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_ok " +
        "FROM orders WHERE o_custkey <= 200 " +
        "WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) " +
        "ORDER BY o_custkey, o_orderkey"),
    "q64_schema_merge" ->
      ("WITH u AS (SELECT c_custkey AS id, c_name AS name, NULL::DOUBLE AS bal, " +
        "'customer' AS src FROM customer " +
        "UNION ALL SELECT s_suppkey, s_name, s_acctbal, 'supplier' FROM supplier) " +
        "SELECT src, COUNT(*) AS n, COUNT(bal) AS n_bal, " +
        "ROUND(CAST(SUM(CAST(COALESCE(bal, 0.0) AS DECIMAL(18,6))) AS DOUBLE), 4) AS sum_bal " +
        "FROM u GROUP BY src ORDER BY src"),
    "q65_right_outer" ->
      ("SELECT n_name, COUNT(s_suppkey) AS n_suppliers " +
        "FROM (SELECT * FROM supplier WHERE s_acctbal > 5000) s " +
        "RIGHT JOIN nation ON s_nationkey = n_nationkey " +
        "GROUP BY n_name ORDER BY n_name"),
    "q66_sampling" ->
      // identical integer arithmetic: selector = (id·2654435761) mod P,
      // sample keeps s/P < 300/1000, quota ranks by (s, id) per lang
      ("WITH sel AS (SELECT *, (doc_id * 2654435761) % 1000000007 AS s FROM documents), " +
        "samp AS (SELECT * FROM sel WHERE s * 1000 < 300::BIGINT * 1000000007), " +
        "r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY s, doc_id) AS rn FROM samp) " +
        "SELECT lang, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS sum_chars, " +
        "MIN(doc_id) AS min_id, MAX(doc_id) AS max_id " +
        "FROM r WHERE rn <= 25 GROUP BY lang ORDER BY lang"),
    "q67_mixture" ->
      ("WITH sel AS (SELECT *, (doc_id * 2654435761) % 1000000007 AS s, " +
        "CASE lang WHEN 'en' THEN 500 WHEN 'de' THEN 300 WHEN 'fr' THEN 100 " +
        "ELSE 50 END AS rate FROM documents) " +
        "SELECT lang, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS sum_chars " +
        "FROM sel WHERE s * 1000 < rate::BIGINT * 1000000007 " +
        "GROUP BY lang ORDER BY lang"),
    "q68_token_budget" ->
      ("WITH sel AS (SELECT *, (doc_id * 2654435761) % 1000000007 AS s FROM documents), " +
        "c AS (SELECT *, SUM(n_chars) OVER (ORDER BY s, doc_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM sel) " +
        "SELECT lang, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS sum_chars, " +
        "CAST(MAX(cum) AS BIGINT) AS max_cum " +
        "FROM c WHERE cum <= 10000 GROUP BY lang ORDER BY lang"),
    "q69_repetition" -> repetitionOracleSql,
    // q71 runs the same report through the stateless in-row path; the
    // oracle is the SAME SQL — path equivalence is the point
    "q71_repetition_stream_twin" -> repetitionOracleSql,
    "q70_decontamination" ->
      ("WITH w AS (SELECT doc_id, lang, str_split(lower(trim(text)), ' ') AS ws FROM documents), " +
        "g AS (SELECT DISTINCT doc_id, lang, " +
        "unnest(list_distinct([array_to_string(ws[i:i+3], ' ') FOR i IN range(1, len(ws) - 2)])) AS gram " +
        "FROM w WHERE len(ws) >= 4), " +
        "e AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0), " +
        "t AS (SELECT DISTINCT doc_id, lang FROM g WHERE doc_id % 97 <> 0 " +
        "AND gram IN (SELECT gram FROM e)), " +
        "tot AS (SELECT lang, COUNT(*) AS n_train FROM documents WHERE doc_id % 97 <> 0 GROUP BY lang) " +
        "SELECT tot.lang, n_train, COALESCE(c.n, 0) AS n_contaminated " +
        "FROM tot LEFT JOIN (SELECT lang, COUNT(*) AS n FROM t GROUP BY lang) c USING (lang) " +
        "ORDER BY lang"),
    "q51_multimodal_binary" ->
      // ASCII corpus: char positions == byte positions, so VARCHAR substr
      // replays the engine's byte-based binary slicing exactly
      ("WITH idx AS (SELECT lang, text, " +
        "unnest(range(0, CAST(ceil(length(text) / 64.0) AS BIGINT))) AS i FROM documents), " +
        "f AS (SELECT lang, substr(text, CAST(i * 64 + 1 AS BIGINT), 64) AS frame " +
        "FROM idx WHERE i % 4 = 0) " +
        "SELECT lang, COUNT(*) AS n_frames, CAST(SUM(length(frame)) AS BIGINT) AS total_bytes, " +
        "COUNT(DISTINCT md5(frame)) AS n_digests, MIN(md5(frame)) AS min_digest " +
        "FROM f GROUP BY lang ORDER BY lang"),
    "q72_smt_catalog" ->
      ("SELECT CAST(c_custkey AS INTEGER) AS id, c_name AS name, " +
        "c_acctbal AS bal, 'crm' AS src FROM customer " +
        "WHERE c_custkey <= 500 ORDER BY id"),
    "q73_smt_routing" ->
      ("SELECT 'orders-v2-' || strftime(o_orderdate, '%Y%m') AS topic, " +
        "CAST(COUNT(*) AS BIGINT) AS n, " +
        "MIN(strftime(o_orderdate, '%Y-%m-%d')) AS first_day, " +
        "MAX(strftime(o_orderdate, '%Y-%m-%d')) AS last_day " +
        "FROM orders GROUP BY topic ORDER BY topic"),
    "q74_corpus_ngrams" ->
      // same split/window construction as the q70 oracle (ws[i:i+1] is
      // DuckDB's inclusive 2-element slice — a bigram)
      ("WITH w AS (SELECT str_split(lower(trim(text)), ' ') AS ws FROM documents), " +
        "g AS (SELECT unnest([array_to_string(ws[i:i+1], ' ') FOR i IN range(1, len(ws))]) AS gram " +
        "FROM w WHERE len(ws) >= 2) " +
        "SELECT gram, CAST(COUNT(*) AS BIGINT) AS n FROM g " +
        "GROUP BY gram ORDER BY n DESC, gram LIMIT 50"),
    "q75_kmeans_refine" ->
      // replays both Lloyd rounds bit-for-bit: quantized vectors and
      // re-quantized means keep every distance integer-valued, so the
      // (d2, cid) assignment order is engine-independent
      kmeansRefineOracle(derivedStride = false),
    "q76_ivf_trained" ->
      // q75's two training rounds verbatim, then q46's search tail
      // against the refined centroids
      ivfTrainedOracle(derivedStride = false),
    "q77_corpus_freq" ->
      // same bigram construction as q74; per-doc stats then per-lang
      // rollup, thresholds as exact integer cross-multiplications
      ("WITH w AS (SELECT doc_id, lang, str_split(lower(trim(text)), ' ') AS ws FROM documents), " +
        "g AS (SELECT doc_id, lang, unnest([array_to_string(ws[i:i+1], ' ') FOR i IN range(1, len(ws))]) AS gram " +
        "FROM w WHERE len(ws) >= 2), " +
        "cf AS (SELECT gram, COUNT(*) AS c FROM g GROUP BY gram), " +
        "d AS (SELECT g.doc_id, g.lang, COUNT(*) AS n_grams, SUM(cf.c) AS freq_sum, MIN(cf.c) AS freq_min " +
        "FROM g JOIN cf USING (gram) GROUP BY g.doc_id, g.lang) " +
        "SELECT lang, COUNT(*) AS n, " +
        "CAST(SUM(CASE WHEN freq_sum > 30 * n_grams THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler, " +
        "CAST(SUM(CASE WHEN freq_min = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax, " +
        "CAST(SUM(freq_sum) AS BIGINT) AS sum_freq, " +
        "CAST(SUM(n_grams) AS BIGINT) AS sum_grams " +
        "FROM d GROUP BY lang ORDER BY lang"),
    "q78_ivf_knn_join" ->
      // q46's assignment CTEs, then q54's scoring tail restricted to
      // each probe's nprobe cells
      ivfKnnJoinOracle(derivedStride = false),
    "q79_bloom_semi_join" ->
      // the Bloom prune is invisible to semantics: plain IN-subquery
      ("SELECT l_returnflag AS rf, COUNT(*) AS n, " +
        "ROUND(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) " +
        "AS DOUBLE), 4) AS revenue " +
        "FROM lineitem WHERE l_orderkey IN " +
        "(SELECT o_orderkey FROM orders WHERE o_totalprice > 450000) " +
        "GROUP BY 1 ORDER BY 1"),
    "q80_seeded_shuffle" ->
      // the portable permutation key replays exactly in any engine
      ("SELECT doc_id, (((doc_id + 7) % 1000000007) * 2654435761) % 1000000007 " +
        "AS shuffle_key FROM documents ORDER BY shuffle_key, doc_id LIMIT 2000"),
    "q81_seq_packing" ->
      // naive global prefix sum in seeded-shuffle order; `start` is the
      // exclusive prefix, so seq_id/seq_off are pure integer arithmetic
      ("WITH sel AS (SELECT *, (((doc_id + 7) % 1000000007) * 2654435761) % 1000000007 AS s " +
        "FROM documents), " +
        "c AS (SELECT *, SUM(n_chars) OVER (ORDER BY s, doc_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_chars AS start FROM sel) " +
        "SELECT lang, COUNT(*) AS n, COUNT(DISTINCT start // 2048) AS n_seqs, " +
        "CAST(SUM(start % 2048) AS BIGINT) AS sum_off, " +
        "CAST(MAX(start // 2048) AS BIGINT) AS max_seq " +
        "FROM c GROUP BY lang ORDER BY lang"),
    "q82_epoch_mixture" ->
      // whole epochs + the selector-chosen fractional copy, replayed in
      // integer arithmetic; generate_series(0, -1) is empty = dropped
      ("WITH r AS (SELECT source, doc_id, " +
        "CASE source WHEN 'src0' THEN 2500 WHEN 'src1' THEN 700 " +
        "WHEN 'src2' THEN 1200 WHEN 'src3' THEN 1000 ELSE 0 END AS rate, " +
        "(doc_id * 2654435761) % 1000000007 AS s FROM documents), " +
        "n AS (SELECT *, rate // 1000 + " +
        "CASE WHEN s * 1000 < CAST(rate % 1000 AS BIGINT) * 1000000007 THEN 1 ELSE 0 END AS nc FROM r), " +
        "u AS (SELECT source, doc_id, " +
        "unnest(generate_series(0, CAST(nc AS BIGINT) - 1)) AS copy FROM n) " +
        "SELECT source, COUNT(*) AS n_rows, COUNT(DISTINCT doc_id) AS n_docs, " +
        "CAST(SUM(copy) AS BIGINT) AS sum_copy, CAST(MAX(copy) AS BIGINT) AS max_copy " +
        "FROM u GROUP BY source ORDER BY source"),
    "q83_chunk_dedup" ->
      // replay the first-occurrence policy on the block text itself;
      // string_agg skips the removed (NULL) blocks, keeping order
      ("WITH w AS (SELECT doc_id, lang, str_split(lower(trim(text)), ' ') AS ws FROM documents), " +
        "c AS (SELECT doc_id, lang, " +
        "unnest(range(0, CAST(ceil(len(ws) / 8.0) AS BIGINT))) AS idx, ws FROM w), " +
        "b AS (SELECT doc_id, lang, idx, " +
        "array_to_string(ws[CAST(idx * 8 + 1 AS BIGINT) : CAST(idx * 8 + 8 AS BIGINT)], ' ') AS chunk FROM c), " +
        "m AS (SELECT chunk, MIN(doc_id) AS keeper FROM b GROUP BY chunk), " +
        "v AS (SELECT b.doc_id, b.lang, b.idx, b.chunk, b.doc_id = m.keeper AS keep " +
        "FROM b JOIN m USING (chunk)), " +
        "d AS (SELECT doc_id, lang, " +
        "SUM(CASE WHEN keep THEN 0 ELSE 1 END) AS removed, " +
        "COALESCE(string_agg(CASE WHEN keep THEN chunk END, ' ' ORDER BY idx), '') AS clean " +
        "FROM v GROUP BY doc_id, lang) " +
        "SELECT lang, COUNT(*) AS n_docs, " +
        "CAST(SUM(CASE WHEN removed > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_touched, " +
        "CAST(SUM(removed) AS BIGINT) AS n_chunks_removed, " +
        "CAST(SUM(length(clean)) AS BIGINT) AS sum_clean_chars " +
        "FROM d GROUP BY lang ORDER BY lang"),
    "q84_quality_classifier" ->
      // the weight table is arithmetic on the bucket — no side channel
      ("WITH t AS (SELECT doc_id, lang, unnest(str_split(lower(trim(text)), ' ')) AS tok " +
        "FROM documents), " +
        "h AS (SELECT doc_id, lang, list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        "list_transform(range(1, length(tok) + 1), " +
        "i -> CAST(unicode(substr(tok, CAST(i AS INT), 1)) AS BIGINT))), " +
        "(a, b) -> (a * 31 + b) % 2147483647) AS th FROM t WHERE tok <> ''), " +
        "w AS (SELECT doc_id, lang, ((th % 64) * 2654435761) % 1000000007 % 2001 - 1000 AS wt FROM h), " +
        "d AS (SELECT doc_id, lang, COUNT(*) AS n_toks, SUM(wt) AS score FROM w GROUP BY 1, 2) " +
        "SELECT lang, COUNT(*) AS n_docs, " +
        "CAST(SUM(CASE WHEN score > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept, " +
        "CAST(SUM(score) AS BIGINT) AS sum_score, " +
        "CAST(SUM(n_toks) AS BIGINT) AS sum_toks " +
        "FROM d GROUP BY lang ORDER BY lang"),
    "q85_context_split" ->
      // starts at 0, 16, 32, … while inside the doc; last window short
      ("WITH w AS (SELECT doc_id, lang, " +
        "list_filter(str_split(lower(trim(text)), ' '), t -> t <> '') AS ws FROM documents), " +
        "p AS (SELECT doc_id, lang, ws, unnest(generate_series(0, " +
        "GREATEST(CAST(1 AS BIGINT), CAST(ceil((len(ws) - 32) / 16.0) AS BIGINT) + 1) - 1)) AS idx FROM w), " +
        "s AS (SELECT doc_id, lang, idx, " +
        "array_to_string(ws[CAST(idx * 16 + 1 AS BIGINT) : CAST(idx * 16 + 32 AS BIGINT)], ' ') AS piece, " +
        "LEAST(32, len(ws) - idx * 16) AS pw FROM p) " +
        "SELECT lang, COUNT(*) AS n_pieces, COUNT(DISTINCT doc_id) AS n_docs, " +
        "CAST(SUM(pw) AS BIGINT) AS sum_piece_words, " +
        "CAST(MAX(idx) AS BIGINT) AS max_piece_idx, " +
        "CAST(SUM(length(piece)) AS BIGINT) AS sum_piece_chars " +
        "FROM s WHERE pw > 0 GROUP BY lang ORDER BY lang"),
    "q86_scd2" ->
      // LEAD over (key, ts, tiebreak) replays the interval construction
      ("WITH v AS (SELECT event_type, ts AS valid_from, " +
        "LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to " +
        "FROM events) " +
        "SELECT event_type, COUNT(*) AS n_rows, " +
        "CAST(SUM(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_current, " +
        "CAST(SUM(COALESCE(epoch_ms(valid_to) - epoch_ms(valid_from), 0)) AS BIGINT) AS sum_dur_ms " +
        "FROM v GROUP BY event_type ORDER BY event_type"),
    "q87_incremental_dedup" ->
      // hash-key equality in the engine == normalized-text equality here
      ("WITH hist AS (SELECT DISTINCT LOWER(TRIM(text)) AS k FROM documents " +
        "WHERE doc_id % 31 = 0), " +
        "newb AS (SELECT doc_id, lang, LOWER(TRIM(text)) AS k FROM documents " +
        "WHERE doc_id % 31 <> 0), " +
        "canon AS (SELECT MIN(doc_id) AS doc_id FROM newb GROUP BY k), " +
        "surv AS (SELECT n.lang FROM newb n JOIN canon USING(doc_id) " +
        "WHERE NOT EXISTS (SELECT 1 FROM hist h WHERE h.k = n.k)) " +
        "SELECT lang, COUNT(*) AS n FROM surv GROUP BY lang ORDER BY lang"),
    "q88_profile" ->
      ("WITH m AS (" +
        "SELECT 'l_quantity' AS col_name, CAST(l_quantity AS DOUBLE) AS v FROM lineitem " +
        "UNION ALL SELECT 'l_extendedprice', CAST(l_extendedprice AS DOUBLE) FROM lineitem " +
        "UNION ALL SELECT 'l_discount', CAST(l_discount AS DOUBLE) FROM lineitem " +
        "UNION ALL SELECT 'l_tax', CAST(l_tax AS DOUBLE) FROM lineitem) " +
        "SELECT col_name, COUNT(*) AS n_rows, " +
        "CAST(SUM(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null, " +
        "COUNT(DISTINCT v) AS n_distinct, MIN(v) AS vmin, MAX(v) AS vmax, " +
        "ROUND(CAST(SUM(CAST(v AS DECIMAL(38,6))) AS DOUBLE), 4) AS vsum, " +
        "ROUND(CAST(SUM(CAST(v AS DECIMAL(38,6))) AS DOUBLE) / COUNT(v), 6) AS vmean " +
        "FROM m GROUP BY col_name ORDER BY col_name"),
    "q89_quantile_filter" ->
      // q84's arithmetic weight model feeds an exact per-lang median cut
      ("WITH t AS (SELECT doc_id, lang, unnest(str_split(lower(trim(text)), ' ')) AS tok " +
        "FROM documents), " +
        "h AS (SELECT doc_id, lang, list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        "list_transform(range(1, length(tok) + 1), " +
        "i -> CAST(unicode(substr(tok, CAST(i AS INT), 1)) AS BIGINT))), " +
        "(a, b) -> (a * 31 + b) % 2147483647) AS th FROM t WHERE tok <> ''), " +
        "w AS (SELECT doc_id, lang, ((th % 64) * 2654435761) % 1000000007 % 2001 - 1000 AS wt FROM h), " +
        "d AS (SELECT doc_id, lang, SUM(wt) AS score FROM w GROUP BY 1, 2), " +
        "thr AS (SELECT lang, quantile_cont(CAST(score AS DOUBLE), 0.5) AS thr FROM d GROUP BY lang) " +
        "SELECT d.lang, COUNT(*) AS n_kept, CAST(SUM(score) AS BIGINT) AS sum_kept_score " +
        "FROM d JOIN thr ON d.lang = thr.lang WHERE CAST(score AS DOUBLE) >= thr " +
        "GROUP BY d.lang ORDER BY d.lang"),
    "q90_pii_scan" ->
      // identical synthetic contact text, then the shared pattern classes
      ("WITH t AS (SELECT c_mktsegment, c_name || " +
        "CASE WHEN c_custkey % 3 <> 0 THEN ' call +1 (' || " +
        "lpad(CAST(c_custkey % 900 + 100 AS VARCHAR), 3, '0') || ') 555-' || " +
        "lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0') ELSE '' END || " +
        "CASE WHEN c_custkey % 5 = 0 THEN ' mail ' || " +
        "lower(regexp_replace(c_name, '[^A-Za-z0-9]', '', 'g')) || '@example.com' ELSE '' END || " +
        "CASE WHEN c_custkey % 7 = 0 THEN ' from 10.0.' || " +
        "CAST(c_custkey % 256 AS VARCHAR) || '.1' ELSE '' END AS txt FROM customer), " +
        "m AS (SELECT c_mktsegment, " +
        "len(regexp_extract_all(txt, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS n_email, " +
        "len(regexp_extract_all(txt, '(\\d{1,3}\\.){3}\\d{1,3}')) AS n_ipv4, " +
        "len(regexp_extract_all(txt, '\\+?\\d[\\d\\s().-]{7,}\\d')) AS n_phone FROM t) " +
        "SELECT c_mktsegment, COUNT(*) AS n_docs, " +
        "CAST(SUM(n_email) AS BIGINT) AS n_email, " +
        "CAST(SUM(n_ipv4) AS BIGINT) AS n_ipv4, " +
        "CAST(SUM(n_phone) AS BIGINT) AS n_phone, " +
        "CAST(SUM(CASE WHEN n_email + n_ipv4 + n_phone > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged " +
        "FROM m GROUP BY c_mktsegment ORDER BY c_mktsegment"),
    "q91_histogram" ->
      // identical IEEE bucket arithmetic: ((v-min)/span)*16, top clamped
      ("WITH v AS (SELECT CAST(l_extendedprice * (1.0 + l_tax) AS DOUBLE) AS g FROM lineitem), " +
        "s AS (SELECT MIN(g) AS m, MAX(g) AS x, MAX(g) - MIN(g) AS sp FROM v), " +
        "b AS (SELECT CASE WHEN sp = 0 THEN 0 ELSE " +
        "LEAST(CAST(floor((g - m) / sp * 16) AS BIGINT), 15) END AS bucket, m, sp " +
        "FROM v, s) " +
        "SELECT bucket, ROUND(m + bucket * sp / 16, 4) AS lo, " +
        "ROUND(m + (bucket + 1) * sp / 16, 4) AS hi, COUNT(*) AS cnt " +
        "FROM b GROUP BY bucket, m, sp ORDER BY bucket"),
    "q92_fuzzy_decontamination" ->
      // brute-force cross-split pairs, same formulation as the q30
      // oracle with the split predicate replacing the id ordering
      ("WITH toks AS (SELECT doc_id, str_split(lower(trim(text)), ' ') AS w FROM documents), " +
        "sh AS (SELECT doc_id, list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] " +
        "for i in range(1, len(w) - 1)]) AS ts FROM toks WHERE len(w) >= 3), " +
        "j AS (SELECT a.doc_id AS eval_id, b.doc_id AS train_id, " +
        "CAST(len(list_intersect(a.ts, b.ts)) AS DOUBLE) / " +
        "(len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts))) AS jac " +
        "FROM sh a JOIN sh b ON a.doc_id % 7 = 0 AND b.doc_id % 7 <> 0 " +
        "AND least(len(a.ts), len(b.ts)) >= 0.8 * greatest(len(a.ts), len(b.ts)) - 1e-9 " +
        "WHERE len(a.ts) > 0 AND len(b.ts) > 0) " +
        "SELECT eval_id, train_id, ROUND(jac, 4) AS jaccard FROM j " +
        "WHERE jac >= 0.8 ORDER BY eval_id, train_id"),
    "q93_semantic_decontamination" -> crossEmbOracle,
    "q94_cluster_split" ->
      // q55's transitive closure, then the portable selector draw on
      // the cluster representative (singletons draw on their own id)
      ("WITH RECURSIVE toks AS (SELECT doc_id, str_split(lower(trim(text)), ' ') AS w FROM documents), " +
        "sh AS (SELECT doc_id, list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] " +
        "for i in range(1, len(w) - 1)]) AS ts FROM toks WHERE len(w) >= 3), " +
        "j AS (SELECT a.doc_id AS d1, b.doc_id AS d2, " +
        "CAST(len(list_intersect(a.ts, b.ts)) AS DOUBLE) / " +
        "(len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts))) AS jac " +
        "FROM sh a JOIN sh b ON a.doc_id < b.doc_id " +
        "AND least(len(a.ts), len(b.ts)) >= 0.8 * greatest(len(a.ts), len(b.ts)) - 1e-9 " +
        "WHERE len(a.ts) > 0 AND len(b.ts) > 0), " +
        "p AS (SELECT d1, d2 FROM j WHERE jac >= 0.8), " +
        "nodes AS (SELECT d1 AS id FROM p UNION SELECT d2 FROM p), " +
        "edges AS (SELECT d1 AS src, d2 AS dst FROM p UNION SELECT d2, d1 FROM p), " +
        "reach(id, lbl) AS (SELECT id, id FROM nodes " +
        "UNION SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.id), " +
        "cl AS (SELECT id AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY id), " +
        "a AS (SELECT d.lang, CASE WHEN " +
        "(COALESCE(c.cluster_id, d.doc_id) * 2654435761) % 1000000007 * 1000 " +
        "< 900 * CAST(1000000007 AS BIGINT) THEN 'train' ELSE 'holdout' END AS split " +
        "FROM documents d LEFT JOIN cl c USING (doc_id)) " +
        "SELECT lang, split, COUNT(*) AS n_docs FROM a " +
        "GROUP BY lang, split ORDER BY lang, split"),
    "q95_corpus_prep" ->
      // q60's survivors + pair graph, q92's cross-split leak filter,
      // q55's closure, q94's draw — composed in one statement
      ("WITH RECURSIVE surv AS (SELECT MIN(doc_id) AS doc_id FROM documents " +
        "GROUP BY lower(trim(text))), " +
        "docs2 AS (SELECT d.* FROM documents d JOIN surv USING (doc_id)), " +
        "toks AS (SELECT doc_id, str_split(lower(trim(text)), ' ') AS w FROM docs2), " +
        "sh AS (SELECT doc_id, list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] " +
        "for i in range(1, len(w) - 1)]) AS ts FROM toks WHERE len(w) >= 3), " +
        "j AS (SELECT a.doc_id AS d1, b.doc_id AS d2, " +
        "CAST(len(list_intersect(a.ts, b.ts)) AS DOUBLE) / " +
        "(len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts))) AS jac " +
        "FROM sh a JOIN sh b ON a.doc_id < b.doc_id " +
        "AND least(len(a.ts), len(b.ts)) >= 0.8 * greatest(len(a.ts), len(b.ts)) - 1e-9 " +
        "WHERE len(a.ts) > 0 AND len(b.ts) > 0), " +
        "p AS (SELECT d1, d2 FROM j WHERE jac >= 0.8), " +
        "leaked AS (SELECT d2 AS doc_id FROM p WHERE d1 % 7 = 0 AND d2 % 7 <> 0 " +
        "UNION SELECT d1 FROM p WHERE d2 % 7 = 0 AND d1 % 7 <> 0), " +
        "nodes AS (SELECT d1 AS id FROM p UNION SELECT d2 FROM p), " +
        "edges AS (SELECT d1 AS src, d2 AS dst FROM p UNION SELECT d2, d1 FROM p), " +
        "reach(id, lbl) AS (SELECT id, id FROM nodes " +
        "UNION SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.id), " +
        "cc AS (SELECT id, MIN(lbl) AS cluster_id FROM reach GROUP BY id), " +
        "clean AS (SELECT d.doc_id, d.lang, d.n_chars FROM docs2 d " +
        "WHERE d.doc_id % 7 <> 0 AND d.doc_id NOT IN (SELECT doc_id FROM leaked)), " +
        "a AS (SELECT c.lang, c.n_chars, CASE WHEN " +
        "(COALESCE(cc.cluster_id, c.doc_id) * 2654435761) % 1000000007 * 1000 " +
        "< 900 * CAST(1000000007 AS BIGINT) THEN 'train' ELSE 'holdout' END AS split " +
        "FROM clean c LEFT JOIN cc ON c.doc_id = cc.id) " +
        "SELECT lang, split, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars " +
        "FROM a GROUP BY lang, split ORDER BY lang, split"),
    "q96_corpus_catalog" ->
      // distinct on VALUES where the engine uses 128-bit hashes — equal
      // under the documented collision contract
      ("WITH m AS (SELECT 'lang' AS col_name, lang AS v FROM documents " +
        "UNION ALL SELECT 'source', source FROM documents " +
        "UNION ALL SELECT 'text', text FROM documents) " +
        "SELECT col_name, COUNT(*) AS n_rows, " +
        "CAST(SUM(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null, " +
        "COUNT(DISTINCT v) AS n_distinct, " +
        "CAST(MIN(length(v)) AS BIGINT) AS min_len, " +
        "CAST(MAX(length(v)) AS BIGINT) AS max_len, " +
        "CAST(SUM(length(v)) AS BIGINT) AS sum_len " +
        "FROM m GROUP BY col_name ORDER BY col_name"),
    "q97_vocab_coverage" ->
      ("WITH tok AS (SELECT lang, unnest(list_filter(str_split(lower(trim(text)), ' '), " +
        "t -> t <> '')) AS token FROM documents), " +
        "vocab AS (SELECT token FROM (SELECT token, COUNT(*) AS n FROM tok " +
        "GROUP BY token ORDER BY n DESC, token LIMIT 1000)), " +
        "a AS (SELECT lang, CASE WHEN token IN (SELECT token FROM vocab) " +
        "THEN 0 ELSE 1 END AS oov FROM tok) " +
        "SELECT lang, COUNT(*) AS n_tokens, CAST(SUM(oov) AS BIGINT) AS n_oov, " +
        "ROUND(CAST(SUM(oov) AS BIGINT) * 1000.0 / COUNT(*), 6) AS oov_permille " +
        "FROM a GROUP BY lang ORDER BY lang"),
    "q98_dup_provenance" ->
      // q30's brute-force pair graph joined to sources, direction
      // normalized lexicographically
      ("WITH toks AS (SELECT doc_id, str_split(lower(trim(text)), ' ') AS w FROM documents), " +
        "sh AS (SELECT doc_id, list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] " +
        "for i in range(1, len(w) - 1)]) AS ts FROM toks WHERE len(w) >= 3), " +
        "j AS (SELECT a.doc_id AS d1, b.doc_id AS d2, " +
        "CAST(len(list_intersect(a.ts, b.ts)) AS DOUBLE) / " +
        "(len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts))) AS jac " +
        "FROM sh a JOIN sh b ON a.doc_id < b.doc_id " +
        "AND least(len(a.ts), len(b.ts)) >= 0.8 * greatest(len(a.ts), len(b.ts)) - 1e-9 " +
        "WHERE len(a.ts) > 0 AND len(b.ts) > 0), " +
        "p AS (SELECT d1, d2 FROM j WHERE jac >= 0.8) " +
        "SELECT least(da.source, db.source) AS src_a, " +
        "greatest(da.source, db.source) AS src_b, COUNT(*) AS n_pairs " +
        "FROM p JOIN documents da ON p.d1 = da.doc_id " +
        "JOIN documents db ON p.d2 = db.doc_id " +
        "GROUP BY src_a, src_b ORDER BY src_a, src_b"),
    "q99_lm_perplexity" ->
      // add-one bigram LM replayed exactly: per-bigram term
      // ln((c1+V)/(c2+1)) rounded to 6 dp then summed in DECIMAL (exact,
      // associative); the flag compare runs in decimal, never floats
      ("WITH w AS (SELECT doc_id, lang, list_filter(str_split(lower(trim(text)), ' '), " +
        "t -> t <> '') AS ws FROM documents), " +
        "b AS (SELECT doc_id, lang, unnest(list_transform(range(1, len(ws)), " +
        "i -> ws[i] || ' ' || ws[i + 1])) AS bg FROM w), " +
        "c2 AS (SELECT bg, COUNT(*) AS c2 FROM b GROUP BY bg), " +
        "c1 AS (SELECT str_split(bg, ' ')[1] AS w1, CAST(SUM(c2) AS BIGINT) AS c1 " +
        "FROM c2 GROUP BY 1), " +
        "v AS (SELECT COUNT(DISTINCT t) AS v FROM (SELECT unnest(ws) AS t FROM w)), " +
        "t AS (SELECT b.doc_id, b.lang, CAST(ROUND(ln((c1.c1 + v.v) / (c2.c2 + 1.0)), 6) " +
        "AS DECIMAL(20,6)) AS term FROM b JOIN c2 USING (bg) " +
        "JOIN c1 ON str_split(b.bg, ' ')[1] = c1.w1 CROSS JOIN v), " +
        "d AS (SELECT doc_id, lang, COUNT(*) AS n, SUM(term) AS nll FROM t GROUP BY 1, 2) " +
        "SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n) AS BIGINT) AS n_bigrams, " +
        "ROUND(CAST(SUM(nll) AS DOUBLE) / CAST(SUM(n) AS BIGINT), 4) AS cross_entropy, " +
        "CAST(SUM(CASE WHEN nll > 3.45 * n THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged " +
        "FROM d GROUP BY lang ORDER BY lang"),
    "q100_dsir_weights" ->
      // the q84 portable poly-31 token hash feeds 64-bucket target/raw
      // histograms; per-token term ln(p_t/p_r) has only 64 distinct
      // values, each rounded to 6 dp before the exact decimal sum
      ("WITH t AS (SELECT doc_id, lang, unnest(list_filter(str_split(lower(trim(text)), ' '), " +
        "x -> x <> '')) AS tok FROM documents), " +
        "h AS (SELECT doc_id, lang, list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        "list_transform(range(1, length(tok) + 1), " +
        "i -> CAST(unicode(substr(tok, CAST(i AS INT), 1)) AS BIGINT))), " +
        "(a, b) -> (a * 31 + b) % 2147483647) % 64 AS b FROM t), " +
        "hist AS (SELECT b, CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS ct, " +
        "COUNT(*) AS cr FROM h GROUP BY b), " +
        "tot AS (SELECT CAST(SUM(ct) AS BIGINT) AS nt, CAST(SUM(cr) AS BIGINT) AS nr FROM hist), " +
        "lam AS (SELECT b, CAST(ROUND(ln(((ct + 1.0) * (nr + 64)) / ((cr + 1.0) * (nt + 64))), 6) " +
        "AS DECIMAL(20,6)) AS lw FROM hist CROSS JOIN tot), " +
        "d AS (SELECT doc_id, lang, COUNT(*) AS n_toks, SUM(lw) AS logw " +
        "FROM h JOIN lam USING (b) GROUP BY 1, 2) " +
        "SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_toks) AS BIGINT) AS n_toks, " +
        "ROUND(CAST(SUM(logw) AS DOUBLE) / COUNT(*), 4) AS avg_logw, " +
        "CAST(SUM(CASE WHEN logw > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_targetlike " +
        "FROM d GROUP BY lang ORDER BY lang"),
    "q101_source_divergence" ->
      // KL(p_source || p_corpus) over unigrams; no smoothing needed —
      // every source token occurs in the corpus marginal by construction
      ("WITH t AS (SELECT source, unnest(list_filter(str_split(lower(trim(text)), ' '), " +
        "x -> x <> '')) AS tok FROM documents), " +
        "ns AS (SELECT source, tok, COUNT(*) AS ns FROM t GROUP BY 1, 2), " +
        "nc AS (SELECT tok, COUNT(*) AS nc FROM t GROUP BY 1), " +
        "nt AS (SELECT source, CAST(SUM(ns) AS BIGINT) AS nss FROM ns GROUP BY 1), " +
        "ct AS (SELECT CAST(SUM(nc) AS BIGINT) AS ncc FROM nc), " +
        "tm AS (SELECT ns.source, ns.ns, CAST(ROUND((CAST(ns.ns AS DOUBLE) / nss) * " +
        "ln(CAST(ns.ns * ncc AS DOUBLE) / CAST(nc.nc * nss AS DOUBLE)), 6) " +
        "AS DECIMAL(20,6)) AS term " +
        "FROM ns JOIN nc USING (tok) JOIN nt USING (source) CROSS JOIN ct) " +
        "SELECT source, CAST(SUM(ns) AS BIGINT) AS n_toks, COUNT(*) AS n_vocab, " +
        "ROUND(CAST(SUM(term) AS DOUBLE), 4) AS kl " +
        "FROM tm GROUP BY source ORDER BY source"),
    "q102_ccnet_buckets" ->
      // q99's LM replayed to integer micro-nat scores; per-lang tercile
      // cuts via quantile_cont over exact integers; the double literals
      // are the exact printed values of Scala's 1.0/3 and 2.0/3
      ("WITH w AS (SELECT doc_id, lang, list_filter(str_split(lower(trim(text)), ' '), " +
        "t -> t <> '') AS ws FROM documents), " +
        "b AS (SELECT doc_id, lang, unnest(list_transform(range(1, len(ws)), " +
        "i -> ws[i] || ' ' || ws[i + 1])) AS bg FROM w), " +
        "c2 AS (SELECT bg, COUNT(*) AS c2 FROM b GROUP BY bg), " +
        "c1 AS (SELECT str_split(bg, ' ')[1] AS w1, CAST(SUM(c2) AS BIGINT) AS c1 " +
        "FROM c2 GROUP BY 1), " +
        "v AS (SELECT COUNT(DISTINCT t) AS v FROM (SELECT unnest(ws) AS t FROM w)), " +
        "t AS (SELECT b.doc_id, b.lang, CAST(ROUND(ln((c1.c1 + v.v) / (c2.c2 + 1.0)), 6) " +
        "AS DECIMAL(20,6)) AS term FROM b JOIN c2 USING (bg) " +
        "JOIN c1 ON str_split(b.bg, ' ')[1] = c1.w1 CROSS JOIN v), " +
        "d AS (SELECT doc_id, lang, COUNT(*) AS n, SUM(term) AS nll FROM t GROUP BY 1, 2), " +
        "s AS (SELECT doc_id, lang, n, CAST(nll * 1000000 AS BIGINT) // n AS ceu FROM d), " +
        "thr AS (SELECT lang, quantile_cont(CAST(ceu AS DOUBLE), 0.3333333333333333) AS c33, " +
        "quantile_cont(CAST(ceu AS DOUBLE), 0.6666666666666666) AS c67 FROM s GROUP BY lang), " +
        "k AS (SELECT s.lang, CASE WHEN ceu <= c33 THEN 'head' " +
        "WHEN ceu <= c67 THEN 'middle' ELSE 'tail' END AS bucket, n, doc_id " +
        "FROM s JOIN thr ON s.lang = thr.lang) " +
        "SELECT lang, bucket, COUNT(*) AS n_docs, CAST(SUM(n) AS BIGINT) AS n_bigrams, " +
        "CAST(SUM(CASE WHEN (doc_id * 2654435761) % 1000000007 < 500000003 " +
        "THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled " +
        "FROM k GROUP BY lang, bucket ORDER BY lang, bucket"),
    "q103_profile_similarity" ->
      // dense 24-dim hour-of-day profile via a user x hour grid (map
      // extraction differs across DuckDB versions; the LEFT JOIN grid
      // is version-stable), then q27's exact-cosine shape
      ("WITH cell AS (SELECT user_id, CAST(EXTRACT(hour FROM ts) AS INT) AS h, " +
        "CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS v " +
        "FROM events GROUP BY 1, 2), " +
        "grid AS (SELECT u.user_id, CAST(r.range AS INT) AS h " +
        "FROM (SELECT DISTINCT user_id FROM cell) u CROSS JOIN range(0, 24) r), " +
        "dense AS (SELECT g.user_id, g.h, COALESCE(c.v, 0.0) AS v FROM grid g " +
        "LEFT JOIN cell c ON g.user_id = c.user_id AND g.h = c.h), " +
        "prof AS (SELECT user_id, list(v ORDER BY h) AS vec FROM dense GROUP BY user_id), " +
        "nz AS (SELECT * FROM prof WHERE list_dot_product(vec, vec) > 0), " +
        "tgt AS (SELECT MIN(vec) AS t_v FROM nz WHERE user_id = 1), " +
        "scored AS (SELECT user_id, list_dot_product(vec, (SELECT t_v FROM tgt)) / " +
        "(sqrt(list_dot_product(vec, vec)) * " +
        "sqrt(list_dot_product((SELECT t_v FROM tgt), (SELECT t_v FROM tgt)))) AS raw " +
        "FROM nz WHERE user_id <> 1) " +
        "SELECT user_id, ROUND(raw, 4) AS score FROM scored " +
        "ORDER BY score DESC, user_id LIMIT 10"),
    "q105_bpe_train" -> bpeOracleSql(6),
    "q106_bpe_tokenize" -> bpeApplyOracleSql(6),
    "q107_bpe_batch_train" -> bpeBatchOracleSql(16, 24),
    "q108_bmp_decode" ->
      // replay the DECODED-pixel stats from the raw text: gray pixel i
      // = codepoint of char i (space-padded to w*h), luma(gray) = gray,
      // bin = luma // 16 — matches only if the BMP header/row/padding
      // round-trip is bit-exact
      ("WITH dm AS (SELECT doc_id, lang, text, " +
        "8 + doc_id % 9 AS w, 5 + doc_id % 7 AS h FROM documents), " +
        "c AS (SELECT doc_id, lang, w, h, w*h AS np, " +
        "unnest(str_split(substr(text, 1, CAST(w*h AS INT)), '')) AS ch FROM dm), " +
        "per AS (SELECT doc_id, lang, w, h, np, " +
        "CAST(SUM(ord(ch)) AS BIGINT) AS s, COUNT(*) AS m, " +
        "SUM(CASE WHEN ord(ch) // 16 = 2 THEN 1 ELSE 0 END) AS h2, " +
        "SUM(CASE WHEN ord(ch) // 16 = 6 THEN 1 ELSE 0 END) AS h6, " +
        "SUM(CASE WHEN ord(ch) // 16 = 7 THEN 1 ELSE 0 END) AS h7 " +
        "FROM c GROUP BY doc_id, lang, w, h, np) " +
        "SELECT lang, COUNT(*) AS n, CAST(SUM(w) AS BIGINT) AS sum_w, " +
        "CAST(SUM(h) AS BIGINT) AS sum_h, " +
        "CAST(SUM(np) AS BIGINT) AS total_pixels, " +
        "CAST(SUM((s + 32*(np - m)) * 1000000 // np) AS BIGINT) AS sum_mean_micro, " +
        "CAST(SUM(h2 + (np - m)) AS BIGINT) AS h2, " +
        "CAST(SUM(h6) AS BIGINT) AS h6, CAST(SUM(h7) AS BIGINT) AS h7 " +
        "FROM per GROUP BY lang ORDER BY lang"),
    "q109_bmp_resize" ->
      // replay decode -> nearest-neighbor resize -> re-encode -> decode
      // from the raw text: gray(x,y) = codepoint of padded text at
      // y*w+x; resized pixel p samples src (p%ow * w // ow,
      // p//ow * h // oh) — integer floor, same arithmetic as
      // Bmp.resizeNearest
      ("WITH dm AS (SELECT doc_id, lang, 8 + doc_id % 9 AS w, 5 + doc_id % 7 AS h, " +
        "rpad(substr(text, 1, CAST((8 + doc_id % 9)*(5 + doc_id % 7) AS INT)), " +
        "CAST((8 + doc_id % 9)*(5 + doc_id % 7) AS INT), ' ') AS px FROM documents), " +
        "rd AS (SELECT doc_id, lang, w, h, px, " +
        "CASE WHEN greatest(w, h) <= 6 THEN w ELSE greatest(1, w*6 // greatest(w, h)) END AS ow, " +
        "CASE WHEN greatest(w, h) <= 6 THEN h ELSE greatest(1, h*6 // greatest(w, h)) END AS oh " +
        "FROM dm), " +
        "c AS (SELECT doc_id, lang, w, h, ow, oh, px, " +
        "unnest(range(ow*oh)) AS p FROM rd), " +
        "c2 AS (SELECT doc_id, lang, ow, oh, " +
        "ord(substr(px, CAST((p // ow * h // oh) * w + (p % ow * w // ow) + 1 AS INT), 1)) AS g " +
        "FROM c), " +
        "per AS (SELECT doc_id, lang, ow, oh, ow*oh AS np, " +
        "CAST(SUM(g) AS BIGINT) AS s, " +
        "SUM(CASE WHEN g // 16 = 2 THEN 1 ELSE 0 END) AS h2, " +
        "SUM(CASE WHEN g // 16 = 6 THEN 1 ELSE 0 END) AS h6, " +
        "SUM(CASE WHEN g // 16 = 7 THEN 1 ELSE 0 END) AS h7 " +
        "FROM c2 GROUP BY doc_id, lang, ow, oh) " +
        "SELECT lang, COUNT(*) AS n, CAST(SUM(ow) AS BIGINT) AS sum_w, " +
        "CAST(SUM(oh) AS BIGINT) AS sum_h, " +
        "CAST(SUM(np) AS BIGINT) AS total_pixels, " +
        "CAST(SUM(s * 1000000 // np) AS BIGINT) AS sum_mean_micro, " +
        "CAST(SUM(h2) AS BIGINT) AS h2, " +
        "CAST(SUM(h6) AS BIGINT) AS h6, CAST(SUM(h7) AS BIGINT) AS h7 " +
        "FROM per GROUP BY lang ORDER BY lang"),
    "q110_wav_decode" ->
      // replay the DECODED-sample stats from the raw text: sample i =
      // codepoint(char i of the 120-char space-padded text) * 257 -
      // 32768; amplitude bin = (s + 32768) * 16 / 65536 = ord*257//4096
      ("WITH dm AS (SELECT doc_id, lang, " +
        "8000 + (doc_id % 5) * 1000 AS rate, " +
        "rpad(substr(text, 1, 120), 120, ' ') AS px FROM documents), " +
        "c AS (SELECT doc_id, lang, rate, unnest(str_split(px, '')) AS ch FROM dm), " +
        "per AS (SELECT doc_id, lang, rate, COUNT(*) AS ns, " +
        "CAST(SUM(ord(ch) * 257 - 32768) AS BIGINT) AS s, " +
        "CAST(SUM(ABS(ord(ch) * 257 - 32768)) AS BIGINT) AS sa, " +
        "SUM(CASE WHEN ord(ch) * 257 // 4096 = 2 THEN 1 ELSE 0 END) AS h2, " +
        "SUM(CASE WHEN ord(ch) * 257 // 4096 = 6 THEN 1 ELSE 0 END) AS h6, " +
        "SUM(CASE WHEN ord(ch) * 257 // 4096 = 7 THEN 1 ELSE 0 END) AS h7 " +
        "FROM c GROUP BY doc_id, lang, rate) " +
        "SELECT lang, COUNT(*) AS n, CAST(SUM(rate) AS BIGINT) AS sum_rate, " +
        "CAST(SUM(ns) AS BIGINT) AS total_samples, " +
        "CAST(SUM(s) AS BIGINT) AS sum_sample_total, " +
        "CAST(SUM(sa) AS BIGINT) AS sum_abs_total, " +
        "CAST(SUM(h2) AS BIGINT) AS h2, " +
        "CAST(SUM(h6) AS BIGINT) AS h6, CAST(SUM(h7) AS BIGINT) AS h7 " +
        "FROM per GROUP BY lang ORDER BY lang"),
    "q111_substring_dedup" ->
      // replay first-occurrence (doc_id, start) policy on the span
      // text itself; a removed occurrence covers its 8 positions, the
      // doc keeps words at uncovered positions
      ("WITH w AS (SELECT doc_id, lang, str_split(lower(trim(text)), ' ') AS ws FROM documents), " +
        "sp AS (SELECT doc_id, ws, unnest(range(0, len(ws) - 7)) AS st FROM w WHERE len(ws) >= 8), " +
        "s AS (SELECT doc_id, st, " +
        "array_to_string(ws[CAST(st + 1 AS BIGINT) : CAST(st + 8 AS BIGINT)], ' ') AS span FROM sp), " +
        "v AS (SELECT doc_id, st, " +
        "row_number() OVER (PARTITION BY span ORDER BY doc_id, st) AS rn FROM s), " +
        "rp AS (SELECT DISTINCT doc_id, pos FROM " +
        "(SELECT doc_id, unnest(range(st, st + 8)) AS pos FROM v WHERE rn > 1)), " +
        "rl AS (SELECT doc_id, list(pos) AS rem FROM rp GROUP BY doc_id), " +
        "d AS (SELECT w.doc_id, w.lang, COALESCE(len(rem), 0) AS removed, " +
        "array_to_string(list_transform(" +
        "list_filter(range(0, len(ws)), p -> NOT list_contains(COALESCE(rem, []), p)), " +
        "p -> ws[CAST(p + 1 AS BIGINT)]), ' ') AS clean " +
        "FROM w LEFT JOIN rl USING (doc_id)) " +
        "SELECT lang, COUNT(*) AS n_docs, " +
        "CAST(SUM(CASE WHEN removed > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_touched, " +
        "CAST(SUM(removed) AS BIGINT) AS n_words_removed, " +
        "CAST(SUM(length(clean)) AS BIGINT) AS sum_clean_chars " +
        "FROM d GROUP BY lang ORDER BY lang"),
    "q112_roc_auc" ->
      // q84's arithmetic weight table feeding the rank-sum AUC: u2 =
      // 2U is integer-exact (each tie contributes a whole number)
      ("WITH t AS (SELECT doc_id, lang, unnest(str_split(lower(trim(text)), ' ')) AS tok " +
        "FROM documents), " +
        "h AS (SELECT doc_id, lang, list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        "list_transform(range(1, length(tok) + 1), " +
        "i -> CAST(unicode(substr(tok, CAST(i AS INT), 1)) AS BIGINT))), " +
        "(a, b) -> (a * 31 + b) % 2147483647) AS th FROM t WHERE tok <> ''), " +
        "w AS (SELECT doc_id, lang, ((th % 64) * 2654435761) % 1000000007 % 2001 - 1000 AS wt FROM h), " +
        "d AS (SELECT doc_id, lang, COUNT(*) AS n_toks, SUM(wt) AS score FROM w GROUP BY 1, 2), " +
        "g AS (SELECT lang, score AS s, " +
        "SUM(CASE WHEN n_toks >= 50 THEN 1 ELSE 0 END) AS np, " +
        "SUM(CASE WHEN n_toks >= 50 THEN 0 ELSE 1 END) AS nn FROM d GROUP BY 1, 2), " +
        "c AS (SELECT lang, np, nn, COALESCE(SUM(nn) OVER (PARTITION BY lang ORDER BY s " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below FROM g), " +
        "a AS (SELECT lang, CAST(SUM(np) AS BIGINT) AS n_pos, " +
        "CAST(SUM(nn) AS BIGINT) AS n_neg, " +
        "CAST(SUM(np * (2 * below + nn)) AS BIGINT) AS u2 FROM c GROUP BY lang) " +
        "SELECT lang, n_pos, n_neg, u2, " +
        "CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL " +
        "ELSE round(CAST(u2 AS DOUBLE) / (2.0 * n_pos * n_neg), 6) END AS auc " +
        "FROM a ORDER BY lang"),
    "q113_ngram_novelty" ->
      // hash-key first occurrence in the engine == gram-text first
      // occurrence here; novelty is integer ppm
      ("WITH w AS (SELECT doc_id, lang, str_split(lower(trim(text)), ' ') AS ws FROM documents), " +
        "sp AS (SELECT doc_id, lang, ws, unnest(range(0, len(ws) - 2)) AS st FROM w WHERE len(ws) >= 3), " +
        "gr AS (SELECT DISTINCT doc_id, lang, " +
        "array_to_string(ws[CAST(st + 1 AS BIGINT) : CAST(st + 3 AS BIGINT)], ' ') AS gram FROM sp), " +
        "f AS (SELECT gram, MIN(doc_id) AS first_id FROM gr GROUP BY gram), " +
        "d AS (SELECT gr.doc_id, gr.lang, COUNT(*) AS n_grams, " +
        "SUM(CASE WHEN f.first_id < gr.doc_id THEN 1 ELSE 0 END) AS n_rep " +
        "FROM gr JOIN f USING (gram) GROUP BY 1, 2) " +
        "SELECT lang, COUNT(*) AS n_docs, " +
        "CAST(SUM(n_grams) AS BIGINT) AS sum_grams, " +
        "CAST(SUM(n_rep) AS BIGINT) AS sum_repeated, " +
        "CAST(SUM((n_grams - n_rep) * 1000000 // n_grams) AS BIGINT) AS sum_novelty_micro, " +
        "CAST(SUM(CASE WHEN (n_grams - n_rep) * 1000000 // n_grams < 500000 THEN 1 ELSE 0 END) AS BIGINT) AS n_stale " +
        "FROM d GROUP BY lang ORDER BY lang"),
    "q114_calibration" ->
      // q84's score arithmetic; bin by FLOOR division (DuckDB //
      // truncates toward zero, Spark's floor() floors — replay floor)
      ("WITH t AS (SELECT doc_id, lang, unnest(str_split(lower(trim(text)), ' ')) AS tok " +
        "FROM documents), " +
        "h AS (SELECT doc_id, lang, list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        "list_transform(range(1, length(tok) + 1), " +
        "i -> CAST(unicode(substr(tok, CAST(i AS INT), 1)) AS BIGINT))), " +
        "(a, b) -> (a * 31 + b) % 2147483647) AS th FROM t WHERE tok <> ''), " +
        "w AS (SELECT doc_id, lang, ((th % 64) * 2654435761) % 1000000007 % 2001 - 1000 AS wt FROM h), " +
        "d AS (SELECT doc_id, lang, COUNT(*) AS n_toks, SUM(wt) AS score FROM w GROUP BY 1, 2), " +
        "b AS (SELECT lang, CAST(floor(score / 2000.0) AS BIGINT) AS bin, " +
        "COUNT(*) AS n, SUM(CASE WHEN n_toks >= 50 THEN 1 ELSE 0 END) AS n_pos " +
        "FROM d GROUP BY 1, 2) " +
        "SELECT lang, bin, CAST(n AS BIGINT) AS n, CAST(n_pos AS BIGINT) AS n_pos, " +
        "CAST(n_pos * 1000000 // n AS BIGINT) AS pos_rate_micro " +
        "FROM b ORDER BY lang, bin"),
    "q115_html_extract" ->
      // replay build + strip with the same RE2-safe chain; only the
      // stages that can fire on this construction are replayed (the
      // other entity decodes cannot match [a-z ] input)
      ("WITH e AS (SELECT lang, source, text, " +
        "regexp_replace(regexp_replace(text, 'a', '&#97;', 'g'), " +
        "' the ', ' <b>the</b> ', 'g') AS enc FROM documents), " +
        "h AS (SELECT lang, source, text, " +
        "'<html><head><script type=\"text/javascript\">var t = 1 < 2;" +
        "</script><style>p { color: red; }</style></head><body><h1>' || source || " +
        "'</h1><p>' || enc || '</p><!-- crawler footer --></body></html>' AS html FROM e), " +
        "s AS (SELECT lang, source, text, html, trim(regexp_replace(" +
        "regexp_replace(regexp_replace(regexp_replace(regexp_replace(html, " +
        "'<script[^>]*>.*?</script>|<style[^>]*>.*?</style>', ' ', 'g'), " +
        "'<!--.*?-->', ' ', 'g'), " +
        "'<[^>]*>', ' ', 'g'), " +
        "'&#97;', 'a', 'g'), " +
        "' +', ' ', 'g')) AS stripped FROM h) " +
        "SELECT lang, COUNT(*) AS n_docs, " +
        "CAST(SUM(length(html)) AS BIGINT) AS sum_html_chars, " +
        "CAST(SUM(length(stripped)) AS BIGINT) AS sum_text_chars, " +
        "CAST(SUM(CASE WHEN stripped = source || ' ' || text THEN 1 ELSE 0 END) AS BIGINT) AS n_roundtrip " +
        "FROM s GROUP BY lang ORDER BY lang"),
    "q116_url_normalize" ->
      ("WITH u AS (SELECT 'HTTPS://CDN.' || upper(source) || " +
        "CASE WHEN doc_id % 2 = 0 THEN '.COM' ELSE '.Org' END || " +
        "CASE WHEN doc_id % 3 = 0 THEN ':443' ELSE '' END || " +
        "'/Docs/' || doc_id || '?utm_source=feed&b=2&id=' || (doc_id % 7) || " +
        "'&utm_campaign=x&a=1#sec' AS url FROM documents), " +
        "p AS (SELECT lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) AS scheme, " +
        "regexp_replace(lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1)), ':(443|80)$', '') AS host, " +
        "regexp_extract(url, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1) AS pth, " +
        "regexp_extract(url, '\\?([^#]*)', 1) AS q FROM u), " +
        "n AS (SELECT regexp_extract(host, '([^.]+\\.[^.]+)$', 1) AS domain, " +
        "scheme || '://' || host || pth || " +
        "CASE WHEN length(kept) > 0 THEN '?' || kept ELSE '' END AS norm " +
        "FROM (SELECT *, array_to_string(list_sort(list_filter(str_split(q, '&'), " +
        "x -> length(x) > 0 AND NOT regexp_matches(x, '^(utm_[a-z]+|fbclid|gclid)='))), '&') AS kept FROM p)) " +
        "SELECT domain, COUNT(*) AS n, COUNT(DISTINCT norm) AS n_distinct, " +
        "CAST(SUM(length(norm)) AS BIGINT) AS sum_len, " +
        "CAST(SUM(CASE WHEN norm LIKE '%:443%' THEN 1 ELSE 0 END) AS BIGINT) AS n_port_left, " +
        "MIN(norm) AS first_norm " +
        "FROM n GROUP BY domain ORDER BY domain"),
    "q117_domain_cap" ->
      // selector = (id*2654435761) mod P ranks inside each canonical
      // domain; quota 3
      ("WITH d AS (SELECT doc_id, n_chars, " +
        "lower(regexp_extract('CDN.' || upper(source) || " +
        "CASE WHEN doc_id % 2 = 0 THEN '.COM' ELSE '.Org' END, " +
        "'([^.]+\\.[^.]+)$', 1)) AS domain FROM documents), " +
        "r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY domain " +
        "ORDER BY (doc_id * 2654435761) % 1000000007, doc_id) AS rn FROM d) " +
        "SELECT domain, COUNT(*) AS n_kept, " +
        "CAST(SUM(doc_id) AS BIGINT) AS sum_ids, " +
        "CAST(SUM(n_chars) AS BIGINT) AS sum_chars " +
        "FROM r WHERE rn <= 3 GROUP BY domain ORDER BY domain"),
    "q118_image_neardup" ->
      // replay decode → 9×8 thumbnail (floor resample; luma == gray
      // for gray pixels) → dHash (bit y*8+x = right neighbor brighter)
      // for original + twin (+8 brightness, gray 120 at idx%17==0),
      // then brute-force all-pairs Hamming ≤ 3 (the engine's
      // pigeonhole banding is lossless, so the sets agree exactly);
      // the 64-bit code wraps HUGEINT → BIGINT two's-complement
      ("WITH dm AS (SELECT doc_id, text, 8 + doc_id % 9 AS w, 5 + doc_id % 7 AS h FROM documents), " +
        "px0 AS (SELECT doc_id, y, x, idx, CASE WHEN idx < length(text) " +
        "THEN unicode(substr(text, CAST(idx + 1 AS INT), 1)) ELSE 32 END AS g " +
        "FROM (SELECT doc_id, text, y, x, (y * h // 8) * w + (x * w // 9) AS idx " +
        "FROM dm CROSS JOIN (SELECT unnest(range(0, 8)) AS y) yy " +
        "CROSS JOIN (SELECT unnest(range(0, 9)) AS x) xx)), " +
        "px AS (SELECT doc_id AS aid, y, x, g FROM px0 " +
        "UNION ALL SELECT doc_id + 1000000 AS aid, y, x, " +
        "CASE WHEN idx % 17 = 0 THEN 120 ELSE g + 8 END AS g FROM px0), " +
        "bits AS (SELECT a.aid, a.y * 8 + a.x AS k, " +
        "CASE WHEN b.g > a.g THEN 1 ELSE 0 END AS bit " +
        "FROM px a JOIN px b ON a.aid = b.aid AND a.y = b.y AND b.x = a.x + 1 " +
        "WHERE a.x < 8), " +
        "codes AS (SELECT aid, CAST(s - CASE WHEN s >= (CAST(1 AS HUGEINT) << 63) " +
        "THEN (CAST(1 AS HUGEINT) << 64) ELSE CAST(0 AS HUGEINT) END AS BIGINT) AS code " +
        "FROM (SELECT aid, SUM(CASE WHEN bit = 1 THEN (CAST(1 AS HUGEINT) << CAST(k AS INT)) " +
        "ELSE CAST(0 AS HUGEINT) END) AS s FROM bits GROUP BY aid)) " +
        "SELECT a.aid AS d1, b.aid AS d2, " +
        "CAST(bit_count(xor(a.code, b.code)) AS INT) AS hamming " +
        "FROM codes a JOIN codes b ON a.aid < b.aid " +
        "WHERE bit_count(xor(a.code, b.code)) <= 3 ORDER BY d1, d2"),
    "q119_audio_signal" ->
      // replay zero crossings (lag window sign transitions), exact
      // energy and peak from raw text codepoints (sample = cp×257 −
      // 32768, 120 samples space-padded); rate replays the q110
      // derivation the fmt-chunk parse must recover
      ("WITH dm AS (SELECT doc_id, lang, text FROM documents), " +
        "sam AS (SELECT doc_id, lang, CAST(i AS INT) AS i, " +
        "(CASE WHEN i < length(text) THEN unicode(substr(text, CAST(i + 1 AS INT), 1)) " +
        "ELSE 32 END) * 257 - 32768 AS s " +
        "FROM dm CROSS JOIN (SELECT unnest(range(0, 120)) AS i) ii), " +
        "lg AS (SELECT doc_id, lang, s, lag(s) OVER (PARTITION BY doc_id ORDER BY i) AS p FROM sam), " +
        "per AS (SELECT doc_id, lang, " +
        "SUM(CASE WHEN p IS NOT NULL AND ((s < 0) <> (p < 0)) THEN 1 ELSE 0 END) AS zc, " +
        "SUM(CAST(s AS BIGINT) * s) AS energy, MAX(abs(s)) AS peak " +
        "FROM lg GROUP BY 1, 2) " +
        "SELECT lang, COUNT(*) AS n, " +
        "CAST(SUM(8000 + (doc_id % 5) * 1000) AS BIGINT) AS sum_rate, " +
        "CAST(SUM(zc) AS BIGINT) AS sum_zc, " +
        "CAST(SUM(energy) AS BIGINT) AS total_energy, " +
        "MAX(peak) AS max_peak, CAST(SUM(peak) AS BIGINT) AS sum_peak " +
        "FROM per GROUP BY lang ORDER BY lang"),
    "q120_youden_gate" ->
      // q112's score CTEs → descending-cumulative (tp, fp) over the
      // distinct-score histogram → integer-exact Youden argmax
      // (tp·neg − fp·pos, ties to the higher threshold) → gate applied
      // per lang; // floors == Spark div truncation (all non-negative)
      ("WITH t AS (SELECT doc_id, lang, unnest(str_split(lower(trim(text)), ' ')) AS tok " +
        "FROM documents), " +
        "h AS (SELECT doc_id, lang, list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        "list_transform(range(1, length(tok) + 1), " +
        "i -> CAST(unicode(substr(tok, CAST(i AS INT), 1)) AS BIGINT))), " +
        "(a, b) -> (a * 31 + b) % 2147483647) AS th FROM t WHERE tok <> ''), " +
        "w AS (SELECT doc_id, lang, ((th % 64) * 2654435761) % 1000000007 % 2001 - 1000 AS wt FROM h), " +
        "d AS (SELECT doc_id, lang, COUNT(*) AS n_toks, CAST(SUM(wt) AS BIGINT) AS score " +
        "FROM w GROUP BY 1, 2), " +
        "g AS (SELECT score AS s, SUM(CASE WHEN n_toks >= 50 THEN 1 ELSE 0 END) AS np, " +
        "SUM(CASE WHEN n_toks >= 50 THEN 0 ELSE 1 END) AS nn FROM d GROUP BY 1), " +
        "c AS (SELECT s, SUM(np) OVER (ORDER BY s DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp, " +
        "SUM(nn) OVER (ORDER BY s DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fp FROM g), " +
        "tot AS (SELECT CAST(SUM(np) AS BIGINT) AS pos, CAST(SUM(nn) AS BIGINT) AS neg FROM g), " +
        "best AS (SELECT CAST(s AS BIGINT) AS threshold, " +
        "CAST((tp * neg - fp * pos) * 1000000 // (pos * neg) AS BIGINT) AS j_micro " +
        "FROM c, tot ORDER BY tp * neg - fp * pos DESC, s DESC LIMIT 1) " +
        "SELECT d.lang, COUNT(*) AS n_docs, " +
        "CAST(SUM(CASE WHEN d.score >= b.threshold THEN 1 ELSE 0 END) AS BIGINT) AS n_kept, " +
        "b.threshold AS threshold, b.j_micro AS j_micro, " +
        "CAST(SUM(CASE WHEN d.score >= b.threshold THEN 1 ELSE 0 END) * 1000000 // COUNT(*) AS BIGINT) AS kept_micro " +
        "FROM d, best b GROUP BY d.lang, b.threshold, b.j_micro ORDER BY d.lang"),
    "q121_boilerplate" ->
      // replay page construction, per-(domain, line) distinct-doc DF,
      // and the removal arithmetic on line TEXT (hash equality ==
      // text equality); clean chars = kept line lengths + (n_kept−1)
      // joiner newlines per doc
      ("WITH d AS (SELECT doc_id, lang, text, " +
        "lower(regexp_extract('CDN.' || upper(source) || " +
        "CASE WHEN doc_id % 2 = 0 THEN '.COM' ELSE '.Org' END, " +
        "'([^.]+\\.[^.]+)$', 1)) AS dom FROM documents), " +
        "pg AS (SELECT doc_id, lang, dom, 'Home | About | ' || dom || chr(10) || text || " +
        "CASE WHEN doc_id % 5 = 0 THEN chr(10) || 'ref ' || doc_id ELSE '' END || " +
        "chr(10) || 'Copyright ' || dom AS page FROM d), " +
        "ln AS (SELECT doc_id, lang, dom, unnest(str_split(page, chr(10))) AS l FROM pg), " +
        "df AS (SELECT dom, l, COUNT(DISTINCT doc_id) AS df FROM ln GROUP BY 1, 2), " +
        "per AS (SELECT doc_id, lang, COUNT(*) AS n_lines, " +
        "SUM(CASE WHEN df.df >= 3 THEN 1 ELSE 0 END) AS n_rm, " +
        "SUM(CASE WHEN df.df < 3 THEN length(ln.l) ELSE 0 END) AS kept_chars, " +
        "SUM(CASE WHEN df.df < 3 THEN 1 ELSE 0 END) AS n_kept " +
        "FROM ln JOIN df ON ln.dom = df.dom AND ln.l = df.l GROUP BY 1, 2) " +
        "SELECT lang, COUNT(*) AS n_docs, " +
        "CAST(SUM(n_lines) AS BIGINT) AS sum_lines, " +
        "CAST(SUM(n_rm) AS BIGINT) AS sum_removed, " +
        "CAST(SUM(kept_chars + CASE WHEN n_kept > 0 THEN n_kept - 1 ELSE 0 END) AS BIGINT) AS sum_clean_chars " +
        "FROM per GROUP BY lang ORDER BY lang"),
    "q122_silence_trim" ->
      // replay trim bounds from raw text: sample i = (cp_i − 32)·300
      // over the 120 space-padded codepoints, silent iff cp = 32;
      // kept range = [first, last] non-space index (empty if none),
      // then q119's signal stats over the kept range only
      ("WITH dm AS (SELECT doc_id, lang, text FROM documents), " +
        "sam AS (SELECT doc_id, lang, CAST(i AS INT) AS i, " +
        "((CASE WHEN i < length(text) THEN unicode(substr(text, CAST(i + 1 AS INT), 1)) " +
        "ELSE 32 END) - 32) * 300 AS s " +
        "FROM dm CROSS JOIN (SELECT unnest(range(0, 120)) AS i) ii), " +
        "bound AS (SELECT doc_id, MIN(i) FILTER (WHERE s <> 0) AS a, " +
        "MAX(i) FILTER (WHERE s <> 0) AS b FROM sam GROUP BY doc_id), " +
        "kept AS (SELECT sam.doc_id, sam.lang, sam.i, sam.s " +
        "FROM sam JOIN bound ON sam.doc_id = bound.doc_id " +
        "WHERE bound.a IS NOT NULL AND sam.i BETWEEN bound.a AND bound.b), " +
        "lg AS (SELECT doc_id, lang, s, lag(s) OVER (PARTITION BY doc_id ORDER BY i) AS p FROM kept), " +
        "per0 AS (SELECT doc_id, lang, COUNT(*) AS ns, " +
        "SUM(CASE WHEN p IS NOT NULL AND ((s < 0) <> (p < 0)) THEN 1 ELSE 0 END) AS zc, " +
        "SUM(CAST(s AS BIGINT) * s) AS energy, MAX(abs(s)) AS peak " +
        "FROM lg GROUP BY 1, 2), " +
        // all-silent docs trim to zero samples but still report a row
        "per AS (SELECT d.doc_id, d.lang, COALESCE(p.ns, 0) AS ns, " +
        "COALESCE(p.zc, 0) AS zc, COALESCE(p.energy, 0) AS energy, " +
        "COALESCE(p.peak, 0) AS peak FROM dm d LEFT JOIN per0 p ON d.doc_id = p.doc_id) " +
        "SELECT lang, COUNT(*) AS n, " +
        "CAST(SUM(ns) AS BIGINT) AS total_samples, " +
        "CAST(SUM(120 - ns) AS BIGINT) AS n_trimmed, " +
        "CAST(SUM(zc) AS BIGINT) AS sum_zc, " +
        "CAST(SUM(energy) AS BIGINT) AS total_energy, " +
        "CAST(MAX(peak) AS INT) AS max_peak " +
        "FROM per GROUP BY lang ORDER BY lang"),
    "q123_semdedup" ->
      // q76's two training rounds over originals + jittered twins,
      // then in-cell pairs and the exact-cosine residual; kept iff no
      // >= 0.9 duplicate with a smaller id shares the cell
      ("WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
        "eu AS (SELECT vec_id, v FROM e0 " +
        "UNION ALL SELECT vec_id + 100000, list_transform(v, x -> x + (vec_id % 10) * 0.015) FROM e0), " +
        "e AS (SELECT vec_id, v, list_transform(v, x -> round(x * 1024)) AS q FROM eu), " +
        strideCtes + ", " +
        "c0 AS (SELECT vec_id AS cid, q AS cv FROM e, st WHERE vec_id % st.stride = 0), " +
        "p AS (SELECT unnest(range(1, 65)) AS i), " +
        "a1 AS (SELECT e.vec_id, e.q, c0.cid, row_number() OVER (PARTITION BY e.vec_id ORDER BY " +
        "list_dot_product(e.q, e.q) - 2 * list_dot_product(e.q, c0.cv) + list_dot_product(c0.cv, c0.cv), c0.cid) AS rn FROM e, c0), " +
        "m1 AS (SELECT vec_id, q, cid FROM a1 WHERE rn = 1), " +
        "s1 AS (SELECT cid, i, round(SUM(q[i]) / COUNT(*)) AS mu FROM m1, p GROUP BY cid, i), " +
        "n1 AS (SELECT cid, list(mu ORDER BY i) AS cv FROM s1 GROUP BY cid), " +
        "c1 AS (SELECT c0.cid, COALESCE(n1.cv, c0.cv) AS cv FROM c0 LEFT JOIN n1 USING (cid)), " +
        "a2 AS (SELECT e.vec_id, e.q, c1.cid, row_number() OVER (PARTITION BY e.vec_id ORDER BY " +
        "list_dot_product(e.q, e.q) - 2 * list_dot_product(e.q, c1.cv) + list_dot_product(c1.cv, c1.cv), c1.cid) AS rn FROM e, c1), " +
        "m2 AS (SELECT vec_id, q, cid FROM a2 WHERE rn = 1), " +
        "s2 AS (SELECT cid, i, round(SUM(q[i]) / COUNT(*)) AS mu FROM m2, p GROUP BY cid, i), " +
        "n2 AS (SELECT cid, list(mu ORDER BY i) AS cv FROM s2 GROUP BY cid), " +
        "c2 AS (SELECT c1.cid, COALESCE(n2.cv, c1.cv) AS cv FROM c1 LEFT JOIN n2 USING (cid)), " +
        "dist AS (SELECT e.vec_id, c2.cid, " +
        "list_dot_product(e.q, e.q) - 2 * list_dot_product(e.q, c2.cv) + list_dot_product(c2.cv, c2.cv) AS d2 FROM e, c2), " +
        "asg AS (SELECT vec_id, cid FROM (SELECT vec_id, cid, " +
        "ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM dist) t WHERE rn = 1), " +
        "pr AS (SELECT a.vec_id AS d1, b.vec_id AS d2 FROM asg a JOIN asg b " +
        "ON a.cid = b.cid AND a.vec_id < b.vec_id), " +
        "dropped AS (SELECT DISTINCT pr.d2 FROM pr " +
        "JOIN e ea ON ea.vec_id = pr.d1 JOIN e eb ON eb.vec_id = pr.d2 " +
        "WHERE list_dot_product(ea.v, eb.v) / " +
        "(sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))) >= 0.9) " +
        "SELECT asg.vec_id, asg.cid AS cell, (d.d2 IS NULL) AS kept " +
        "FROM asg LEFT JOIN dropped d ON asg.vec_id = d.d2 ORDER BY vec_id"),
    "q124_media_dispatch" ->
      // replay the routing (magic == construction parity, %13 raw,
      // %7 claim swap) and both decoders' stats: BMP checksum = the
      // q108 luma-sum arithmetic, WAV checksum = the q119 energy
      ("WITH dm AS (SELECT doc_id, text, 8 + doc_id % 9 AS w, 5 + doc_id % 7 AS h FROM documents), " +
        "cls AS (SELECT doc_id, text, w, h, " +
        "CASE WHEN doc_id % 13 = 0 THEN 'application/octet-stream' " +
        "WHEN doc_id % 2 = 0 THEN 'image/bmp' ELSE 'audio/wav' END AS sniffed, " +
        "CASE WHEN doc_id % 2 = 0 THEN (CASE WHEN doc_id % 7 = 0 THEN 'audio/wav' ELSE 'image/bmp' END) " +
        "ELSE (CASE WHEN doc_id % 7 = 0 THEN 'image/bmp' ELSE 'audio/wav' END) END AS claimed FROM dm), " +
        "ch AS (SELECT doc_id, unnest(str_split(substr(text, 1, CAST(w * h AS INT)), '')) AS c " +
        "FROM cls WHERE sniffed = 'image/bmp'), " +
        "bmp AS (SELECT doc_id, CAST(SUM(ord(c)) AS BIGINT) AS sgray, COUNT(*) AS m FROM ch GROUP BY doc_id), " +
        "bmpu AS (SELECT cls.doc_id, CAST(cls.w * cls.h AS BIGINT) AS units, " +
        "COALESCE(b.sgray, 0) + 32 * (cls.w * cls.h - COALESCE(b.m, 0)) AS checksum " +
        "FROM cls LEFT JOIN bmp b USING (doc_id) WHERE cls.sniffed = 'image/bmp'), " +
        "sam AS (SELECT doc_id, (CASE WHEN i < length(text) " +
        "THEN unicode(substr(text, CAST(i + 1 AS INT), 1)) ELSE 32 END) * 257 - 32768 AS s " +
        "FROM cls CROSS JOIN (SELECT unnest(range(0, 120)) AS i) ii WHERE sniffed = 'audio/wav'), " +
        "wav AS (SELECT doc_id, CAST(120 AS BIGINT) AS units, " +
        "CAST(SUM(CAST(s AS BIGINT) * s) AS BIGINT) AS checksum FROM sam GROUP BY doc_id), " +
        "oth AS (SELECT doc_id, CAST(0 AS BIGINT) AS units, CAST(0 AS BIGINT) AS checksum " +
        "FROM cls WHERE sniffed = 'application/octet-stream'), " +
        "u AS (SELECT * FROM bmpu UNION ALL SELECT * FROM wav UNION ALL SELECT * FROM oth) " +
        "SELECT cls.claimed, cls.sniffed, COUNT(*) AS n, " +
        "CAST(SUM(u.units) AS BIGINT) AS sum_units, " +
        "CAST(SUM(u.checksum) AS BIGINT) AS sum_checksum " +
        "FROM cls JOIN u USING (doc_id) GROUP BY 1, 2 ORDER BY 1, 2"),
    "q104_profile_segments" ->
      // q103's dense-profile CTEs feeding q75's two Lloyd rounds
      // verbatim (dim 24, stride 37 on user_id); quantization is a
      // lossless exponent shift on the decimal-exact cell sums
      ("WITH cell AS (SELECT user_id, CAST(EXTRACT(hour FROM ts) AS INT) AS h, " +
        "CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS v " +
        "FROM events GROUP BY 1, 2), " +
        "grid AS (SELECT u.user_id, CAST(r.range AS INT) AS h " +
        "FROM (SELECT DISTINCT user_id FROM cell) u CROSS JOIN range(0, 24) r), " +
        "dense AS (SELECT g.user_id, g.h, COALESCE(c.v, 0.0) AS v FROM grid g " +
        "LEFT JOIN cell c ON g.user_id = c.user_id AND g.h = c.h), " +
        "prof AS (SELECT user_id, list(v ORDER BY h) AS vec FROM dense GROUP BY user_id), " +
        "e AS (SELECT user_id AS vec_id, list_transform(vec, x -> round(x * 1024)) AS q FROM prof), " +
        "c0 AS (SELECT vec_id AS cid, q AS cv FROM e WHERE vec_id % 37 = 0), " +
        "p AS (SELECT unnest(range(1, 25)) AS i), " +
        "a1 AS (SELECT e.vec_id, e.q, c0.cid, row_number() OVER (PARTITION BY e.vec_id ORDER BY " +
        "list_dot_product(e.q, e.q) - 2 * list_dot_product(e.q, c0.cv) + list_dot_product(c0.cv, c0.cv), c0.cid) AS rn FROM e, c0), " +
        "m1 AS (SELECT vec_id, q, cid FROM a1 WHERE rn = 1), " +
        "s1 AS (SELECT cid, i, round(SUM(q[i]) / COUNT(*)) AS mu, COUNT(*) AS n FROM m1, p GROUP BY cid, i), " +
        "n1 AS (SELECT cid, list(mu ORDER BY i) AS cv FROM s1 GROUP BY cid), " +
        "c1 AS (SELECT c0.cid, COALESCE(n1.cv, c0.cv) AS cv FROM c0 LEFT JOIN n1 USING (cid)), " +
        "a2 AS (SELECT e.vec_id, e.q, c1.cid, row_number() OVER (PARTITION BY e.vec_id ORDER BY " +
        "list_dot_product(e.q, e.q) - 2 * list_dot_product(e.q, c1.cv) + list_dot_product(c1.cv, c1.cv), c1.cid) AS rn FROM e, c1), " +
        "m2 AS (SELECT vec_id, q, cid FROM a2 WHERE rn = 1), " +
        "s2 AS (SELECT cid, i, round(SUM(q[i]) / COUNT(*)) AS mu, COUNT(*) AS n FROM m2, p GROUP BY cid, i), " +
        "n2 AS (SELECT cid, list(mu ORDER BY i) AS cv, MAX(n) AS n FROM s2 GROUP BY cid), " +
        "c2 AS (SELECT c1.cid, COALESCE(n2.cv, c1.cv) AS cv, COALESCE(n2.n, 0) AS n FROM c1 LEFT JOIN n2 USING (cid)) " +
        "SELECT cid, CAST(n AS BIGINT) AS n, CAST(list_dot_product(cv, cv) AS BIGINT) AS mu_dot, " +
        "CAST(list_aggregate(cv, 'sum') AS BIGINT) AS mu_sum FROM c2 ORDER BY cid"),
    "q125_pq_encode" ->
      // one PQ training round over the 4×16 subspace view, then the
      // encode assignment vs the refreshed codebook — shared CTEs
      // with q126, which searches what this query trains
      (pqOracleCtes(derivedStride = false) +
        ", us AS (SELECT s, cid, COUNT(*) AS n_docs FROM enc GROUP BY s, cid) " +
        "SELECT c1.s AS sub, c1.cid, " +
        "CAST(list_dot_product(c1.cv, c1.cv) AS BIGINT) AS mu_dot, " +
        "CAST(COALESCE(us.n_docs, 0) AS BIGINT) AS n_docs " +
        "FROM c1 LEFT JOIN us USING (s, cid) ORDER BY sub, cid"),
    "q126_pq_adc" ->
      // q125's training + encode verbatim, then the ADC tail: per-doc
      // approximate d2 = sum of the 4 LUT entries its codes select
      (pqOracleCtes(derivedStride = false) +
        ", tq AS (SELECT s, sv FROM sub WHERE vec_id = 3), " +
        "lut AS (SELECT c1.s, c1.cid, " +
        "list_dot_product(tq.sv, tq.sv) - 2 * list_dot_product(tq.sv, c1.cv) + list_dot_product(c1.cv, c1.cv) AS d2 " +
        "FROM c1 JOIN tq USING (s)), " +
        "sc AS (SELECT enc.vec_id, CAST(SUM(lut.d2) AS BIGINT) AS adc_d2 " +
        "FROM enc JOIN lut USING (s, cid) WHERE enc.vec_id <> 3 GROUP BY enc.vec_id) " +
        "SELECT vec_id, adc_d2 FROM sc ORDER BY adc_d2, vec_id LIMIT 10"),
    "q127_pr_auc" ->
      // q112's scored-doc CTEs, then step-wise AP: per-threshold term
      // = one IEEE-exact integer division rounded to 9 dp, summed in
      // DECIMAL; ap = 6-dp round of the sum, NULL for single-class
      ("WITH t AS (SELECT doc_id, lang, unnest(str_split(lower(trim(text)), ' ')) AS tok " +
        "FROM documents), " +
        "h AS (SELECT doc_id, lang, list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        "list_transform(range(1, length(tok) + 1), " +
        "i -> CAST(unicode(substr(tok, CAST(i AS INT), 1)) AS BIGINT))), " +
        "(a, b) -> (a * 31 + b) % 2147483647) AS th FROM t WHERE tok <> ''), " +
        "w AS (SELECT doc_id, lang, ((th % 64) * 2654435761) % 1000000007 % 2001 - 1000 AS wt FROM h), " +
        "d AS (SELECT doc_id, lang, COUNT(*) AS n_toks, SUM(wt) AS score FROM w GROUP BY 1, 2), " +
        "g AS (SELECT lang, score AS s, " +
        "SUM(CASE WHEN n_toks >= 50 THEN 1 ELSE 0 END) AS np, " +
        "SUM(CASE WHEN n_toks >= 50 THEN 0 ELSE 1 END) AS nn FROM d GROUP BY 1, 2), " +
        "c AS (SELECT lang, np, " +
        "SUM(np) OVER (PARTITION BY lang ORDER BY s DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp, " +
        "SUM(nn) OVER (PARTITION BY lang ORDER BY s DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fp FROM g), " +
        "tt AS (SELECT lang, CAST(SUM(np) AS BIGINT) AS pos, CAST(SUM(nn) AS BIGINT) AS neg FROM g GROUP BY lang), " +
        "tm AS (SELECT c.lang, CAST(round(CAST(c.np * c.tp AS DOUBLE) / " +
        "CAST((c.tp + c.fp) * tt.pos AS DOUBLE), 9) AS DECIMAL(28,9)) AS term " +
        "FROM c JOIN tt USING (lang) WHERE tt.pos > 0) " +
        "SELECT tt.lang, tt.pos AS n_pos, tt.neg AS n_neg, " +
        "CASE WHEN tt.pos = 0 OR tt.neg = 0 THEN NULL " +
        "ELSE round(CAST(SUM(tm.term) AS DOUBLE), 6) END AS ap " +
        "FROM tt LEFT JOIN tm USING (lang) GROUP BY tt.lang, tt.pos, tt.neg ORDER BY lang"),
    "q128_encoding_qa" ->
      // replay the doc_id-derived corruption (chr() builds the exact
      // chars the Spark side injects as \\u escapes), then the three
      // signature counts; badness is integer ppm
      ("WITH d AS (SELECT doc_id, lang, text || "
        + "CASE WHEN doc_id % 3 = 0 THEN ' ' || chr(65533) ELSE '' END || "
        + "CASE WHEN doc_id % 5 = 0 THEN chr(7) ELSE '' END || "
        + "CASE WHEN doc_id % 7 = 0 THEN ' ' || chr(195) || chr(169) || 't' || chr(195) || chr(169) ELSE '' END AS t FROM documents), "
        + "q AS (SELECT doc_id, lang, length(t) AS n_chars, "
        + "len(regexp_extract_all(t, chr(65533))) AS n_repl, "
        + "len(regexp_extract_all(t, '[' || chr(1) || '-' || chr(8) || chr(11) || chr(12) || chr(14) || '-' || chr(31) || ']')) AS n_ctrl, "
        + "len(regexp_extract_all(t, '[' || chr(194) || chr(195) || '][' || chr(128) || '-' || chr(191) || ']')) AS n_moji FROM d), "
        + "b AS (SELECT doc_id, lang, n_chars, n_repl, n_ctrl, n_moji, "
        + "n_repl + n_ctrl + 2 * n_moji AS bad FROM q) "
        + "SELECT lang, COUNT(*) AS n_docs, "
        + "CAST(SUM(CASE WHEN bad = 0 THEN 0 ELSE 1 END) AS BIGINT) AS n_flagged, "
        + "CAST(SUM(n_repl) AS BIGINT) AS sum_repl, "
        + "CAST(SUM(n_ctrl) AS BIGINT) AS sum_ctrl, "
        + "CAST(SUM(n_moji) AS BIGINT) AS sum_moji, "
        + "CAST(SUM(CASE WHEN n_chars > 0 THEN bad * 1000000 // n_chars ELSE 0 END) AS BIGINT) AS sum_badness_micro "
        + "FROM b GROUP BY lang ORDER BY lang"),
    "q129_tfidf_keywords" ->
      // idf = 6-dp-rounded ln of an exact integer ratio in DECIMAL;
      // score = tf * idf is exact decimal; (score desc, term) ranking
      ("WITH t AS (SELECT doc_id, lang, unnest(str_split(lower(trim(text)), ' ')) AS term FROM documents), "
        + "f AS (SELECT doc_id, lang, term, COUNT(*) AS tf FROM t WHERE term <> '' GROUP BY ALL), "
        + "dfx AS (SELECT term, COUNT(*) AS dfc FROM f GROUP BY term), "
        + "nn AS (SELECT COUNT(DISTINCT doc_id) AS n FROM f), "
        + "s AS (SELECT f.doc_id, f.lang, f.term, f.tf, "
        + "f.tf * CAST(round(ln(CAST((SELECT n FROM nn) AS DOUBLE) / dfc), 6) AS DECIMAL(18,6)) AS score "
        + "FROM f JOIN dfx USING (term)), "
        + "r AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rank FROM s) "
        + "SELECT doc_id, lang, term, tf, CAST(score AS DOUBLE) AS score, CAST(rank AS INT) AS rank "
        + "FROM r WHERE rank <= 3 ORDER BY doc_id, rank"),
    "q130_length_batches" ->
      // replay: integer-exact next-pow2 via bin-length, the portable
      // selector shard, per-cell (len desc, id) ranking, batches of 8
      ("WITH d AS (SELECT doc_id, CAST(len(list_filter(str_split(lower(trim(text)), ' '), x -> x <> '')) AS BIGINT) AS n_toks FROM documents), "
        + "c AS (SELECT doc_id, n_toks, CASE WHEN n_toks <= 1 THEN CAST(1 AS BIGINT) ELSE (CAST(1 AS BIGINT) << length(bin(n_toks - 1))) END AS bucket_cap, "
        + "CAST(((doc_id * 2654435761) % 1000000007) * 4 // 1000000007 AS INT) AS shard FROM d), "
        + "r AS (SELECT *, row_number() OVER (PARTITION BY bucket_cap, shard ORDER BY n_toks DESC, doc_id) - 1 AS rn0 FROM c), "
        + "b AS (SELECT bucket_cap, shard, rn0 // 8 AS batch_id, COUNT(*) AS n_docs, MAX(n_toks) AS batch_len, SUM(n_toks) AS sum_len FROM r GROUP BY 1, 2, 3) "
        + "SELECT bucket_cap, COUNT(*) AS n_batches, CAST(SUM(n_docs) AS BIGINT) AS n_docs, "
        + "CAST(SUM(sum_len) AS BIGINT) AS sum_tokens, "
        + "CAST(SUM(n_docs * batch_len - sum_len) AS BIGINT) AS sum_padding, "
        + "CAST(SUM(n_docs * batch_len) AS BIGINT) AS padded_tokens, "
        + "CAST(SUM(sum_len) * 1000000 // SUM(n_docs * batch_len) AS BIGINT) AS efficiency_micro "
        + "FROM b GROUP BY bucket_cap ORDER BY bucket_cap"),
    "q131_png_decode" ->
      // replay the DECODED-pixel stats from the raw text: pixel p has
      // (r, g, b) = codepoints of chars 3p..3p+2 (space-padded),
      // luma = (299r + 587g + 114b) // 1000 — matches only if the PNG
      // chunk/CRC/inflate/unfilter round-trip is bit-exact
      truecolorPixelReplayOracle,
    "q174_gif_decode" ->
      // replay the DECODED-pixel stats from the raw text through the
      // palette formula: index i = codepoint of char p (space-padded),
      // (r, g, b) = (i, 7i mod 256, 255 - i),
      // luma = (299r + 587g + 114b) // 1000 — matches only if the GIF
      // LZW/palette round-trip is bit-exact
      ("WITH dm AS (SELECT doc_id, lang, 6 + doc_id % 9 AS w, 4 + doc_id % 5 AS h, "
        + "rpad(substr(text, 1, CAST((6 + doc_id % 9)*(4 + doc_id % 5) AS INT)), "
        + "CAST((6 + doc_id % 9)*(4 + doc_id % 5) AS INT), ' ') AS px FROM documents), "
        + "c AS (SELECT doc_id, lang, w, h, w*h AS np, px, unnest(range(w*h)) AS p FROM dm), "
        + "c2 AS (SELECT doc_id, lang, w, h, np, "
        + "(ord(substr(px, CAST(p + 1 AS INT), 1)) * 299 + "
        + "((ord(substr(px, CAST(p + 1 AS INT), 1)) * 7) % 256) * 587 + "
        + "(255 - ord(substr(px, CAST(p + 1 AS INT), 1))) * 114) // 1000 AS g FROM c), "
        + "per AS (SELECT doc_id, lang, w, h, np, CAST(SUM(g) AS BIGINT) AS s, "
        + "SUM(CASE WHEN g // 16 = 2 THEN 1 ELSE 0 END) AS h2, "
        + "SUM(CASE WHEN g // 16 = 6 THEN 1 ELSE 0 END) AS h6, "
        + "SUM(CASE WHEN g // 16 = 7 THEN 1 ELSE 0 END) AS h7 "
        + "FROM c2 GROUP BY doc_id, lang, w, h, np) "
        + "SELECT lang, COUNT(*) AS n, CAST(SUM(w) AS BIGINT) AS sum_w, "
        + "CAST(SUM(h) AS BIGINT) AS sum_h, "
        + "CAST(SUM(np) AS BIGINT) AS total_pixels, "
        + "CAST(SUM(s * 1000000 // np) AS BIGINT) AS sum_mean_micro, "
        + "CAST(SUM(h2) AS BIGINT) AS h2, "
        + "CAST(SUM(h6) AS BIGINT) AS h6, CAST(SUM(h7) AS BIGINT) AS h7 "
        + "FROM per GROUP BY lang ORDER BY lang"),
    "q132_hard_negatives" -> hardNegOracle,
    "q133_temperature_mix" ->
      // replay: n^0.5 weights micro-scaled after one rounding, integer
      // shares of the 1000-row target, per-row selector-sliced copies
      ("WITH n AS (SELECT lang, COUNT(*) AS nd FROM documents GROUP BY lang), "
        + "w AS (SELECT lang, nd, CAST(round(power(nd, 0.5) * 1000000) AS BIGINT) AS wmicro FROM n), "
        + "t AS (SELECT lang, nd, wmicro, 1000 * wmicro // (SELECT SUM(wmicro) FROM w) AS target FROM w), "
        + "r AS (SELECT lang, nd, target, target * 1000000 // nd AS rate_micro FROM t), "
        + "c AS (SELECT d.doc_id, d.lang, r.nd, r.target, r.rate_micro, "
        + "r.rate_micro // 1000000 + CASE WHEN ((d.doc_id * 2654435761) % 1000000007) * 1000000 < (r.rate_micro % 1000000) * 1000000007 THEN 1 ELSE 0 END AS copies "
        + "FROM documents d JOIN r USING (lang)) "
        + "SELECT lang, CAST(MAX(nd) AS BIGINT) AS n_docs, CAST(MAX(target) AS BIGINT) AS target, "
        + "CAST(MAX(rate_micro) AS BIGINT) AS rate_micro, CAST(SUM(copies) AS BIGINT) AS n_rows, "
        + "CAST(SUM(CASE WHEN copies >= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled, "
        + "CAST(MAX(copies) - 1 AS BIGINT) AS max_copy "
        + "FROM c GROUP BY lang ORDER BY lang"),
    "q134_corpus_diff" ->
      // replay the snapshot derivation and classify by NORMALIZED text
      // equality — the engine compares 128-bit fingerprints, so a
      // mismatch would need a hash collision
      ("WITH oldd AS (SELECT doc_id, source, text FROM documents), "
        + "newd AS (SELECT doc_id, source, CASE WHEN doc_id % 5 = 0 THEN text || ' rev2' ELSE text END AS text "
        + "FROM documents WHERE doc_id % 17 <> 0 "
        + "UNION ALL SELECT doc_id + 10000, source, text FROM documents WHERE doc_id % 13 = 0), "
        + "j AS (SELECT COALESCE(n.doc_id, o.doc_id) AS doc_id, COALESCE(n.source, o.source) AS source, "
        + "CASE WHEN o.doc_id IS NULL THEN 'added' WHEN n.doc_id IS NULL THEN 'removed' "
        + "WHEN lower(trim(o.text)) = lower(trim(n.text)) THEN 'unchanged' ELSE 'changed' END AS status "
        + "FROM oldd o FULL OUTER JOIN newd n ON o.doc_id = n.doc_id) "
        + "SELECT source, status, COUNT(*) AS n FROM j GROUP BY 1, 2 ORDER BY 1, 2"),
    "q135_rank_fusion" ->
      // q112's scored-doc CTEs, then all-BIGINT RRF: per-ranker
      // row_number ranks (id tie-break), 10^6 // (60 + rank) summed,
      // fused top-5 per language
      ("WITH t AS (SELECT doc_id, lang, unnest(str_split(lower(trim(text)), ' ')) AS tok "
        + "FROM documents), "
        + "h AS (SELECT doc_id, lang, list_reduce(list_prepend(CAST(0 AS BIGINT), "
        + "list_transform(range(1, length(tok) + 1), "
        + "i -> CAST(unicode(substr(tok, CAST(i AS INT), 1)) AS BIGINT))), "
        + "(a, b) -> (a * 31 + b) % 2147483647) AS th FROM t WHERE tok <> ''), "
        + "w AS (SELECT doc_id, lang, ((th % 64) * 2654435761) % 1000000007 % 2001 - 1000 AS wt FROM h), "
        + "d AS (SELECT doc_id, lang, COUNT(*) AS n_toks, SUM(wt) AS score FROM w GROUP BY 1, 2), "
        + "d2 AS (SELECT d.doc_id, d.lang, d.score, doc.n_chars FROM d JOIN documents doc USING (doc_id)), "
        + "r AS (SELECT doc_id, lang, "
        + "row_number() OVER (PARTITION BY lang ORDER BY score DESC, doc_id) AS rank_quality, "
        + "row_number() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id) AS rank_length FROM d2), "
        + "f AS (SELECT doc_id, lang, rank_quality, rank_length, "
        + "1000000 // (60 + rank_quality) + 1000000 // (60 + rank_length) AS rrf_micro FROM r), "
        + "rk AS (SELECT *, row_number() OVER (PARTITION BY lang ORDER BY rrf_micro DESC, doc_id) AS rank FROM f) "
        + "SELECT lang, doc_id, rrf_micro, rank_quality, rank_length, CAST(rank AS INT) AS rank "
        + "FROM rk WHERE rank <= 5 ORDER BY lang, rank"),
    "q136_winsorize" ->
      // exact interpolated quantile cuts (quantile_cont == the engine's
      // 5-stage exact program), scan-local clamp, 4-dp-rounded DECIMAL
      // sums
      ("WITH v AS (SELECT l_returnflag, CAST(l_extendedprice AS DOUBLE) AS p FROM lineitem), "
        + "c AS (SELECT l_returnflag, quantile_cont(p, 0.05) AS lo, quantile_cont(p, 0.95) AS hi FROM v GROUP BY 1), "
        + "w AS (SELECT v.l_returnflag, v.p, c.lo, c.hi, least(greatest(v.p, c.lo), c.hi) AS wv "
        + "FROM v JOIN c USING (l_returnflag)) "
        + "SELECT l_returnflag, COUNT(*) AS n, "
        + "CAST(SUM(CASE WHEN p < lo THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_low, "
        + "CAST(SUM(CASE WHEN p > hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_high, "
        + "CAST(SUM(CAST(round(wv, 4) AS DECIMAL(28,4))) AS DOUBLE) AS sum_winsorized "
        + "FROM w GROUP BY l_returnflag ORDER BY l_returnflag"),
    "q137_char_entropy" ->
      // per-doc Shannon entropy in integer micro-nats: each ln rounded
      // once to micro, weighted sums and the final division BIGINT
      ("WITH ch AS (SELECT doc_id, lang, unnest(str_split(text, '')) AS c FROM documents), "
        + "cc AS (SELECT doc_id, lang, c, COUNT(*) AS cnt FROM ch WHERE c <> '' GROUP BY ALL), "
        + "wn AS (SELECT doc_id, lang, cnt, SUM(cnt) OVER (PARTITION BY doc_id) AS n FROM cc), "
        + "t AS (SELECT doc_id, lang, CAST(round(ln(CAST(n AS DOUBLE) / cnt) * 1000000) AS BIGINT) * cnt AS term, n FROM wn), "
        + "d AS (SELECT doc_id, lang, MAX(n) AS n_chars, COUNT(*) AS n_distinct, SUM(term) // MAX(n) AS em FROM t GROUP BY doc_id, lang) "
        + "SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars, "
        + "CAST(SUM(n_distinct) AS BIGINT) AS sum_distinct, CAST(SUM(em) AS BIGINT) AS sum_entropy_micro, "
        + "CAST(MIN(em) AS BIGINT) AS min_entropy_micro, "
        + "CAST(SUM(CASE WHEN em < 2500000 THEN 1 ELSE 0 END) AS BIGINT) AS n_low "
        + "FROM d GROUP BY lang ORDER BY lang"),
    "q138_embedding_qa" ->
      // replay the id-derived corruption (%11 zeroed, %13 NaN-poisoned)
      // and the scan-local gate; norms are the same left-to-right IEEE
      // dot in both engines
      ("WITH e0 AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings), "
        + "no AS (SELECT vec_id, label, CASE WHEN vec_id % 11 = 0 THEN list_transform(e, x -> CAST(0.0 AS DOUBLE)) "
        + "WHEN vec_id % 13 = 0 THEN list_prepend(CAST('nan' AS DOUBLE), e[2:64]) ELSE e END AS e FROM e0), "
        + "q AS (SELECT vec_id, label, len(e) AS n_dims, len(list_filter(e, x -> isnan(x) OR isinf(x))) AS n_bad, "
        + "list_dot_product(e, e) AS n2 FROM no), "
        + "f AS (SELECT *, (n2 = 0.0) AS is_zero, round(n2, 4) AS norm2, "
        + "(n_bad = 0 AND n2 <> 0.0 AND n_dims = 64) AS is_clean FROM q) "
        + "SELECT label, COUNT(*) AS n, CAST(SUM(CASE WHEN is_zero THEN 1 ELSE 0 END) AS BIGINT) AS n_zero, "
        + "CAST(SUM(CASE WHEN n_bad > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_nonfinite, "
        + "CAST(SUM(CASE WHEN is_clean THEN 0 ELSE 1 END) AS BIGINT) AS n_flagged, "
        + "CAST(SUM(CAST(CASE WHEN is_clean THEN norm2 ELSE 0.0 END AS DECIMAL(18,4))) AS DOUBLE) AS sum_norm2_clean "
        + "FROM f GROUP BY label ORDER BY label"),
    "q139_zscore" ->
      // q112's scored-doc CTEs, exact DECIMAL moments, then the same
      // fixed-order double program for mean/var/z
      ("WITH t AS (SELECT doc_id, lang, unnest(str_split(lower(trim(text)), ' ')) AS tok FROM documents), "
        + "h AS (SELECT doc_id, lang, list_reduce(list_prepend(CAST(0 AS BIGINT), "
        + "list_transform(range(1, length(tok) + 1), i -> CAST(unicode(substr(tok, CAST(i AS INT), 1)) AS BIGINT))), "
        + "(a, b) -> (a * 31 + b) % 2147483647) AS th FROM t WHERE tok <> ''), "
        + "w AS (SELECT doc_id, lang, ((th % 64) * 2654435761) % 1000000007 % 2001 - 1000 AS wt FROM h), "
        + "d AS (SELECT doc_id, lang, SUM(wt) AS score FROM w GROUP BY 1, 2), "
        + "x AS (SELECT doc_id, lang, CAST(round(CAST(score AS DOUBLE), 6) AS DECIMAL(28,6)) AS xd, CAST(score AS DOUBLE) AS xv FROM d), "
        + "m AS (SELECT lang, COUNT(*) AS n, CAST(SUM(xd) AS DOUBLE) AS s, "
        + "CAST(SUM(CAST(xd * xd AS DECIMAL(38,12))) AS DOUBLE) AS ss FROM x GROUP BY lang), "
        + "z AS (SELECT x.lang, CASE WHEN (ss / n - (s / n) * (s / n)) > 0 "
        + "THEN round((xv - s / n) / sqrt(ss / n - (s / n) * (s / n)), 4) ELSE NULL END AS z FROM x JOIN m USING (lang)) "
        + "SELECT lang, COUNT(*) AS n, CAST(SUM(CASE WHEN abs(z) > 2.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers, "
        + "CAST(SUM(CAST(z AS DECIMAL(18,4))) AS DOUBLE) AS sum_z, MIN(z) AS min_z, MAX(z) AS max_z "
        + "FROM z GROUP BY lang ORDER BY lang"),
    "q140_funnel" ->
      // per-step earliest-qualifying-occurrence chain (min ts strictly
      // after the previous step), exact BIGINT ms gap sums, one
      // fixed-order double division per ratio
      ("WITH e AS (SELECT user_id, epoch_ms(ts) AS ms, event_type FROM events), "
        + "s0 AS (SELECT user_id, MIN(ms) AS t0 FROM e WHERE event_type = 'view' GROUP BY 1), "
        + "s1 AS (SELECT e.user_id, MIN(t0) AS t0, MIN(ms) AS t1 FROM e JOIN s0 USING (user_id) "
        + "WHERE event_type = 'click' AND ms > t0 GROUP BY 1), "
        + "s2 AS (SELECT e.user_id, MIN(t1) AS t1, MIN(ms) AS t2 FROM e JOIN s1 USING (user_id) "
        + "WHERE event_type = 'purchase' AND ms > t1 GROUP BY 1), "
        + "r AS (SELECT 0 AS step_idx, 'view' AS step, COUNT(*) AS n_users, CAST(NULL AS BIGINT) AS gap FROM s0 "
        + "UNION ALL SELECT 1, 'click', COUNT(*), CAST(SUM(t1 - t0) AS BIGINT) FROM s1 "
        + "UNION ALL SELECT 2, 'purchase', COUNT(*), CAST(SUM(t2 - t1) AS BIGINT) FROM s2) "
        + "SELECT step_idx, step, n_users, "
        + "round(CAST(n_users AS DOUBLE) / lag(n_users) OVER (ORDER BY step_idx), 6) AS conv_from_prev, "
        + "round(CAST(gap AS DOUBLE) / n_users / 1000.0, 4) AS avg_gap_s "
        + "FROM r ORDER BY step_idx"),
    "q141_cohort_retention" ->
      // cohort = ISO week of first event; retention vs the cohort's
      // offset-0 size via a window over the calendar-bounded matrix
      ("WITH a AS (SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS p FROM events), "
        + "c AS (SELECT user_id, MIN(p) AS cw FROM a GROUP BY 1), "
        + "m AS (SELECT cw AS cohort, CAST(date_diff('day', cw, p) // 7 AS INT) AS week_offset, "
        + "COUNT(*) AS n_users FROM a JOIN c USING (user_id) GROUP BY 1, 2) "
        + "SELECT cohort, week_offset, n_users, "
        + "round(CAST(n_users AS DOUBLE) / MAX(CASE WHEN week_offset = 0 THEN n_users END) "
        + "OVER (PARTITION BY cohort), 6) AS retention "
        + "FROM m ORDER BY cohort, week_offset"),
    "q142_fuzzy_match" ->
      // the same pigeonhole blocking (3 positional chunks over each
      // distinct name, candidates share one) and levenshtein residual
      ("WITH reps AS (SELECT p_name AS s, MIN(p_partkey) AS id FROM part GROUP BY 1), "
        + "g AS (SELECT id, s, CAST(ceil(length(s) / 3.0) AS INT) AS w, "
        + "CAST(unnest(range(0, 3)) AS INT) AS i FROM reps), "
        + "ch AS (SELECT id, s, i, substr(s, 1 + i * w, w) AS cv FROM g "
        + "WHERE substr(s, 1 + i * w, w) <> ''), "
        + "cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.s AS str_a, b.s AS str_b "
        + "FROM ch a JOIN ch b ON a.i = b.i AND a.cv = b.cv AND a.id < b.id), "
        + "d AS (SELECT id_a, id_b, str_a, str_b, CAST(levenshtein(str_a, str_b) AS INT) AS dist FROM cand) "
        + "SELECT * FROM d WHERE dist <= 2 ORDER BY dist, str_a, str_b"),
    "q143_basket_affinity" ->
      // baskets = orders, items = distinct brands per order; exact
      // BIGINT counts; lift/support/confidence replay operand order
      ("WITH bi AS (SELECT DISTINCT l_orderkey AS b, p_brand AS i FROM lineitem "
        + "JOIN part ON l_partkey = p_partkey), "
        + "marg AS (SELECT i, COUNT(*) AS n FROM bi GROUP BY 1), "
        + "tot AS (SELECT COUNT(DISTINCT b) AS nb FROM bi), "
        + "pairs AS (SELECT a.i AS item_a, b.i AS item_b, COUNT(*) AS n_pair "
        + "FROM bi a JOIN bi b ON a.b = b.b AND a.i < b.i GROUP BY 1, 2 HAVING COUNT(*) >= 2) "
        + "SELECT item_a, item_b, n_pair, ma.n AS n_a, mb.n AS n_b, "
        + "round(CAST(n_pair AS DOUBLE) / nb, 6) AS support, "
        + "round(CAST(n_pair AS DOUBLE) / ma.n, 6) AS confidence, "
        + "round(CAST(n_pair AS DOUBLE) * nb / (ma.n * mb.n), 6) AS lift "
        + "FROM pairs JOIN marg ma ON item_a = ma.i JOIN marg mb ON item_b = mb.i "
        + "CROSS JOIN tot ORDER BY n_pair DESC, item_a, item_b"),
    "q144_sessionize" ->
      // the same lag + prefix-sum labeling; tie orders can differ but
      // a zero gap never opens a session, so labels agree
      ("WITH e AS (SELECT user_id, epoch_ms(ts) AS ms FROM events), "
        + "t AS (SELECT user_id, ms, CASE WHEN lag(ms) OVER w IS NULL "
        + "OR ms - lag(ms) OVER w >= 1800000 THEN 1 ELSE 0 END AS nw "
        + "FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ms)), "
        + "s AS (SELECT user_id, ms, SUM(nw) OVER (PARTITION BY user_id ORDER BY ms "
        + "ROWS UNBOUNDED PRECEDING) AS si FROM t), "
        + "g AS (SELECT user_id, si, COUNT(*) AS n_events, MAX(ms) - MIN(ms) AS dur "
        + "FROM s GROUP BY 1, 2) "
        + "SELECT n_events, COUNT(*) AS n_sessions, "
        + "round(CAST(SUM(dur) AS DOUBLE) / COUNT(*) / 1000.0, 4) AS avg_duration_s "
        + "FROM g GROUP BY 1 ORDER BY 1"),
    "q145_rolling_anomaly" ->
      // strictly-prior 7-row baseline, exact integer/decimal window
      // sums, the same fixed-order double program for mean/var/z
      ("WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n "
        + "FROM events GROUP BY 1, 2), "
        + "r AS (SELECT event_type, day, n, COUNT(n) OVER w AS roll_n, "
        + "CAST(SUM(n) OVER w AS DOUBLE) AS s, "
        + "CAST(SUM(CAST(n AS DECIMAL(19,0)) * n) OVER w AS DOUBLE) AS ss "
        + "FROM d WINDOW w AS (PARTITION BY event_type ORDER BY day "
        + "ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)), "
        + "z AS (SELECT event_type, day, n, roll_n, "
        + "CASE WHEN roll_n >= 3 THEN round(s / roll_n, 4) END AS roll_mean, "
        + "CASE WHEN roll_n >= 3 AND ss / roll_n - (s / roll_n) * (s / roll_n) > 0 "
        + "THEN round((CAST(n AS DOUBLE) - s / roll_n) / "
        + "sqrt(ss / roll_n - (s / roll_n) * (s / roll_n)), 4) END AS z FROM r) "
        + "SELECT event_type, day, n, roll_n, roll_mean, z, "
        + "CASE WHEN abs(z) > 2.0 THEN TRUE ELSE FALSE END AS is_anomaly "
        + "FROM z ORDER BY event_type, day"),
    "q146_ab_test" ->
      // unit collapse, exact BIGINT arm counts, the pooled-rate z in
      // the operator's exact operand order
      ("WITH u AS (SELECT user_id, MAX(event_type = 'purchase') AS conv FROM events GROUP BY 1), "
        + "v AS (SELECT user_id % 2 = 1 AS variant, conv FROM u), "
        + "a AS (SELECT CAST(SUM(CASE WHEN NOT variant THEN 1 ELSE 0 END) AS BIGINT) AS n_a, "
        + "CAST(SUM(CASE WHEN variant THEN 1 ELSE 0 END) AS BIGINT) AS n_b, "
        + "CAST(SUM(CASE WHEN NOT variant AND conv THEN 1 ELSE 0 END) AS BIGINT) AS c_a, "
        + "CAST(SUM(CASE WHEN variant AND conv THEN 1 ELSE 0 END) AS BIGINT) AS c_b FROM v), "
        + "p AS (SELECT *, CAST(c_a AS DOUBLE) / n_a AS pa, CAST(c_b AS DOUBLE) / n_b AS pb, "
        + "CAST(c_a + c_b AS DOUBLE) / (n_a + n_b) AS pp FROM a), "
        + "q AS (SELECT *, sqrt(pp * (1.0 - pp) * (1.0 / n_a + 1.0 / n_b)) AS se FROM p) "
        + "SELECT n_a, n_b, c_a, c_b, round(pa, 6) AS p_a, round(pb, 6) AS p_b, "
        + "CASE WHEN n_a > 0 AND n_b > 0 AND se > 0 THEN round((pb - pa) / se, 4) END AS z "
        + "FROM q ORDER BY n_a"),
    "q147_entity_resolution" ->
      // q142's blocked pairs -> recursive-CTE transitive closure (the
      // q55 shape) -> per-cluster member list
      ("WITH RECURSIVE reps AS (SELECT p_name AS s, MIN(p_partkey) AS id FROM part GROUP BY 1), "
        + "g AS (SELECT id, s, CAST(ceil(length(s) / 3.0) AS INT) AS w, "
        + "CAST(unnest(range(0, 3)) AS INT) AS i FROM reps), "
        + "ch AS (SELECT id, s, i, substr(s, 1 + i * w, w) AS cv FROM g "
        + "WHERE substr(s, 1 + i * w, w) <> ''), "
        + "cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b "
        + "FROM ch a JOIN ch b ON a.i = b.i AND a.cv = b.cv AND a.id < b.id), "
        + "p AS (SELECT id_a, id_b FROM (SELECT id_a, id_b, "
        + "levenshtein(r1.s, r2.s) AS dist FROM cand "
        + "JOIN reps r1 ON id_a = r1.id JOIN reps r2 ON id_b = r2.id) t WHERE dist <= 2), "
        + "nodes AS (SELECT id_a AS id FROM p UNION SELECT id_b FROM p), "
        + "edges AS (SELECT id_a AS src, id_b AS dst FROM p UNION SELECT id_b, id_a FROM p), "
        + "reach(id, lbl) AS (SELECT id, id FROM nodes "
        + "UNION SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.id), "
        + "cl AS (SELECT id, MIN(lbl) AS cluster_id FROM reach GROUP BY id) "
        + "SELECT cluster_id, COUNT(*) AS n_members, "
        + "string_agg(s, '|' ORDER BY s) AS members "
        + "FROM cl JOIN reps USING (id) GROUP BY 1 ORDER BY 1"),
    "q148_pagerank" ->
      // three unrolled iterations: quantized shares (round 12), exact
      // DECIMAL(28,12) share sums, the same fixed-order double update
      ("WITH bi AS (SELECT DISTINCT l_orderkey AS b, p_brand AS i FROM lineitem "
        + "JOIN part ON l_partkey = p_partkey), "
        + "pr AS (SELECT DISTINCT a.i AS x, b.i AS y FROM bi a JOIN bi b ON a.b = b.b AND a.i < b.i), "
        + "e AS (SELECT x AS src, y AS dst FROM pr UNION SELECT y, x FROM pr), "
        + "deg AS (SELECT src, COUNT(*) AS d FROM e GROUP BY 1), "
        + "n AS (SELECT COUNT(*) AS nn FROM deg), "
        + "r0 AS (SELECT src AS id, round(1.0 / nn, 12) AS r FROM deg CROSS JOIN n), "
        + "c1 AS (SELECT e.dst AS id, SUM(CAST(round(r0.r / deg.d, 12) AS DECIMAL(28,12))) AS sc "
        + "FROM e JOIN r0 ON e.src = r0.id JOIN deg ON e.src = deg.src GROUP BY 1), "
        + "r1 AS (SELECT deg.src AS id, round(0.15 / nn + 0.85 * CAST(COALESCE(c1.sc, 0) AS DOUBLE), 12) AS r "
        + "FROM deg LEFT JOIN c1 ON deg.src = c1.id CROSS JOIN n), "
        + "c2 AS (SELECT e.dst AS id, SUM(CAST(round(r1.r / deg.d, 12) AS DECIMAL(28,12))) AS sc "
        + "FROM e JOIN r1 ON e.src = r1.id JOIN deg ON e.src = deg.src GROUP BY 1), "
        + "r2 AS (SELECT deg.src AS id, round(0.15 / nn + 0.85 * CAST(COALESCE(c2.sc, 0) AS DOUBLE), 12) AS r "
        + "FROM deg LEFT JOIN c2 ON deg.src = c2.id CROSS JOIN n), "
        + "c3 AS (SELECT e.dst AS id, SUM(CAST(round(r2.r / deg.d, 12) AS DECIMAL(28,12))) AS sc "
        + "FROM e JOIN r2 ON e.src = r2.id JOIN deg ON e.src = deg.src GROUP BY 1), "
        + "r3 AS (SELECT deg.src AS id, round(0.15 / nn + 0.85 * CAST(COALESCE(c3.sc, 0) AS DOUBLE), 12) AS r "
        + "FROM deg LEFT JOIN c3 ON deg.src = c3.id CROSS JOIN n) "
        + "SELECT r3.id AS brand, deg.d AS degree, round(r3.r, 6) AS pr "
        + "FROM r3 JOIN deg ON r3.id = deg.src ORDER BY pr DESC, brand"),
    "q149_subset_docs" ->
      // exact containment: min-shingle anchored candidates (the same
      // guaranteed generator), full-intersection residual
      ("WITH toks AS (SELECT doc_id, str_split(lower(trim(text)), ' ') AS w FROM documents), "
        + "sh AS (SELECT doc_id, list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] "
        + "for i in range(1, len(w) - 1)]) AS ts FROM toks WHERE len(w) >= 3), "
        + "s AS (SELECT doc_id, ts, len(ts) AS n FROM sh WHERE len(ts) > 0), "
        + "mins AS (SELECT doc_id, n, ts, list_aggregate(ts, 'min') AS m FROM s), "
        + "ex AS (SELECT doc_id, unnest(ts) AS t FROM s), "
        + "cand AS (SELECT a.doc_id AS ca, a.n AS na, a.ts AS ats, e.doc_id AS cb "
        + "FROM mins a JOIN ex e ON a.m = e.t AND a.doc_id <> e.doc_id) "
        + "SELECT ca AS contained_id, cb AS container_id, na AS n_contained, b.n AS n_container "
        + "FROM cand JOIN s b ON cb = b.doc_id "
        + "WHERE (na < b.n OR (na = b.n AND ca < cb)) "
        + "AND len(list_intersect(ats, b.ts)) = na "
        + "ORDER BY contained_id, container_id"),
    "q150_triangles" ->
      // canonical a<b edges, compact-forward 3-join, corner explode
      ("WITH bi AS (SELECT DISTINCT l_orderkey AS bb, p_brand AS i FROM lineitem "
        + "JOIN part ON l_partkey = p_partkey), "
        + "e AS (SELECT DISTINCT a.i AS a, b.i AS b FROM bi a JOIN bi b ON a.bb = b.bb AND a.i < b.i), "
        + "deg AS (SELECT id, COUNT(*) AS d FROM "
        + "(SELECT a AS id FROM e UNION ALL SELECT b FROM e) GROUP BY 1), "
        + "tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z FROM e e1 "
        + "JOIN e e2 ON e1.b = e2.a JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b), "
        + "pn AS (SELECT id, COUNT(*) AS t FROM (SELECT x AS id FROM tri "
        + "UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri) GROUP BY 1) "
        + "SELECT deg.id AS brand, deg.d AS degree, COALESCE(pn.t, 0) AS n_triangles, "
        + "CASE WHEN deg.d >= 2 THEN round(2.0 * COALESCE(pn.t, 0) / (deg.d * (deg.d - 1)), 6) END AS clustering "
        + "FROM deg LEFT JOIN pn USING (id) ORDER BY brand"),
    "q151_chi_square" ->
      // full margin grid (zero cells carry expected mass), 6-dp terms
      // summed in DECIMAL, the operator's exact operand order
      ("WITH cells AS (SELECT lang AS a, source AS b, COUNT(*) AS o FROM documents GROUP BY 1, 2), "
        + "rm AS (SELECT a, CAST(SUM(o) AS BIGINT) AS r FROM cells GROUP BY 1), "
        + "cm AS (SELECT b, CAST(SUM(o) AS BIGINT) AS c FROM cells GROUP BY 1), "
        + "tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM cells), "
        + "grid AS (SELECT rm.a, cm.b, rm.r, cm.c FROM rm CROSS JOIN cm), "
        + "t AS (SELECT g.a, g.b, n, round((CAST(COALESCE(cells.o, 0) AS DOUBLE) "
        + "- CAST(g.r AS DOUBLE) * g.c / n) * (CAST(COALESCE(cells.o, 0) AS DOUBLE) "
        + "- CAST(g.r AS DOUBLE) * g.c / n) / (CAST(g.r AS DOUBLE) * g.c / n), 6) AS term "
        + "FROM grid g LEFT JOIN cells ON g.a = cells.a AND g.b = cells.b CROSS JOIN tot) "
        + "SELECT COUNT(DISTINCT a) AS n_rows, COUNT(DISTINCT b) AS n_cols, "
        + "(COUNT(DISTINCT a) - 1) * (COUNT(DISTINCT b) - 1) AS dof, MAX(n) AS n, "
        + "round(CAST(SUM(CAST(term AS DECIMAL(28,6))) AS DOUBLE), 4) AS chi2 "
        + "FROM t ORDER BY n"),
    "q152_session_overlap" ->
      // q144's session CTEs -> expanded intervals -> the SAME bucketed
      // overlap program (covered-bucket explode, canonical-bucket
      // single emission) -> per-user concurrency roll-up
      ("WITH e AS (SELECT user_id, epoch_ms(ts) AS ms FROM events), "
        + "t AS (SELECT user_id, ms, CASE WHEN lag(ms) OVER w IS NULL "
        + "OR ms - lag(ms) OVER w >= 1800000 THEN 1 ELSE 0 END AS nw "
        + "FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ms)), "
        + "sx AS (SELECT user_id, ms, SUM(nw) OVER (PARTITION BY user_id ORDER BY ms "
        + "ROWS UNBOUNDED PRECEDING) AS si FROM t), "
        + "sess AS (SELECT user_id, si, MIN(ms) - 900000 AS s_ms, MAX(ms) + 900000 AS e_ms "
        + "FROM sx GROUP BY 1, 2), "
        + "lb AS (SELECT user_id AS u1, si AS x1, s_ms AS s1, e_ms AS e1, "
        + "unnest(range(CAST(floor(s_ms / 1800000.0) AS BIGINT), "
        + "CAST(floor(e_ms / 1800000.0) AS BIGINT) + 1)) AS bk FROM sess), "
        + "rb AS (SELECT user_id AS u2, s_ms AS s2, e_ms AS e2, "
        + "unnest(range(CAST(floor(s_ms / 1800000.0) AS BIGINT), "
        + "CAST(floor(e_ms / 1800000.0) AS BIGINT) + 1)) AS bk FROM sess), "
        + "ov AS (SELECT u1, x1, u2 FROM lb JOIN rb USING (bk) "
        + "WHERE s1 <= e2 AND s2 <= e1 "
        + "AND bk = CAST(floor(greatest(s1, s2) / 1800000.0) AS BIGINT) "
        + "AND u1 <> u2), "
        + "agg AS (SELECT u1, COUNT(DISTINCT x1) AS no, COUNT(DISTINCT u2) AS np "
        + "FROM ov GROUP BY 1), "
        + "base AS (SELECT user_id AS u1, COUNT(*) AS n_sessions FROM sess GROUP BY 1) "
        + "SELECT base.u1 AS user_id, n_sessions, COALESCE(no, 0) AS n_overlap_sessions, "
        + "COALESCE(np, 0) AS n_partners FROM base LEFT JOIN agg USING (u1) ORDER BY user_id"),
    "q153_key_skew" ->
      // the same compressed (col, key, count) relation, ascending-rank
      // Gini with an exact DECIMAL numerator, desc-rank top key
      ("WITH m AS (SELECT 'l_orderkey' AS col_name, CAST(l_orderkey AS VARCHAR) AS v FROM lineitem "
        + "UNION ALL SELECT 'l_partkey', CAST(l_partkey AS VARCHAR) FROM lineitem "
        + "UNION ALL SELECT 'l_suppkey', CAST(l_suppkey AS VARCHAR) FROM lineitem "
        + "UNION ALL SELECT 'l_returnflag', l_returnflag FROM lineitem), "
        + "c AS (SELECT col_name, v, COUNT(*) AS cnt FROM m WHERE v IS NOT NULL GROUP BY 1, 2), "
        + "s AS (SELECT col_name, COUNT(*) AS k, CAST(SUM(cnt) AS BIGINT) AS n FROM c GROUP BY 1), "
        + "r AS (SELECT c.col_name, c.v, c.cnt, s.k, s.n, "
        + "row_number() OVER (PARTITION BY c.col_name ORDER BY c.cnt, c.v) AS i, "
        + "row_number() OVER (PARTITION BY c.col_name ORDER BY c.cnt DESC, c.v DESC) AS j "
        + "FROM c JOIN s USING (col_name)), "
        + "g AS (SELECT col_name, MAX(n) AS n_rows, MAX(k) AS n_keys, MAX(cnt) AS max_key_rows, "
        + "SUM(CAST(2 * i - k - 1 AS DECIMAL(19,0)) * cnt) AS gn FROM r GROUP BY 1), "
        + "tk AS (SELECT col_name, v AS top_key FROM r WHERE j = 1) "
        + "SELECT g.col_name, n_rows, n_keys, max_key_rows, top_key, "
        + "round(CAST(max_key_rows AS DOUBLE) / n_rows, 6) AS top_share, "
        + "round(CAST(gn AS DOUBLE) / (CAST(n_keys AS DOUBLE) * n_rows), 6) AS gini "
        + "FROM g JOIN tk USING (col_name) ORDER BY col_name"),
    "q154_mad_outliers" ->
      // two quantile_cont passes (the q42 exactQuantiles pairing),
      // 6-dp-quantized deviations and MAD before the 3*MAD compare
      ("WITH med AS (SELECT l_returnflag, quantile_cont(l_extendedprice, 0.5) AS med "
        + "FROM lineitem GROUP BY 1), "
        + "d AS (SELECT l.l_returnflag, med.med, "
        + "round(abs(CAST(l_extendedprice AS DOUBLE) - med.med), 6) AS dev "
        + "FROM lineitem l JOIN med USING (l_returnflag)), "
        + "mad AS (SELECT l_returnflag, round(quantile_cont(dev, 0.5), 6) AS mad "
        + "FROM d GROUP BY 1) "
        + "SELECT d.l_returnflag, COUNT(*) AS n, round(MAX(d.med), 4) AS med, "
        + "round(MAX(mad.mad), 4) AS mad, "
        + "CAST(SUM(CASE WHEN dev > 3.0 * mad.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers "
        + "FROM d JOIN mad USING (l_returnflag) GROUP BY 1 ORDER BY 1"),
    "q186_trend_anomalies" ->
      // q167's pairwise-slope median, then residual median + MAD via
      // the quantile_cont pairing, strict 3*MAD flags on 6-dp operands
      ("WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n FROM events GROUP BY 1, 2), "
        + "v AS (SELECT event_type, date_diff('day', DATE '2024-01-01', day) AS x, n FROM d), "
        + "p AS (SELECT a.event_type, round(CAST(b.n - a.n AS DOUBLE) / (b.x - a.x), 6) AS slope "
        + "FROM v a JOIN v b ON a.event_type = b.event_type AND a.x < b.x), "
        + "sl AS (SELECT event_type, round(round(quantile_cont(slope, 0.5), 6), 6) AS ts_slope FROM p GROUP BY 1), "
        + "r AS (SELECT v.event_type, round(CAST(v.n AS DOUBLE) - sl.ts_slope * v.x, 6) AS rr FROM v JOIN sl USING (event_type)), "
        + "md AS (SELECT event_type, round(round(quantile_cont(rr, 0.5), 6), 6) AS intercept FROM r GROUP BY 1), "
        + "dv AS (SELECT r.event_type, round(abs(rr - intercept), 6) AS dd, intercept FROM r JOIN md USING (event_type)), "
        + "md2 AS (SELECT event_type, round(round(quantile_cont(dd, 0.5), 6), 6) AS mad FROM dv GROUP BY 1) "
        + "SELECT dv.event_type, COUNT(*) AS n_days, sl.ts_slope, "
        + "MIN(dv.intercept) AS intercept, MIN(md2.mad) AS mad, "
        + "CAST(SUM(CASE WHEN dd > round(3.0 * md2.mad, 6) THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies "
        + "FROM dv JOIN md2 USING (event_type) JOIN sl USING (event_type) "
        + "GROUP BY 1, 3 ORDER BY 1"),
    "q204_hill_tail" ->
      // top-(k+1) order statistics (tie order irrelevant to the ln
      // multiset), portable micro-nat lns, BIGINT excess sum, one
      // portable-rounded division
      ("WITH v AS (SELECT lang, CAST(n_chars AS BIGINT) AS v FROM documents "
        + "WHERE n_chars IS NOT NULL AND n_chars > 0), "
        + "r AS (SELECT lang, v, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY v DESC) AS rk FROM v), "
        + "t AS (SELECT lang, rk, CAST(floor(ln(CAST(v AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS lnv "
        + "FROM r WHERE rk <= 51), "
        + "kth AS (SELECT lang, lnv AS lnk FROM t WHERE rk = 51), "
        + "n AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n FROM v GROUP BY 1), "
        + "s AS (SELECT t.lang, CAST(SUM(lnv - lnk) AS BIGINT) AS excess "
        + "FROM t JOIN kth USING (lang) WHERE rk <= 50 GROUP BY 1) "
        + "SELECT n.lang, n.n, CASE WHEN excess IS NOT NULL AND excess > 0 THEN "
        + "CAST(floor(50.0 / (CAST(excess AS DOUBLE) / 1000000.0) * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 END AS alpha "
        + "FROM n LEFT JOIN s ON n.lang = s.lang ORDER BY n.lang"),
    "q203_isotonic" ->
      // q114's score/bin CTEs, then the minimax identity: interval
      // rationals from prefix sums, ordered by the integer 1e12 key
      // (12dp ties have equal 6dp outputs), arg_min/arg_max selection
      ("WITH t AS (SELECT doc_id, lang, unnest(str_split(lower(trim(text)), ' ')) AS tok "
        + "FROM documents), "
        + "h AS (SELECT doc_id, lang, list_reduce(list_prepend(CAST(0 AS BIGINT), "
        + "list_transform(range(1, length(tok) + 1), "
        + "i -> CAST(unicode(substr(tok, CAST(i AS INT), 1)) AS BIGINT))), "
        + "(a, b) -> (a * 31 + b) % 2147483647) AS th FROM t WHERE tok <> ''), "
        + "w AS (SELECT doc_id, lang, ((th % 64) * 2654435761) % 1000000007 % 2001 - 1000 AS wt FROM h), "
        + "d AS (SELECT doc_id, lang, COUNT(*) AS n_toks, SUM(wt) AS score FROM w GROUP BY 1, 2), "
        + "b AS (SELECT lang, CAST(floor(score / 2000.0) AS BIGINT) AS bin, "
        + "CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(CASE WHEN n_toks >= 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos "
        + "FROM d GROUP BY 1, 2), "
        + "pre AS (SELECT lang, bin, n, n_pos, "
        + "CAST(SUM(n) OVER (PARTITION BY lang ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cw, "
        + "CAST(SUM(n_pos) OVER (PARTITION BY lang ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cs FROM b), "
        + "pj AS (SELECT lang, bin AS j, cw - n AS wj0, cs - n_pos AS sj0 FROM pre), "
        + "pk AS (SELECT lang, bin AS k, cw AS wk, cs AS sk FROM pre), "
        + "pr AS (SELECT pj.lang, j, k, (sk - sj0) * 1000000000000 // (wk - wj0) AS q12, "
        + "CAST(floor(CAST(sk - sj0 AS DOUBLE) / CAST(wk - wj0 AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS v6 "
        + "FROM pj JOIN pk ON pj.lang = pk.lang AND j <= k), "
        + "s1 AS (SELECT pre.lang, pre.bin, pre.n, pre.n_pos, pr.j, MIN(q12) AS mq, arg_min(v6, q12) AS mv "
        + "FROM pre JOIN pr ON pre.lang = pr.lang AND pr.j <= pre.bin AND pr.k >= pre.bin "
        + "GROUP BY 1, 2, 3, 4, 5) "
        + "SELECT lang, bin, n, n_pos, arg_max(mv, mq) AS iso_rate "
        + "FROM s1 GROUP BY 1, 2, 3, 4 ORDER BY lang, bin"),
    "q202_bootstrap_ci" ->
      // the portable mid-square hash mod 1e6 against fixed Poisson
      // ppm thresholds, DECIMAL replicate means, per-mille rank cuts
      ("WITH u AS (SELECT user_id AS k, CAST(round(CAST(CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS DOUBLE), 6) AS DECIMAL(15,6)) AS y "
        + "FROM events GROUP BY 1), "
        + "g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS DOUBLE) AS sy FROM u), "
        + "r AS (SELECT k, y, unnest(range(1, 201)) AS b FROM u), "
        + "h AS (SELECT b, y, ((((k * 131 + b + 1) % 1000000007) * 2654435761) % 1000000007) AS a FROM r), "
        + "uu AS (SELECT b, y, ((a * a) >> 12) % 1000000 AS uval FROM h), "
        + "c AS (SELECT b, y, CASE WHEN uval < 367879 THEN 0 WHEN uval < 735759 THEN 1 "
        + "WHEN uval < 919699 THEN 2 WHEN uval < 981012 THEN 3 WHEN uval < 996340 THEN 4 "
        + "WHEN uval < 999406 THEN 5 WHEN uval < 999917 THEN 6 ELSE 7 END AS c FROM uu), "
        + "m AS (SELECT b, CAST(SUM(c) AS BIGINT) AS sc, SUM(CAST(CAST(c AS DECIMAL(12,0)) * y AS DECIMAL(38,6))) AS scy FROM c GROUP BY 1), "
        + "mm AS (SELECT b, CAST(floor(CAST(scy AS DOUBLE) / CAST(sc AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS m FROM m WHERE sc > 0), "
        + "rk AS (SELECT m, ROW_NUMBER() OVER (ORDER BY m, b) AS r, (SELECT COUNT(*) FROM mm) AS nb FROM mm) "
        + "SELECT n, CAST(floor(sy / CAST(n AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS mean_y, "
        + "MIN(CASE WHEN r * 1000 >= 25 * nb THEN m END) AS ci_lo, "
        + "MIN(CASE WHEN r * 1000 >= 975 * nb THEN m END) AS ci_hi, "
        + "CAST(MAX(nb) AS BIGINT) AS n_reps FROM rk CROSS JOIN g GROUP BY n, sy"),
    "q201_source_hhi" ->
      // vocab-bounded cell counts, the pure-integer ppm floor
      // division, one portable-rounded inverse-Simpson division
      ("WITH cells AS (SELECT lang, source, COUNT(*) AS c FROM documents "
        + "WHERE source IS NOT NULL GROUP BY 1, 2) "
        + "SELECT lang, CAST(SUM(c) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS n_cats, "
        + "CAST(SUM(c * c) AS BIGINT) * 1000000 // (CAST(SUM(c) AS BIGINT) * CAST(SUM(c) AS BIGINT)) AS hhi_ppm, "
        + "CAST(floor(CAST(CAST(SUM(c) AS BIGINT) * CAST(SUM(c) AS BIGINT) AS DOUBLE) / "
        + "CAST(CAST(SUM(c * c) AS BIGINT) AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS eff_cats "
        + "FROM cells GROUP BY 1 ORDER BY 1"),
    "q199_cuped" ->
      // per-user pre/post sums, one pooled moment row, theta and
      // the adjusted means as the engine's fixed-order double
      // program from group sums, portable-rounded
      ("WITH u AS (SELECT user_id, "
        + "CAST(SUM(CASE WHEN date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) < 15 THEN 1 ELSE 0 END) AS BIGINT) AS x, "
        + "CAST(SUM(CASE WHEN date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) >= 15 AND event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS y, "
        + "user_id % 2 = 1 AS variant FROM events GROUP BY 1), "
        + "q AS (SELECT variant, CAST(round(CAST(x AS DOUBLE), 6) AS DECIMAL(15,6)) AS x, "
        + "CAST(round(CAST(y AS DOUBLE), 6) AS DECIMAL(15,6)) AS y FROM u), "
        + "g AS (SELECT CAST(COUNT(*) AS BIGINT) AS gn, CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy, "
        + "CAST(SUM(CAST(CAST(x AS DECIMAL(19,6)) * CAST(x AS DECIMAL(19,6)) AS DECIMAL(38,12))) AS DOUBLE) AS sxx, "
        + "CAST(SUM(CAST(CAST(x AS DECIMAL(19,6)) * CAST(y AS DECIMAL(19,6)) AS DECIMAL(38,12))) AS DOUBLE) AS sxy FROM q), "
        + "v AS (SELECT variant, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS DOUBLE) AS vx, CAST(SUM(y) AS DOUBLE) AS vy FROM q GROUP BY 1), "
        + "f AS (SELECT variant, n, vx, vy, gn, sx, sy, sxx, sxy, "
        + "CAST(gn AS DOUBLE) * sxx - sx * sx AS vx0, "
        + "(CAST(gn AS DOUBLE) * sxy - sx * sy) / (CAST(gn AS DOUBLE) * sxx - sx * sx) AS theta FROM v CROSS JOIN g) "
        + "SELECT variant, n, "
        + "CAST(floor(vy / CAST(n AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS mean_y, "
        + "CASE WHEN vx0 > 0 THEN CAST(floor((vy / CAST(n AS DOUBLE) - theta * (vx / CAST(n AS DOUBLE) - sx / CAST(gn AS DOUBLE))) * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 END AS mean_y_adj, "
        + "CASE WHEN vx0 > 0 THEN CAST(floor(theta * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 END AS theta "
        + "FROM f ORDER BY variant"),
    "q200_sparse_cosine" ->
      // inverted-index join through df<=50 terms only, integer
      // micro-nat idf, BIGINT weights, DECIMAL(38,0) dots/norms,
      // one fixed-order cosine, (cosine desc, ids) top-20
      ("WITH tk AS (SELECT doc_id, unnest(list_filter(str_split(lower(trim(text)), ' '), t -> t <> '')) AS tok "
        + "FROM documents WHERE text IS NOT NULL), "
        + "tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM tk GROUP BY 1, 2), "
        + "nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents WHERE text IS NOT NULL), "
        + "dfr AS (SELECT tok, COUNT(*) AS df FROM tf CROSS JOIN nd GROUP BY 1, nd.n HAVING COUNT(*) <= greatest(2, nd.n * 60000 // 1000000)), "
        + "w AS (SELECT tok, doc_id, tf * CAST(floor(ln(CAST(n AS DOUBLE) / CAST(df AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS w "
        + "FROM tf JOIN dfr USING (tok) CROSS JOIN nd), "
        + "nrm AS (SELECT doc_id, CAST(SUM(CAST(CAST(w AS DECIMAL(19,0)) * CAST(w AS DECIMAL(19,0)) AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS nrm FROM w GROUP BY 1), "
        + "d AS (SELECT a.doc_id AS ia, b.doc_id AS ib, "
        + "CAST(SUM(CAST(CAST(a.w AS DECIMAL(19,0)) * CAST(b.w AS DECIMAL(19,0)) AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS dot "
        + "FROM w a JOIN w b ON a.tok = b.tok AND a.doc_id < b.doc_id GROUP BY 1, 2) "
        + "SELECT ia AS id_a, ib AS id_b, "
        + "round(CAST(dot AS DOUBLE) / (sqrt(CAST(na.nrm AS DOUBLE)) * sqrt(CAST(nb.nrm AS DOUBLE))), 6) AS cosine "
        + "FROM d JOIN nrm na ON d.ia = na.doc_id JOIN nrm nb ON d.ib = nb.doc_id "
        + "ORDER BY cosine DESC, id_a, id_b LIMIT 20"),
    "q197_ewma_chart" ->
      // 8 strictly-prior lags, exact dyadic integer coefficients
      // (denominator 4^7), portable-rounded forecast, spike decided
      // on exact decimals
      ("WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n FROM events GROUP BY 1, 2), "
        + "q AS (SELECT event_type, day, CAST(round(CAST(n AS DOUBLE), 6) AS DECIMAL(15,6)) AS x FROM daily), "
        + "l AS (SELECT event_type, day, x, lag(x, 1) OVER (PARTITION BY event_type ORDER BY day) AS x1, lag(x, 2) OVER (PARTITION BY event_type ORDER BY day) AS x2, lag(x, 3) OVER (PARTITION BY event_type ORDER BY day) AS x3, lag(x, 4) OVER (PARTITION BY event_type ORDER BY day) AS x4, lag(x, 5) OVER (PARTITION BY event_type ORDER BY day) AS x5, lag(x, 6) OVER (PARTITION BY event_type ORDER BY day) AS x6, lag(x, 7) OVER (PARTITION BY event_type ORDER BY day) AS x7, lag(x, 8) OVER (PARTITION BY event_type ORDER BY day) AS x8 FROM q), "
        + "s AS (SELECT event_type, day, x, CAST(CAST(x1 AS DECIMAL(19,6)) * 4096 + CAST(x2 AS DECIMAL(19,6)) * 3072 + CAST(x3 AS DECIMAL(19,6)) * 2304 + CAST(x4 AS DECIMAL(19,6)) * 1728 + CAST(x5 AS DECIMAL(19,6)) * 1296 + CAST(x6 AS DECIMAL(19,6)) * 972 + CAST(x7 AS DECIMAL(19,6)) * 729 + CAST(x8 AS DECIMAL(19,6)) * 2187 AS DECIMAL(32,6)) AS sn FROM l WHERE x8 IS NOT NULL) "
        + "SELECT event_type, day, CAST(x AS DOUBLE) AS value, "
        + "CAST(floor(CAST(sn AS DOUBLE) / 16384.0 * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS forecast, "
        + "abs(CAST(CAST(x AS DECIMAL(19,6)) * 16384 AS DECIMAL(32,6)) - sn) > "
        + "CAST(CAST(20.0 AS DECIMAL(15,6)) * 16384 AS DECIMAL(32,6)) AS spike "
        + "FROM s ORDER BY event_type, day"),
    "q198_weighted_quantiles" ->
      // per-(lang, value) weight histogram, prefix-sum walk, the
      // pure-integer 100*cum >= p*W cut
      ("WITH d AS (SELECT lang, n_chars AS v, "
        + "CAST(length(list_filter(str_split(lower(trim(text)), ' '), t -> t <> '')) AS BIGINT) AS w "
        + "FROM documents WHERE text IS NOT NULL AND n_chars IS NOT NULL), "
        + "h AS (SELECT lang, v, CAST(SUM(w) AS BIGINT) AS w FROM d WHERE w > 0 GROUP BY 1, 2), "
        + "c AS (SELECT lang, v, SUM(w) OVER (PARTITION BY lang ORDER BY v "
        + "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM h), "
        + "t AS (SELECT lang, CAST(SUM(w) AS BIGINT) AS tw FROM h GROUP BY 1) "
        + "SELECT c.lang, CAST(MIN(CASE WHEN cum * 100 >= tw * 50 THEN v END) AS DOUBLE) AS wp50, "
        + "CAST(MIN(CASE WHEN cum * 100 >= tw * 90 THEN v END) AS DOUBLE) AS wp90 "
        + "FROM c JOIN t USING (lang) GROUP BY 1 ORDER BY 1"),
    "q196_coreset" -> coresetOracle(8),
    "q194_cramers_v" -> (
      // the q151 exact chi-square program per pair, V as one
      // fixed-order sqrt over (chi2, n, min-1), portable-rounded
      Seq(("o_orderstatus", "o_orderpriority"),
          ("o_orderstatus", "o_year"),
          ("o_orderpriority", "o_year")).map { case (a, b) =>
        s"SELECT '$a' AS col_a, '$b' AS col_b, n, chi2, " +
          "CASE WHEN LEAST(n_rows, n_cols) > 1 AND n > 0 THEN " +
          "CAST(floor(sqrt(chi2 / (CAST(n AS DOUBLE) * CAST(LEAST(n_rows, n_cols) - 1 AS DOUBLE))) " +
          "* 1000000.0 + 0.5) AS BIGINT) / 1000000.0 END AS v FROM (" +
          s"WITH cells AS (SELECT $a AS a, $b AS b, COUNT(*) AS o FROM " +
          "(SELECT o_orderstatus, o_orderpriority, CAST(year(o_orderdate) AS BIGINT) AS o_year FROM orders) GROUP BY 1, 2), " +
          "rm AS (SELECT a, CAST(SUM(o) AS BIGINT) AS r FROM cells GROUP BY 1), " +
          "cm AS (SELECT b, CAST(SUM(o) AS BIGINT) AS c FROM cells GROUP BY 1), " +
          "tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM cells), " +
          "grid AS (SELECT rm.a, cm.b, rm.r, cm.c FROM rm CROSS JOIN cm), " +
          "t AS (SELECT g.a, g.b, n, round((CAST(COALESCE(cells.o, 0) AS DOUBLE) " +
          "- CAST(g.r AS DOUBLE) * g.c / n) * (CAST(COALESCE(cells.o, 0) AS DOUBLE) " +
          "- CAST(g.r AS DOUBLE) * g.c / n) / (CAST(g.r AS DOUBLE) * g.c / n), 6) AS term " +
          "FROM grid g LEFT JOIN cells ON g.a = cells.a AND g.b = cells.b CROSS JOIN tot) " +
          "SELECT COUNT(DISTINCT a) AS n_rows, COUNT(DISTINCT b) AS n_cols, MAX(n) AS n, " +
          "round(CAST(SUM(CAST(term AS DECIMAL(28,6))) AS DOUBLE), 4) AS chi2 FROM t)"
      }.mkString("", " UNION ALL ", " ORDER BY col_a, col_b")),
    "q195_lead_lag" ->
      // compact self-join on |dt| <= 3, each aligned pair in exactly
      // one lag bucket, the spearman moment program per (pair, lag)
      ("WITH daily AS (SELECT CAST(ts AS DATE) AS day, "
        + "CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS views, "
        + "CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS errors, "
        + "CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchases "
        + "FROM events GROUP BY 1), "
        + "d2 AS (SELECT date_diff('day', DATE '2024-01-01', day) AS t, views, errors, purchases FROM daily), "
        + "f AS (SELECT 'view->purchase' AS pair, t, CAST(round(CAST(views AS DOUBLE), 6) AS DECIMAL(15,6)) AS x, "
        + "CAST(round(CAST(purchases AS DOUBLE), 6) AS DECIMAL(15,6)) AS y FROM d2 "
        + "UNION ALL SELECT 'error->purchase', t, CAST(round(CAST(errors AS DOUBLE), 6) AS DECIMAL(15,6)), "
        + "CAST(round(CAST(purchases AS DOUBLE), 6) AS DECIMAL(15,6)) FROM d2), "
        + "p AS (SELECT l.pair, r.t - l.t AS lag, l.x, r.y FROM f l JOIN f r "
        + "ON l.pair = r.pair AND r.t - l.t BETWEEN -3 AND 3), "
        + "m AS (SELECT pair, lag, COUNT(*) AS n, CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy, "
        + "CAST(SUM(CAST(CAST(x AS DECIMAL(19,6)) * CAST(x AS DECIMAL(19,6)) AS DECIMAL(38,12))) AS DOUBLE) AS sxx, "
        + "CAST(SUM(CAST(CAST(y AS DECIMAL(19,6)) * CAST(y AS DECIMAL(19,6)) AS DECIMAL(38,12))) AS DOUBLE) AS syy, "
        + "CAST(SUM(CAST(CAST(x AS DECIMAL(19,6)) * CAST(y AS DECIMAL(19,6)) AS DECIMAL(38,12))) AS DOUBLE) AS sxy "
        + "FROM p GROUP BY 1, 2) "
        + "SELECT pair, lag, CAST(n AS BIGINT) AS n, "
        + "CASE WHEN CAST(n AS DOUBLE) * sxx - sx * sx > 0 AND CAST(n AS DOUBLE) * syy - sy * sy > 0 THEN "
        + "round((CAST(n AS DOUBLE) * sxy - sx * sy) / "
        + "(sqrt(CAST(n AS DOUBLE) * sxx - sx * sx) * sqrt(CAST(n AS DOUBLE) * syy - sy * sy)), 6) END AS r "
        + "FROM m ORDER BY pair, lag"),
    "q192_mutual_info" ->
      // one cell-grid pass, margins/total derived from the grid,
      // integer micro-nat lns (portable floor), BIGINT weighted sums,
      // one portable-rounded division per output
      ("WITH cells AS (SELECT lang AS a, source AS b, COUNT(*) AS c FROM documents "
        + "WHERE lang IS NOT NULL AND source IS NOT NULL GROUP BY 1, 2), "
        + "ma AS (SELECT a, CAST(SUM(c) AS BIGINT) AS ca FROM cells GROUP BY 1), "
        + "mb AS (SELECT b, CAST(SUM(c) AS BIGINT) AS cb FROM cells GROUP BY 1), "
        + "nr AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cells), "
        + "mi AS (SELECT CAST(SUM(c * CAST(floor(ln((CAST(c AS DOUBLE) * CAST(n AS DOUBLE)) / "
        + "(CAST(ca AS DOUBLE) * CAST(cb AS DOUBLE))) * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS smi "
        + "FROM cells JOIN ma USING (a) JOIN mb USING (b) CROSS JOIN nr), "
        + "ha AS (SELECT CAST(SUM(ca * CAST(floor(ln(CAST(n AS DOUBLE) / CAST(ca AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS sha "
        + "FROM ma CROSS JOIN nr), "
        + "hb AS (SELECT CAST(SUM(cb * CAST(floor(ln(CAST(n AS DOUBLE) / CAST(cb AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS shb "
        + "FROM mb CROSS JOIN nr) "
        + "SELECT n, "
        + "CAST(CAST(floor(CAST(smi AS DOUBLE) / CAST(n AS DOUBLE) + 0.5) AS BIGINT) AS DOUBLE) / 1000000.0 AS mi, "
        + "CAST(CAST(floor(CAST(sha AS DOUBLE) / CAST(n AS DOUBLE) + 0.5) AS BIGINT) AS DOUBLE) / 1000000.0 AS h_a, "
        + "CAST(CAST(floor(CAST(shb AS DOUBLE) / CAST(n AS DOUBLE) + 0.5) AS BIGINT) AS DOUBLE) / 1000000.0 AS h_b "
        + "FROM nr CROSS JOIN mi CROSS JOIN ha CROSS JOIN hb"),
    "q193_assortativity" ->
      // exact BIGINT degrees over the purchase edge list, DECIMAL
      // moment sums, the spearman fixed-order correlation program
      ("WITH e AS (SELECT o_custkey AS s, l_suppkey AS d FROM lineitem "
        + "JOIN orders ON l_orderkey = o_orderkey), "
        + "ds AS (SELECT s, COUNT(*) AS ks FROM e GROUP BY 1), "
        + "dd AS (SELECT d, COUNT(*) AS kd FROM e GROUP BY 1), "
        + "m AS (SELECT COUNT(*) AS n_edges, CAST(SUM(ks) AS DECIMAL(38,0)) AS sx, "
        + "CAST(SUM(kd) AS DECIMAL(38,0)) AS sy, CAST(SUM(ks * ks) AS DECIMAL(38,0)) AS sxx, "
        + "CAST(SUM(kd * kd) AS DECIMAL(38,0)) AS syy, CAST(SUM(ks * kd) AS DECIMAL(38,0)) AS sxy "
        + "FROM e JOIN ds USING (s) JOIN dd USING (d)) "
        + "SELECT CAST(n_edges AS BIGINT) AS n_edges, "
        + "CASE WHEN CAST(n_edges AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0 "
        + "AND CAST(n_edges AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0 THEN "
        + "round((CAST(n_edges AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / "
        + "(sqrt(CAST(n_edges AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) * "
        + "sqrt(CAST(n_edges AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) END AS assortativity "
        + "FROM m"),
    "q187_mann_whitney" ->
      // integer double-ranks over the per-value histogram, BIGINT
      // 2U, the tie-corrected variance as ONE DECIMAL(38,0) ratio,
      // continuity-corrected z on the doubled scale
      ("WITH d AS (SELECT source, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS ia, n_chars AS v "
        + "FROM documents WHERE n_chars IS NOT NULL), "
        + "h AS (SELECT source, v, COUNT(*) AS t, CAST(SUM(ia) AS BIGINT) AS ca FROM d GROUP BY 1, 2), "
        + "r AS (SELECT source, t, ca, 2 * COALESCE(SUM(t) OVER (PARTITION BY source ORDER BY v "
        + "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + t + 1 AS r2 FROM h), "
        + "m AS (SELECT source, CAST(SUM(ca) AS BIGINT) AS n_a, CAST(SUM(t - ca) AS BIGINT) AS n_b, "
        + "CAST(SUM(ca * r2) AS BIGINT) AS ra2, CAST(SUM(t * t * t - t) AS BIGINT) AS ties FROM r GROUP BY 1), "
        + "x AS (SELECT source, n_a, n_b, ra2 - n_a * (n_a + 1) AS u2, "
        + "ra2 - n_a * (n_a + 1) - n_a * n_b AS num2, "
        + "CASE WHEN n_a + n_b > 1 THEN CAST(CAST(n_a * n_b AS DECIMAL(18,0)) * "
        + "CAST(CAST((n_a + n_b + 1) * (n_a + n_b) * (n_a + n_b - 1) AS DECIMAL(19,0)) - CAST(ties AS DECIMAL(19,0)) AS DECIMAL(19,0)) AS DOUBLE) / "
        + "CAST(12 * (n_a + n_b) * (n_a + n_b - 1) AS DOUBLE) END AS vard FROM m) "
        + "SELECT source, n_a, n_b, CAST(u2 AS DOUBLE) / 2.0 AS u_a, "
        + "CASE WHEN n_a > 0 AND n_b > 0 AND vard > 0 THEN "
        + "round(CAST(num2 - (CASE WHEN num2 > 0 THEN 1 WHEN num2 < 0 THEN -1 ELSE 0 END) AS DOUBLE) / "
        + "(2.0 * sqrt(vard)), 6) END AS z FROM x ORDER BY source"),
    "q188_kendall_tau" ->
      // deterministic row indices over (x, y), each unordered pair
      // classified once by exact-decimal sign comparisons, pure-BIGINT
      // C/D/tie counts, one fixed-order tau-b program
      ("WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS nv, "
        + "SUM(CAST(value AS DECIMAL(18,6))) AS sv FROM events GROUP BY 1, 2), "
        + "i AS (SELECT event_type, nv, sv, ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY nv, sv) AS ii FROM daily), "
        + "p AS (SELECT l.event_type, sign(r.nv - l.nv) AS sx, sign(r.sv - l.sv) AS sy "
        + "FROM i l JOIN i r ON l.event_type = r.event_type AND l.ii < r.ii), "
        + "m AS (SELECT event_type, CAST(SUM(CASE WHEN sx * sy > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_c, "
        + "CAST(SUM(CASE WHEN sx * sy < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_d, "
        + "CAST(SUM(CASE WHEN sx = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tx, "
        + "CAST(SUM(CASE WHEN sy = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ty, COUNT(*) AS n0 FROM p GROUP BY 1), "
        + "c AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM i GROUP BY 1) "
        + "SELECT c.event_type, n, n_c, n_d, CASE WHEN n0 - tx > 0 AND n0 - ty > 0 THEN "
        + "round(CAST(n_c - n_d AS DOUBLE) / (sqrt(CAST(n0 - tx AS DOUBLE)) * sqrt(CAST(n0 - ty AS DOUBLE))), 6) END AS tau_b "
        + "FROM c JOIN m USING (event_type) ORDER BY 1"),
    "q189_cusum_shift" ->
      // Page's statistic via the window identity: integer-n-scale
      // deviations, exact prefix sum / running extrema, breach flags
      // on exact decimals, portable-rounded reported statistics
      ("WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n FROM events GROUP BY 1, 2), "
        + "t AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS nn, "
        + "SUM(CAST(round(CAST(n AS DOUBLE), 6) AS DECIMAL(15,6))) AS sv FROM daily GROUP BY 1), "
        + "d AS (SELECT daily.event_type, day, nn, CAST(CAST(nn AS DECIMAL(12,0)) * "
        + "CAST(round(CAST(n AS DOUBLE), 6) AS DECIMAL(15,6)) - sv AS DECIMAL(28,6)) AS dev "
        + "FROM daily JOIN t USING (event_type)), "
        + "w AS (SELECT event_type, day, nn, SUM(dev) OVER (PARTITION BY event_type ORDER BY day "
        + "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc FROM d), "
        + "w2 AS (SELECT event_type, day, nn, cc, "
        + "MIN(cc) OVER (PARTITION BY event_type ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cmin, "
        + "MAX(cc) OVER (PARTITION BY event_type ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cmax FROM w) "
        + "SELECT event_type, day, "
        + "CAST(floor(CAST(cc - least(cmin, 0) AS DOUBLE) / CAST(nn AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS s_plus, "
        + "CAST(floor(CAST(greatest(cmax, 0) - cc AS DOUBLE) / CAST(nn AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS s_minus, "
        + "(cc - least(cmin, 0)) > CAST(25.0 AS DECIMAL(15,6)) * CAST(nn AS DECIMAL(12,0)) AS shift_up, "
        + "(greatest(cmax, 0) - cc) > CAST(25.0 AS DECIMAL(15,6)) * CAST(nn AS DECIMAL(12,0)) AS shift_down "
        + "FROM w2 ORDER BY event_type, day"),
    "q190_ols2" ->
      // DECIMAL(15,6)-quantized daily matrix, nine exact moment sums,
      // Cramer's rule on the centered Gram matrix as the engine's
      // fixed-order double program operand-for-operand
      ("WITH daily AS (SELECT o_orderpriority AS priority, CAST(o_orderdate AS DATE) AS day, "
        + "COUNT(*) AS n_orders, date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS t_day, "
        + "SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS rev FROM orders GROUP BY 1, 2, 4), "
        + "q AS (SELECT priority, CAST(round(CAST(n_orders AS DOUBLE), 6) AS DECIMAL(15,6)) AS x1, "
        + "CAST(round(CAST(t_day AS DOUBLE), 6) AS DECIMAL(15,6)) AS x2, "
        + "CAST(round(CAST(rev AS DOUBLE), 6) AS DECIMAL(15,6)) AS y FROM daily), "
        + "m AS (SELECT priority, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x1) AS DOUBLE) AS s1, "
        + "CAST(SUM(x2) AS DOUBLE) AS s2, CAST(SUM(y) AS DOUBLE) AS sy, "
        + "CAST(SUM(CAST(CAST(x1 AS DECIMAL(19,6)) * CAST(x1 AS DECIMAL(19,6)) AS DECIMAL(38,12))) AS DOUBLE) AS s11, "
        + "CAST(SUM(CAST(CAST(x2 AS DECIMAL(19,6)) * CAST(x2 AS DECIMAL(19,6)) AS DECIMAL(38,12))) AS DOUBLE) AS s22, "
        + "CAST(SUM(CAST(CAST(x1 AS DECIMAL(19,6)) * CAST(x2 AS DECIMAL(19,6)) AS DECIMAL(38,12))) AS DOUBLE) AS s12, "
        + "CAST(SUM(CAST(CAST(x1 AS DECIMAL(19,6)) * CAST(y AS DECIMAL(19,6)) AS DECIMAL(38,12))) AS DOUBLE) AS s1y, "
        + "CAST(SUM(CAST(CAST(x2 AS DECIMAL(19,6)) * CAST(y AS DECIMAL(19,6)) AS DECIMAL(38,12))) AS DOUBLE) AS s2y, "
        + "CAST(SUM(CAST(CAST(y AS DECIMAL(19,6)) * CAST(y AS DECIMAL(19,6)) AS DECIMAL(38,12))) AS DOUBLE) AS syy FROM q GROUP BY 1), "
        + "f AS (SELECT priority, n, s1, s2, sy, "
        + "CAST(n AS DOUBLE) * s11 - s1 * s1 AS m11, CAST(n AS DOUBLE) * s22 - s2 * s2 AS m22, "
        + "CAST(n AS DOUBLE) * s12 - s1 * s2 AS m12, CAST(n AS DOUBLE) * s1y - s1 * sy AS m1y, "
        + "CAST(n AS DOUBLE) * s2y - s2 * sy AS m2y, CAST(n AS DOUBLE) * syy - sy * sy AS myy FROM m), "
        + "g AS (SELECT priority, n, s1, s2, sy, m11, m22, m12, m1y, m2y, myy, "
        + "m11 * m22 - m12 * m12 AS det FROM f) "
        + "SELECT priority, n, "
        + "CASE WHEN det > 0 THEN CAST(floor(((sy - ((m22 * m1y - m12 * m2y) / det) * s1) - "
        + "((m11 * m2y - m12 * m1y) / det) * s2) / CAST(n AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 END AS b0, "
        + "CASE WHEN det > 0 THEN CAST(floor((m22 * m1y - m12 * m2y) / det * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 END AS b1, "
        + "CASE WHEN det > 0 THEN CAST(floor((m11 * m2y - m12 * m1y) / det * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 END AS b2, "
        + "CASE WHEN det > 0 AND myy > 0 THEN CAST(floor((((m22 * m1y - m12 * m2y) / det) * m1y + "
        + "((m11 * m2y - m12 * m1y) / det) * m2y) / myy * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 END AS r2 "
        + "FROM g ORDER BY priority"),
    "q191_readability" ->
      // integer word/sentence/vowel-group counts, the portable-rounded
      // Flesch program, exact DECIMAL score sums, band counts decided
      // on the identical rounded doubles
      ("WITH d AS (SELECT lang, text, list_filter(str_split(lower(trim(text)), ' '), t -> t <> '') AS w "
        + "FROM documents WHERE text IS NOT NULL), "
        + "p AS (SELECT lang, CAST(len(w) AS BIGINT) AS nw, "
        + "CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT) AS ns, "
        + "CAST(list_sum(list_transform(w, x -> greatest(len(regexp_extract_all(x, '[aeiouy]+')), 1))) AS BIGINT) AS syl "
        + "FROM d WHERE len(w) > 0), "
        + "f AS (SELECT lang, CAST(floor((206.835 - 1.015 * (CAST(nw AS DOUBLE) / CAST(ns AS DOUBLE)) - "
        + "84.6 * (CAST(syl AS DOUBLE) / CAST(nw AS DOUBLE))) * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS fl FROM p) "
        + "SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs, "
        + "CAST(floor(CAST(SUM(CAST(fl AS DECIMAL(18,6))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS mean_flesch, "
        + "CAST(SUM(CASE WHEN fl >= 60.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_easy, "
        + "CAST(SUM(CASE WHEN fl < 30.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_hard "
        + "FROM f GROUP BY 1 ORDER BY 1"),
    "q185_pmi_collocations" ->
      // in-row bigram assembly via list comprehension, vocab counts,
      // the exact integer ratio and 6-dp ln, (pmi desc, bigram) top-20
      ("WITH tk AS (SELECT list_filter(str_split(lower(trim(text)), ' '), t -> t <> '') AS w FROM documents), "
        + "u AS (SELECT unnest(w) AS tok FROM tk), "
        + "uc AS (SELECT tok, COUNT(*) AS cu FROM u GROUP BY 1), "
        + "nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM u), "
        + "bl AS (SELECT unnest([w[i] || ' ' || w[i + 1] FOR i IN range(1, len(w))]) AS bigram FROM tk WHERE len(w) >= 2), "
        + "bc AS (SELECT bigram, COUNT(*) AS np FROM bl GROUP BY 1 HAVING COUNT(*) >= 5), "
        + "nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM bl), "
        + "sc AS (SELECT bigram, np, "
        + "round(ln(CAST(CAST(np AS DECIMAL(38,0)) * nt.n * nt.n AS DOUBLE) / "
        + "CAST(CAST(nb.n AS DECIMAL(38,0)) * cx.cu * cy.cu AS DOUBLE)), 6) AS pmi "
        + "FROM bc JOIN uc cx ON str_split(bc.bigram, ' ')[1] = cx.tok "
        + "JOIN uc cy ON str_split(bc.bigram, ' ')[2] = cy.tok "
        + "CROSS JOIN nt CROSS JOIN nb) "
        + "SELECT bigram, np AS n_pair, pmi FROM sc ORDER BY pmi DESC, bigram LIMIT 20"),
    "q184_cms_tokens" ->
      // merge == rescan (weights add), so the oracle sketches the
      // union: the portable token-hash program, the four mid-square
      // grid positions, cell sums, min-over-rows estimates
      ("WITH t AS (SELECT unnest(str_split(lower(trim(text)), ' ')) AS tok FROM documents), "
        + "v AS (SELECT tok, COUNT(*) AS n FROM t WHERE tok <> '' GROUP BY 1), "
        + "h AS (SELECT tok, n, list_reduce(list_prepend(CAST(0 AS BIGINT), "
        + "list_transform(range(1, length(tok) + 1), i -> CAST(unicode(substr(tok, CAST(i AS INT), 1)) AS BIGINT))), "
        + "(a, b) -> (a * 31 + b) % 2147483647) AS k FROM v), "
        + "ps AS (SELECT tok, n, "
        + "((((k + 1) * 2654435761) % 1000000007) * (((k + 1) * 2654435761) % 1000000007) >> 8) % 1024 AS p0, "
        + "((((k + 13) * 1540483477) % 1000000007) * (((k + 13) * 1540483477) % 1000000007) >> 8) % 1024 AS p1, "
        + "((((k + 29) * 2246822519) % 1000000007) * (((k + 29) * 2246822519) % 1000000007) >> 8) % 1024 AS p2, "
        + "((((k + 47) * 3266489917) % 1000000007) * (((k + 47) * 3266489917) % 1000000007) >> 8) % 1024 AS p3 FROM h), "
        + "g0 AS (SELECT p0 AS pos, CAST(SUM(n) AS BIGINT) AS c FROM ps GROUP BY 1), "
        + "g1 AS (SELECT p1 AS pos, CAST(SUM(n) AS BIGINT) AS c FROM ps GROUP BY 1), "
        + "g2 AS (SELECT p2 AS pos, CAST(SUM(n) AS BIGINT) AS c FROM ps GROUP BY 1), "
        + "g3 AS (SELECT p3 AS pos, CAST(SUM(n) AS BIGINT) AS c FROM ps GROUP BY 1), "
        + "top AS (SELECT tok, n, p0, p1, p2, p3, ROW_NUMBER() OVER (ORDER BY n DESC, tok) AS rk FROM ps) "
        + "SELECT top.tok, top.n AS exact_n, "
        + "least(g0.c, g1.c, g2.c, g3.c) AS cms_n, "
        + "least(g0.c, g1.c, g2.c, g3.c) - top.n AS over_n "
        + "FROM top JOIN g0 ON top.p0 = g0.pos JOIN g1 ON top.p1 = g1.pos "
        + "JOIN g2 ON top.p2 = g2.pos JOIN g3 ON top.p3 = g3.pos "
        + "WHERE rk <= 20 ORDER BY exact_n DESC, tok"),
    "q182_common_paths" ->
      // the same consecutive lead windows and deterministic top-10
      ("WITH s AS (SELECT user_id, event_type, lead(event_type, 1) OVER w AS t1, "
        + "lead(event_type, 2) OVER w AS t2 FROM events "
        + "WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), "
        + "p AS (SELECT event_type || '>' || t1 || '>' || t2 AS path FROM s "
        + "WHERE t1 IS NOT NULL AND t2 IS NOT NULL), "
        + "c AS (SELECT path, COUNT(*) AS n FROM p GROUP BY 1), "
        + "rk AS (SELECT path, n, ROW_NUMBER() OVER (ORDER BY n DESC, path) AS rank FROM c) "
        + "SELECT path, n, CAST(rank AS INT) AS rank FROM rk WHERE rank <= 10 ORDER BY rank"),
    "q183_rfm" ->
      // per-user RFM, quantile_cont cuts (the exactQuantiles pairing),
      // 6-dp-quantized strict > compares, inverted recency
      ("WITH mx AS (SELECT MAX(CAST(ts AS DATE)) AS maxd FROM events), "
        + "u AS (SELECT user_id, date_diff('day', MAX(CAST(ts AS DATE)), (SELECT maxd FROM mx)) AS r, "
        + "COUNT(*) AS f, round(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6) AS m "
        + "FROM events GROUP BY user_id), "
        + "c AS (SELECT quantile_cont(CAST(r AS DOUBLE), 0.2) AS r0, quantile_cont(CAST(r AS DOUBLE), 0.4) AS r1, "
        + "quantile_cont(CAST(r AS DOUBLE), 0.6) AS r2, quantile_cont(CAST(r AS DOUBLE), 0.8) AS r3, "
        + "quantile_cont(CAST(f AS DOUBLE), 0.2) AS f0, quantile_cont(CAST(f AS DOUBLE), 0.4) AS f1, "
        + "quantile_cont(CAST(f AS DOUBLE), 0.6) AS f2, quantile_cont(CAST(f AS DOUBLE), 0.8) AS f3, "
        + "quantile_cont(m, 0.2) AS m0, quantile_cont(m, 0.4) AS m1, "
        + "quantile_cont(m, 0.6) AS m2, quantile_cont(m, 0.8) AS m3 FROM u), "
        + "b AS (SELECT CAST(6 - (1 "
        + "+ (CASE WHEN round(CAST(r AS DOUBLE), 6) > round(r0, 6) THEN 1 ELSE 0 END) "
        + "+ (CASE WHEN round(CAST(r AS DOUBLE), 6) > round(r1, 6) THEN 1 ELSE 0 END) "
        + "+ (CASE WHEN round(CAST(r AS DOUBLE), 6) > round(r2, 6) THEN 1 ELSE 0 END) "
        + "+ (CASE WHEN round(CAST(r AS DOUBLE), 6) > round(r3, 6) THEN 1 ELSE 0 END)) AS INT) AS r_bucket, "
        + "CAST(1 + (CASE WHEN round(CAST(f AS DOUBLE), 6) > round(f0, 6) THEN 1 ELSE 0 END) "
        + "+ (CASE WHEN round(CAST(f AS DOUBLE), 6) > round(f1, 6) THEN 1 ELSE 0 END) "
        + "+ (CASE WHEN round(CAST(f AS DOUBLE), 6) > round(f2, 6) THEN 1 ELSE 0 END) "
        + "+ (CASE WHEN round(CAST(f AS DOUBLE), 6) > round(f3, 6) THEN 1 ELSE 0 END) AS INT) AS f_bucket, "
        + "CAST(1 + (CASE WHEN round(m, 6) > round(m0, 6) THEN 1 ELSE 0 END) "
        + "+ (CASE WHEN round(m, 6) > round(m1, 6) THEN 1 ELSE 0 END) "
        + "+ (CASE WHEN round(m, 6) > round(m2, 6) THEN 1 ELSE 0 END) "
        + "+ (CASE WHEN round(m, 6) > round(m3, 6) THEN 1 ELSE 0 END) AS INT) AS m_bucket "
        + "FROM u CROSS JOIN c) "
        + "SELECT r_bucket, f_bucket, m_bucket, COUNT(*) AS n_users "
        + "FROM b GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"),
    "q180_benford" ->
      // pure-integer digit extraction (x100 scale, decimal-length
      // division), integer ppm, the same rounded log10 constants
      ("WITH m AS (SELECT CAST(round(CAST(l_extendedprice AS DOUBLE) * 100) AS BIGINT) AS m FROM lineitem), "
        + "d AS (SELECT CAST(floor(m / power(10, length(CAST(m AS VARCHAR)) - 1)) AS INT) AS digit FROM m WHERE m > 0), "
        + "c AS (SELECT digit, COUNT(*) AS n FROM d GROUP BY 1), "
        + "t AS (SELECT CAST(SUM(n) AS BIGINT) AS tot FROM c), "
        + "g AS (SELECT unnest(range(1, 10)) AS digit) "
        + "SELECT CAST(g.digit AS INT) AS digit, COALESCE(c.n, 0) AS n, "
        + "CAST(floor(CAST(COALESCE(c.n, 0) * 1000000 AS DOUBLE) / tot) AS BIGINT) AS obs_ppm, "
        + "CAST(round(log10(1.0 + 1.0 / g.digit) * 1000000.0) AS BIGINT) AS exp_ppm, "
        + "abs(CAST(floor(CAST(COALESCE(c.n, 0) * 1000000 AS DOUBLE) / tot) AS BIGINT) - "
        + "CAST(round(log10(1.0 + 1.0 / g.digit) * 1000000.0) AS BIGINT)) AS dev_ppm "
        + "FROM g LEFT JOIN c ON g.digit = c.digit CROSS JOIN t ORDER BY digit"),
    "q181_autocorrelation" ->
      // z = n*y - S keeps numerator/denominator pure integers; one
      // portable-rounded division per lag
      ("WITH dd AS (SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS y FROM events GROUP BY 1, 2), "
        + "v AS (SELECT event_type, date_diff('day', DATE '2024-01-01', day) AS x, y FROM dd), "
        + "st AS (SELECT event_type, COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS s FROM v GROUP BY 1), "
        + "z AS (SELECT v.event_type, v.x, CAST(st.n * v.y - st.s AS BIGINT) AS z FROM v JOIN st USING (event_type)), "
        + "den AS (SELECT event_type, CAST(SUM(CAST(z * z AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS d FROM z GROUP BY 1), "
        + "k AS (SELECT unnest(range(1, 8)) AS lag_k), "
        + "pr AS (SELECT a.event_type, k.lag_k, a.z AS za, b.z AS zb FROM z a CROSS JOIN k "
        + "JOIN z b ON a.event_type = b.event_type AND b.x = a.x + k.lag_k), "
        + "nm AS (SELECT event_type, CAST(lag_k AS INT) AS lag_k, COUNT(*) AS n_pairs, "
        + "CAST(SUM(CAST(za * zb AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS num FROM pr GROUP BY 1, 2) "
        + "SELECT nm.event_type, lag_k, n_pairs, "
        + "CASE WHEN CAST(den.d AS DOUBLE) > 0 THEN "
        + "CAST(floor(CAST(num AS DOUBLE) / CAST(den.d AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 END AS acf "
        + "FROM nm JOIN den USING (event_type) ORDER BY event_type, lag_k"),
    "q179_markov_stationary" ->
      // q155's lag-chain counts, explicit self-loops for absorbing
      // states, then five unrolled power-iteration rounds with the
      // engine's round-12 share / DECIMAL-sum programs
      ("WITH t0 AS (SELECT user_id, event_type, lag(event_type) OVER "
        + "(PARTITION BY user_id ORDER BY ts, event_id) AS f FROM events), "
        + "m AS (SELECT f AS ff, event_type AS tt, CAST(COUNT(*) AS BIGINT) AS n FROM t0 WHERE f IS NOT NULL GROUP BY 1, 2), "
        + "st AS (SELECT DISTINCT ff AS id FROM m UNION SELECT DISTINCT tt FROM m), "
        + "ab AS (SELECT id FROM st WHERE id NOT IN (SELECT ff FROM m)), "
        + "tr AS (SELECT ff, tt, n FROM m UNION ALL SELECT id, id, 1 FROM ab), "
        + "ow AS (SELECT ff, CAST(SUM(n) AS BIGINT) AS outw FROM tr GROUP BY 1), "
        + "nn AS (SELECT COUNT(*) AS c FROM st), "
        + "p0 AS (SELECT id, round(1.0 / c, 12) AS p FROM st CROSS JOIN nn), "
        + "c1 AS (SELECT tr.tt AS id, SUM(CAST(round(p0.p * tr.n / ow.outw, 12) AS DECIMAL(28,12))) AS s FROM tr JOIN p0 ON tr.ff = p0.id JOIN ow ON tr.ff = ow.ff GROUP BY 1), "
        + "p1 AS (SELECT st.id, round(COALESCE(CAST(c1.s AS DOUBLE), 0.0), 12) AS p FROM st LEFT JOIN c1 ON st.id = c1.id), "
        + "c2 AS (SELECT tr.tt AS id, SUM(CAST(round(p1.p * tr.n / ow.outw, 12) AS DECIMAL(28,12))) AS s FROM tr JOIN p1 ON tr.ff = p1.id JOIN ow ON tr.ff = ow.ff GROUP BY 1), "
        + "p2 AS (SELECT st.id, round(COALESCE(CAST(c2.s AS DOUBLE), 0.0), 12) AS p FROM st LEFT JOIN c2 ON st.id = c2.id), "
        + "c3 AS (SELECT tr.tt AS id, SUM(CAST(round(p2.p * tr.n / ow.outw, 12) AS DECIMAL(28,12))) AS s FROM tr JOIN p2 ON tr.ff = p2.id JOIN ow ON tr.ff = ow.ff GROUP BY 1), "
        + "p3 AS (SELECT st.id, round(COALESCE(CAST(c3.s AS DOUBLE), 0.0), 12) AS p FROM st LEFT JOIN c3 ON st.id = c3.id), "
        + "c4 AS (SELECT tr.tt AS id, SUM(CAST(round(p3.p * tr.n / ow.outw, 12) AS DECIMAL(28,12))) AS s FROM tr JOIN p3 ON tr.ff = p3.id JOIN ow ON tr.ff = ow.ff GROUP BY 1), "
        + "p4 AS (SELECT st.id, round(COALESCE(CAST(c4.s AS DOUBLE), 0.0), 12) AS p FROM st LEFT JOIN c4 ON st.id = c4.id), "
        + "c5 AS (SELECT tr.tt AS id, SUM(CAST(round(p4.p * tr.n / ow.outw, 12) AS DECIMAL(28,12))) AS s FROM tr JOIN p4 ON tr.ff = p4.id JOIN ow ON tr.ff = ow.ff GROUP BY 1), "
        + "p5 AS (SELECT st.id, round(COALESCE(CAST(c5.s AS DOUBLE), 0.0), 12) AS p FROM st LEFT JOIN c5 ON st.id = c5.id) "
        + "SELECT p5.id AS state, round(p5.p, 6) AS stationary FROM p5 ORDER BY state"),
    "q155_transition_matrix" ->
      // the same (ts, event_id)-total-ordered lag chain and
      // row-normalized matrix
      ("WITH t AS (SELECT user_id, event_type, lag(event_type) OVER "
        + "(PARTITION BY user_id ORDER BY ts, event_id) AS f FROM events), "
        + "m AS (SELECT f AS from_type, event_type AS to_type, COUNT(*) AS n "
        + "FROM t WHERE f IS NOT NULL GROUP BY 1, 2) "
        + "SELECT from_type, to_type, n, "
        + "round(CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY from_type), 6) AS p "
        + "FROM m ORDER BY from_type, to_type"),
    "q156_engagement" ->
      // exact DAU/WAU via the same covered-day fan-out
      ("WITH a AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events), "
        + "dau AS (SELECT d AS day, COUNT(*) AS dau FROM a GROUP BY 1), "
        + "cov AS (SELECT user_id, CAST(unnest(range(CAST(d AS TIMESTAMP), "
        + "CAST(d AS TIMESTAMP) + INTERVAL 7 DAY, INTERVAL 1 DAY)) AS DATE) AS day FROM a), "
        + "wau AS (SELECT day, COUNT(DISTINCT user_id) AS wau FROM cov GROUP BY 1) "
        + "SELECT dau.day, dau.dau, wau.wau, "
        + "round(CAST(dau.dau AS DOUBLE) / wau.wau, 6) AS stickiness "
        + "FROM dau JOIN wau USING (day) ORDER BY day"),
    "q157_decile_lift" ->
      // the q112 scored-doc CTEs + nine quantile_cont cuts
      // (ties to the lower decile) + per-decile exact counts
      (scoredDocCtes
        + ", v AS (SELECT d.doc_id, d.score, doc.n_chars >= 400 AS pos "
        + "FROM d JOIN documents doc USING (doc_id)), "
        + "cuts AS (SELECT " + (1 to 9).map(i =>
          s"quantile_cont(CAST(score AS DOUBLE), 0.$i) AS c$i").mkString(", ")
        + " FROM v), "
        + "tot AS (SELECT COUNT(*) AS nn, CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS np FROM v), "
        + "b AS (SELECT " + (1 to 9).map(i =>
          s"CASE WHEN CAST(score AS DOUBLE) > c$i THEN 1 ELSE 0 END").mkString(" + ")
        + " + 1 AS decile, pos FROM v CROSS JOIN cuts) "
        + "SELECT decile, COUNT(*) AS n, "
        + "CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos, "
        + "round(CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS rate, "
        + "round(CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) "
        + "/ (CAST(np AS DOUBLE) / nn), 6) AS lift "
        + "FROM b CROSS JOIN tot GROUP BY decile, np, nn ORDER BY decile"),
    "q158_ks_test" ->
      // the same scored docs, the q102 split hash, integer-exact
      // cross-multiplied cumulative gaps
      (scoredDocCtes
        + ", v AS (SELECT doc_id, score, (doc_id * 2654435761) % 1000000007 < 100000001 AS ho FROM d), "
        + "g AS (SELECT CAST(score AS DOUBLE) AS s, "
        + "CAST(SUM(CASE WHEN ho THEN 1 ELSE 0 END) AS BIGINT) AS ca, "
        + "CAST(SUM(CASE WHEN ho THEN 0 ELSE 1 END) AS BIGINT) AS cb FROM v GROUP BY 1), "
        + "c AS (SELECT s, SUM(ca) OVER (ORDER BY s ROWS UNBOUNDED PRECEDING) AS cuma, "
        + "SUM(cb) OVER (ORDER BY s ROWS UNBOUNDED PRECEDING) AS cumb, "
        + "SUM(ca) OVER () AS na, SUM(cb) OVER () AS nb FROM g), "
        + "c2 AS (SELECT s, na, nb, abs(CAST(cuma AS DECIMAL(19,0)) * nb "
        + "- CAST(cumb AS DECIMAL(19,0)) * na) AS gap FROM c), "
        + "pick AS (SELECT s AS d_at FROM (SELECT s, row_number() OVER "
        + "(ORDER BY gap DESC, s DESC) AS rn FROM c2) WHERE rn = 1) "
        + "SELECT CAST(MAX(na) AS BIGINT) AS n_a, CAST(MAX(nb) AS BIGINT) AS n_b, "
        + "round(CAST(MAX(gap) AS DOUBLE) / (CAST(MAX(na) AS DOUBLE) * MAX(nb)), 6) AS d, "
        + "MAX(pick.d_at) AS d_at FROM c2 CROSS JOIN pick ORDER BY n_a"),
    "q159_pagerank_weighted" ->
      // q148's unrolled iterations with weighted shares r*w/W_src
      ("WITH bi AS (SELECT DISTINCT l_orderkey AS b, p_brand AS i FROM lineitem "
        + "JOIN part ON l_partkey = p_partkey), "
        + "pr AS (SELECT a.i AS x, b.i AS y, COUNT(*) AS w FROM bi a JOIN bi b "
        + "ON a.b = b.b AND a.i < b.i GROUP BY 1, 2), "
        + "e AS (SELECT x AS src, y AS dst, w FROM pr UNION ALL SELECT y, x, w FROM pr), "
        + "deg AS (SELECT src, CAST(SUM(w) AS BIGINT) AS d FROM e GROUP BY 1), "
        + "n AS (SELECT COUNT(*) AS nn FROM deg), "
        + "r0 AS (SELECT src AS id, round(1.0 / nn, 12) AS r FROM deg CROSS JOIN n), "
        + "c1 AS (SELECT e.dst AS id, SUM(CAST(round(r0.r * e.w / deg.d, 12) AS DECIMAL(28,12))) AS sc "
        + "FROM e JOIN r0 ON e.src = r0.id JOIN deg ON e.src = deg.src GROUP BY 1), "
        + "r1 AS (SELECT deg.src AS id, round(0.15 / nn + 0.85 * CAST(COALESCE(c1.sc, 0) AS DOUBLE), 12) AS r "
        + "FROM deg LEFT JOIN c1 ON deg.src = c1.id CROSS JOIN n), "
        + "c2 AS (SELECT e.dst AS id, SUM(CAST(round(r1.r * e.w / deg.d, 12) AS DECIMAL(28,12))) AS sc "
        + "FROM e JOIN r1 ON e.src = r1.id JOIN deg ON e.src = deg.src GROUP BY 1), "
        + "r2 AS (SELECT deg.src AS id, round(0.15 / nn + 0.85 * CAST(COALESCE(c2.sc, 0) AS DOUBLE), 12) AS r "
        + "FROM deg LEFT JOIN c2 ON deg.src = c2.id CROSS JOIN n), "
        + "c3 AS (SELECT e.dst AS id, SUM(CAST(round(r2.r * e.w / deg.d, 12) AS DECIMAL(28,12))) AS sc "
        + "FROM e JOIN r2 ON e.src = r2.id JOIN deg ON e.src = deg.src GROUP BY 1), "
        + "r3 AS (SELECT deg.src AS id, round(0.15 / nn + 0.85 * CAST(COALESCE(c3.sc, 0) AS DOUBLE), 12) AS r "
        + "FROM deg LEFT JOIN c3 ON deg.src = c3.id CROSS JOIN n) "
        + "SELECT r3.id AS brand, deg.d AS out_weight, round(r3.r, 6) AS pr "
        + "FROM r3 JOIN deg ON r3.id = deg.src ORDER BY pr DESC, brand"),
    "q160_percentile_rank" ->
      // the same all-integer average-rank percentile per (lang, score)
      // histogram cell, joined back and rolled up per language
      (scoredDocCtes
        + ", v AS (SELECT d.doc_id, d.lang, d.score, doc.n_chars FROM d "
        + "JOIN documents doc USING (doc_id)), "
        + "hist AS (SELECT lang, score, COUNT(*) AS c FROM v GROUP BY 1, 2), "
        + "cum AS (SELECT lang, score, c, "
        + "COALESCE(SUM(c) OVER (PARTITION BY lang ORDER BY score "
        + "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below, "
        + "SUM(c) OVER (PARTITION BY lang) AS ntot FROM hist), "
        + "pct AS (SELECT lang, score, "
        + "round(CAST(below * 2 + c + 1 AS DOUBLE) / (ntot * 2), 6) AS pct FROM cum) "
        + "SELECT v.lang, COUNT(*) AS n, "
        + "CAST(SUM(CASE WHEN n_chars >= 400 THEN 1 ELSE 0 END) AS BIGINT) AS n_long, "
        + "round(CAST(SUM(CAST(CASE WHEN n_chars >= 400 THEN pct ELSE 0.0 END AS DECIMAL(16,6))) AS DOUBLE) "
        + "/ SUM(CASE WHEN n_chars >= 400 THEN 1 ELSE 0 END), 6) AS avg_pct_long "
        + "FROM v JOIN pct USING (lang, score) GROUP BY 1 ORDER BY 1"),
    "q164_growth_curve" ->
      ("WITH f AS (SELECT user_id, MIN(CAST(ts AS DATE)) AS day FROM events GROUP BY 1), "
        + "d AS (SELECT day, COUNT(*) AS n_new FROM f GROUP BY 1) "
        + "SELECT day, n_new, CAST(SUM(n_new) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_total "
        + "FROM d ORDER BY day"),
    "q165_vocab_growth" ->
      // id-quantile slices (ties to the lower slice), first-occurrence
      // new-type counts, exact cumulative windows
      ("WITH tk AS (SELECT doc_id, unnest(list_filter(str_split(lower(trim(text)), ' '), t -> t <> '')) AS t FROM documents), "
        + "cuts AS (SELECT quantile_cont(CAST(doc_id AS DOUBLE), 0.1) AS c1, quantile_cont(CAST(doc_id AS DOUBLE), 0.2) AS c2, quantile_cont(CAST(doc_id AS DOUBLE), 0.3) AS c3, quantile_cont(CAST(doc_id AS DOUBLE), 0.4) AS c4, quantile_cont(CAST(doc_id AS DOUBLE), 0.5) AS c5, quantile_cont(CAST(doc_id AS DOUBLE), 0.6) AS c6, quantile_cont(CAST(doc_id AS DOUBLE), 0.7) AS c7, quantile_cont(CAST(doc_id AS DOUBLE), 0.8) AS c8, quantile_cont(CAST(doc_id AS DOUBLE), 0.9) AS c9 FROM documents), "
        + "fo AS (SELECT t, MIN(doc_id) AS fd FROM tk GROUP BY 1), "
        + "fb AS (SELECT CASE WHEN CAST(fd AS DOUBLE) > c1 THEN 1 ELSE 0 END + CASE WHEN CAST(fd AS DOUBLE) > c2 THEN 1 ELSE 0 END + CASE WHEN CAST(fd AS DOUBLE) > c3 THEN 1 ELSE 0 END + CASE WHEN CAST(fd AS DOUBLE) > c4 THEN 1 ELSE 0 END + CASE WHEN CAST(fd AS DOUBLE) > c5 THEN 1 ELSE 0 END + CASE WHEN CAST(fd AS DOUBLE) > c6 THEN 1 ELSE 0 END + CASE WHEN CAST(fd AS DOUBLE) > c7 THEN 1 ELSE 0 END + CASE WHEN CAST(fd AS DOUBLE) > c8 THEN 1 ELSE 0 END + CASE WHEN CAST(fd AS DOUBLE) > c9 THEN 1 ELSE 0 END + 1 AS bucket, COUNT(*) AS new_types FROM fo CROSS JOIN cuts GROUP BY 1), "
        + "dt AS (SELECT doc_id, len(list_filter(str_split(lower(trim(text)), ' '), x -> x <> '')) AS ntok FROM documents), "
        + "pb AS (SELECT CASE WHEN CAST(doc_id AS DOUBLE) > c1 THEN 1 ELSE 0 END + CASE WHEN CAST(doc_id AS DOUBLE) > c2 THEN 1 ELSE 0 END + CASE WHEN CAST(doc_id AS DOUBLE) > c3 THEN 1 ELSE 0 END + CASE WHEN CAST(doc_id AS DOUBLE) > c4 THEN 1 ELSE 0 END + CASE WHEN CAST(doc_id AS DOUBLE) > c5 THEN 1 ELSE 0 END + CASE WHEN CAST(doc_id AS DOUBLE) > c6 THEN 1 ELSE 0 END + CASE WHEN CAST(doc_id AS DOUBLE) > c7 THEN 1 ELSE 0 END + CASE WHEN CAST(doc_id AS DOUBLE) > c8 THEN 1 ELSE 0 END + CASE WHEN CAST(doc_id AS DOUBLE) > c9 THEN 1 ELSE 0 END + 1 AS bucket, COUNT(*) AS n_docs, CAST(SUM(ntok) AS BIGINT) AS n_tokens FROM dt CROSS JOIN cuts GROUP BY 1) "
        + "SELECT pb.bucket, n_docs, n_tokens, CAST(COALESCE(new_types, 0) AS BIGINT) AS new_types, "
        + "CAST(SUM(n_tokens) OVER (ORDER BY pb.bucket ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens, "
        + "CAST(SUM(COALESCE(new_types, 0)) OVER (ORDER BY pb.bucket ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_types "
        + "FROM pb LEFT JOIN fb USING (bucket) ORDER BY bucket"),
    "q166_also_bought" ->
      // q143's affinity CTEs made directional, desc-(lift, n_pair)
      // row_number top-3 with the partner tie-break
      ("WITH bi AS (SELECT DISTINCT l_orderkey AS b, p_brand AS i FROM lineitem "
        + "JOIN part ON l_partkey = p_partkey), "
        + "marg AS (SELECT i, COUNT(*) AS n FROM bi GROUP BY 1), "
        + "tot AS (SELECT COUNT(DISTINCT b) AS nb FROM bi), "
        + "pairs AS (SELECT a.i AS item_a, b.i AS item_b, COUNT(*) AS n_pair "
        + "FROM bi a JOIN bi b ON a.b = b.b AND a.i < b.i GROUP BY 1, 2 HAVING COUNT(*) >= 2), "
        + "aff AS (SELECT item_a, item_b, n_pair, "
        + "round(CAST(n_pair AS DOUBLE) * nb / (ma.n * mb.n), 6) AS lift "
        + "FROM pairs JOIN marg ma ON item_a = ma.i JOIN marg mb ON item_b = mb.i CROSS JOIN tot), "
        + "dir AS (SELECT item_a AS brand, item_b AS partner, n_pair, lift FROM aff "
        + "UNION ALL SELECT item_b, item_a, n_pair, lift FROM aff), "
        + "rk AS (SELECT *, row_number() OVER (PARTITION BY brand "
        + "ORDER BY lift DESC, n_pair DESC, partner) AS rank FROM dir) "
        + "SELECT brand, partner, n_pair, lift, CAST(rank AS INT) AS rank FROM rk "
        + "WHERE rank <= 3 ORDER BY brand, rank"),
    "q167_theil_sen" ->
      // pairwise 6-dp slopes over the daily matrix, quantile_cont
      // median (the exactQuantiles pairing), re-rounded to 6
      ("WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n FROM events GROUP BY 1, 2), "
        + "v AS (SELECT event_type, date_diff('day', DATE '2024-01-01', day) AS x, n FROM d), "
        + "p AS (SELECT a.event_type, round(CAST(b.n - a.n AS DOUBLE) / (b.x - a.x), 6) AS slope "
        + "FROM v a JOIN v b ON a.event_type = b.event_type AND a.x < b.x) "
        + "SELECT event_type, round(round(quantile_cont(slope, 0.5), 6), 6) AS ts_slope "
        + "FROM p GROUP BY 1 ORDER BY 1"),
    "q168_mann_kendall" ->
      // integer S + tie-corrected 18*Var(S); z replays the engine's
      // fixed-order double program operand-for-operand
      ("WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n FROM events GROUP BY 1, 2), "
        + "v AS (SELECT event_type, date_diff('day', DATE '2024-01-01', day) AS x, n AS y FROM d), "
        + "s AS (SELECT a.event_type, CAST(SUM(CASE WHEN b.y > a.y THEN 1 WHEN b.y < a.y THEN -1 ELSE 0 END) AS BIGINT) AS s_stat "
        + "FROM v a JOIN v b ON a.event_type = b.event_type AND a.x < b.x GROUP BY 1), "
        + "nn AS (SELECT event_type, COUNT(*) AS n FROM v GROUP BY 1), "
        + "tt AS (SELECT event_type, CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tsum "
        + "FROM (SELECT event_type, y, COUNT(*) AS t FROM v GROUP BY 1, 2) GROUP BY 1), "
        + "j AS (SELECT nn.event_type, nn.n, s.s_stat, "
        + "nn.n * (nn.n - 1) * (2 * nn.n + 5) - tt.tsum AS var18 "
        + "FROM nn JOIN s USING (event_type) JOIN tt USING (event_type)) "
        + "SELECT event_type, CAST(n AS BIGINT) AS n, s_stat, CAST(var18 AS BIGINT) AS var18, "
        + "CASE WHEN var18 > 0 THEN round(CASE WHEN s_stat > 0 THEN (s_stat - 1) / sqrt(var18 / 18.0) "
        + "WHEN s_stat < 0 THEN (s_stat + 1) / sqrt(var18 / 18.0) ELSE 0.0 END, 6) END AS z "
        + "FROM j ORDER BY event_type"),
    "q169_seasonal_dow" ->
      // full centered 7-windows only; exact BIGINT detrend numerators
      // (7y - sum7); per-phase mean and centering replay the engine's
      // fixed-order double programs
      ("WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n FROM events GROUP BY 1, 2), "
        + "v AS (SELECT event_type, date_diff('day', DATE '2024-01-01', day) AS x, n AS y FROM d), "
        + "wnd AS (SELECT event_type, x, y, SUM(y) OVER w AS sump, COUNT(*) OVER w AS cnt, "
        + "MAX(x) OVER w - MIN(x) OVER w AS span FROM v "
        + "WINDOW w AS (PARTITION BY event_type ORDER BY x ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)), "
        + "f AS (SELECT event_type, x % 7 AS phase, 7 * y - sump AS num FROM wnd WHERE cnt = 7 AND span = 6), "
        + "pp AS (SELECT event_type, phase, CAST(SUM(num) AS BIGINT) AS numsum, COUNT(*) AS n_win FROM f GROUP BY 1, 2), "
        + "sr AS (SELECT event_type, phase, n_win, "
        + "CAST(round(CAST(numsum AS DOUBLE) / (7.0 * n_win), 6) AS DECIMAL(28,6)) AS sraw FROM pp), "
        + "c AS (SELECT *, CAST(SUM(sraw) OVER (PARTITION BY event_type) AS DOUBLE) / "
        + "CAST(COUNT(*) OVER (PARTITION BY event_type) AS DOUBLE) AS center FROM sr) "
        + "SELECT event_type, CAST(phase AS INT) AS phase, CAST(n_win AS BIGINT) AS n_win, "
        + "round(CAST(sraw AS DOUBLE) - center, 6) AS seasonal_idx "
        + "FROM c ORDER BY event_type, phase"),
    "q170_hll_incremental" ->
      // merge == rescan by construction (SketchSpec pins it), so the
      // oracle sketches the union: portable modular hashes, bin()
      // bit-length rho, exact BIGINT harmonic sum, the engine's
      // fixed-order estimator programs
      ("WITH e AS (SELECT event_type, user_id FROM events WHERE user_id IS NOT NULL), "
        + "h AS (SELECT event_type, "
        + "((((user_id + 1) * 2654435761) % 1000000007) * (((user_id + 1) * 2654435761) % 1000000007) >> 12) % 512 AS reg, "
        + "((((user_id + 13) * 1540483477) % 1000000007) * (((user_id + 13) * 1540483477) % 1000000007) >> 6) % 1073741824 AS h2 FROM e), "
        + "r AS (SELECT event_type, reg, "
        + "MAX(CASE WHEN h2 = 0 THEN 31 ELSE 31 - length(bin(h2)) END) AS rho "
        + "FROM h GROUP BY 1, 2), "
        + "g AS (SELECT event_type, COUNT(*) AS nz, "
        + "CAST(SUM(CAST((1::BIGINT << 32) / power(2.0, rho) AS BIGINT)) AS BIGINT) AS spart "
        + "FROM r GROUP BY 1), "
        + "s AS (SELECT event_type, nz, spart + (512 - nz) * (1::BIGINT << 32) AS hs FROM g), "
        + "est AS (SELECT event_type, "
        + "CASE WHEN (512 - nz) > 0 AND 0.7213 / (1.0 + 1.079 / 512.0) * 1125899906842624.0 / CAST(hs AS DOUBLE) <= 1280.0 "
        + "THEN 512.0 * round(ln(512.0 / (512 - nz)), 6) "
        + "ELSE 0.7213 / (1.0 + 1.079 / 512.0) * 1125899906842624.0 / CAST(hs AS DOUBLE) END AS raw FROM s), "
        + "x AS (SELECT event_type, COUNT(DISTINCT user_id) AS exact_distinct FROM e GROUP BY 1) "
        + "SELECT est.event_type, round(raw, 1) AS est_distinct, CAST(exact_distinct AS BIGINT) AS exact_distinct "
        + "FROM est JOIN x USING (event_type) ORDER BY event_type"),
    "q178_kaplan_meier" ->
      // per-user durations, duration histogram, exact risk sets, the
      // engine's 6-dp ln factors / DECIMAL running sum / portable
      // exp rounding, zero-survival masking
      ("WITH u AS (SELECT user_id, MIN(ts) AS t0, "
        + "MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS tp, MAX(ts) AS tmax "
        + "FROM events GROUP BY 1), "
        + "d AS (SELECT CASE WHEN tp IS NOT NULL THEN date_diff('day', CAST(t0 AS DATE), CAST(tp AS DATE)) "
        + "ELSE date_diff('day', CAST(t0 AS DATE), CAST(tmax AS DATE)) END AS t, "
        + "CASE WHEN tp IS NOT NULL THEN 1 ELSE 0 END AS ev FROM u), "
        + "h AS (SELECT t, CAST(SUM(ev) AS BIGINT) AS d_events, CAST(SUM(1 - ev) AS BIGINT) AS n_censored FROM d GROUP BY 1), "
        + "r AS (SELECT *, SUM(d_events + n_censored) OVER () AS total, "
        + "COALESCE(SUM(d_events + n_censored) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef FROM h), "
        + "r2 AS (SELECT t, d_events, n_censored, CAST(total - bef AS BIGINT) AS n_risk FROM r), "
        + "l AS (SELECT *, "
        + "CAST(CASE WHEN d_events > 0 AND n_risk > d_events THEN "
        + "round(ln(CAST(n_risk - d_events AS DOUBLE) / n_risk), 6) ELSE 0 END AS DECIMAL(28,6)) AS lnt, "
        + "MAX(CASE WHEN d_events > 0 AND n_risk = d_events THEN 1 ELSE 0 END) "
        + "OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS z FROM r2), "
        + "l2 AS (SELECT *, SUM(lnt) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lnsum FROM l) "
        + "SELECT t, n_risk, d_events, n_censored, "
        + "CASE WHEN z = 0 THEN CAST(lnsum AS DOUBLE) END AS ln_surv, "
        + "CASE WHEN z = 0 THEN CAST(floor(exp(CAST(lnsum AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 ELSE 0.0 END AS surv "
        + "FROM l2 WHERE d_events > 0 ORDER BY t"),
    "q177_attribution" ->
      // the same (ts, event_id)-ordered IGNORE NULLS windows and
      // side-by-side model counts
      ("WITH a AS (SELECT event_type, "
        + "first_value(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS) "
        + "OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ft, "
        + "last_value(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS) "
        + "OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lt "
        + "FROM events), "
        + "p AS (SELECT COALESCE(ft, '(none)') AS ft, COALESCE(lt, '(none)') AS lt FROM a WHERE event_type = 'purchase'), "
        + "f AS (SELECT ft AS touch_type, COUNT(*) AS first_touch_convs FROM p GROUP BY 1), "
        + "l AS (SELECT lt AS touch_type, COUNT(*) AS last_touch_convs FROM p GROUP BY 1) "
        + "SELECT COALESCE(f.touch_type, l.touch_type) AS touch_type, "
        + "COALESCE(first_touch_convs, 0) AS first_touch_convs, "
        + "COALESCE(last_touch_convs, 0) AS last_touch_convs "
        + "FROM f FULL OUTER JOIN l ON f.touch_type = l.touch_type ORDER BY 1"),
    "q176_zipf_fit" ->
      // deterministic (freq desc, token) ranks, 6-dp lns, then q163's
      // quantized DECIMAL moments and fixed-order OLS program
      ("WITH t AS (SELECT lang, unnest(str_split(lower(trim(text)), ' ')) AS tok FROM documents), "
        + "fr AS (SELECT lang, tok, COUNT(*) AS f FROM t WHERE tok <> '' GROUP BY 1, 2), "
        + "rk AS (SELECT lang, tok, f, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY f DESC, tok) AS r FROM fr), "
        + "v AS (SELECT lang, CAST(round(ln(CAST(r AS DOUBLE)), 6) AS DECIMAL(15,6)) AS x, "
        + "CAST(round(ln(CAST(f AS DOUBLE)), 6) AS DECIMAL(15,6)) AS y FROM rk WHERE r <= 200), "
        + "m AS (SELECT lang, COUNT(*) AS n, CAST(SUM(x) AS DOUBLE) AS sx, "
        + "CAST(SUM(y) AS DOUBLE) AS sy, "
        + "CAST(SUM(CAST(x * x AS DECIMAL(38,12))) AS DOUBLE) AS sxx, "
        + "CAST(SUM(CAST(y * y AS DECIMAL(38,12))) AS DOUBLE) AS syy, "
        + "CAST(SUM(CAST(x * y AS DECIMAL(38,12))) AS DOUBLE) AS sxy FROM v GROUP BY 1) "
        + "SELECT lang, n, "
        + "CASE WHEN CAST(n AS DOUBLE) * sxx - sx * sx > 0 THEN "
        + "CAST(floor((CAST(n AS DOUBLE) * sxy - sx * sy) / (CAST(n AS DOUBLE) * sxx - sx * sx) * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 END AS slope, "
        + "CASE WHEN CAST(n AS DOUBLE) * sxx - sx * sx > 0 AND CAST(n AS DOUBLE) * syy - sy * sy > 0 THEN "
        + "CAST(floor((CAST(n AS DOUBLE) * sxy - sx * sy) * (CAST(n AS DOUBLE) * sxy - sx * sy) / "
        + "((CAST(n AS DOUBLE) * sxx - sx * sx) * (CAST(n AS DOUBLE) * syy - sy * sy)) * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 END AS r2 "
        + "FROM m ORDER BY lang"),
    "q175_psi_drift" ->
      // union-sketch replay: per-source and corpus log-hist buckets,
      // add-one-smoothed rationals, the engine's 6-dp ln / 9-dp term
      // programs operand-for-operand
      ("WITH d AS (SELECT source, n_chars AS v FROM documents WHERE n_chars IS NOT NULL AND n_chars >= 0), "
        + "k AS (SELECT source, CASE WHEN v = 0 THEN 0 ELSE length(bin(v)) END AS b, "
        + "CASE WHEN v = 0 THEN 0 ELSE (v * 8) // CAST(power(2, length(bin(v))) AS BIGINT) END AS q FROM d), "
        + "sa AS (SELECT source, b, q, COUNT(*) AS na FROM k GROUP BY 1, 2, 3), "
        + "sr AS (SELECT b, q, COUNT(*) AS nr FROM k GROUP BY 1, 2), "
        + "grid AS (SELECT g.source, r.b, r.q, r.nr FROM (SELECT DISTINCT source FROM sa) g CROSS JOIN sr r), "
        + "j AS (SELECT COALESCE(grid.source, sa.source) AS source, "
        + "COALESCE(sa.na, 0) AS na, COALESCE(grid.nr, 0) AS nr "
        + "FROM grid FULL OUTER JOIN sa ON grid.source = sa.source AND grid.b = sa.b AND grid.q = sa.q), "
        + "t AS (SELECT source, na, nr, SUM(na) OVER (PARTITION BY source) AS ta, "
        + "SUM(nr) OVER (PARTITION BY source) AS tr, COUNT(*) OVER (PARTITION BY source) AS bk FROM j), "
        + "terms AS (SELECT source, bk, "
        + "CAST(round((CAST(na + 1 AS DOUBLE) / (ta + bk) - CAST(nr + 1 AS DOUBLE) / (tr + bk)) * "
        + "round(ln((CAST(na + 1 AS DOUBLE) / (ta + bk)) / (CAST(nr + 1 AS DOUBLE) / (tr + bk))), 6), 9) AS DECIMAL(28,9)) AS term FROM t) "
        + "SELECT source, CAST(MAX(bk) AS BIGINT) AS n_buckets, "
        + "round(CAST(SUM(term) AS DOUBLE), 6) AS psi FROM terms GROUP BY 1 ORDER BY 1"),
    "q173_spearman" ->
      // integer double-ranks (2*below + count + 1) from per-value
      // histograms; exact moment sums; the engine's fixed-order
      // correlation program operand-for-operand
      ("WITH d AS (SELECT lang, n_chars, "
        + "CAST(length(list_filter(str_split(lower(trim(text)), ' '), t -> t <> '')) AS BIGINT) AS n_toks "
        + "FROM documents WHERE n_chars IS NOT NULL AND text IS NOT NULL), "
        + "hx AS (SELECT lang, n_chars AS v, COUNT(*) AS c FROM d GROUP BY 1, 2), "
        + "rx AS (SELECT lang, v, 2 * COALESCE(SUM(c) OVER (PARTITION BY lang ORDER BY v "
        + "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + c + 1 AS r2 FROM hx), "
        + "hy AS (SELECT lang, n_toks AS v, COUNT(*) AS c FROM d GROUP BY 1, 2), "
        + "ry AS (SELECT lang, v, 2 * COALESCE(SUM(c) OVER (PARTITION BY lang ORDER BY v "
        + "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + c + 1 AS r2 FROM hy), "
        + "j AS (SELECT d.lang, rx.r2 AS a, ry.r2 AS b FROM d "
        + "JOIN rx ON d.lang = rx.lang AND d.n_chars = rx.v "
        + "JOIN ry ON d.lang = ry.lang AND d.n_toks = ry.v), "
        + "m AS (SELECT lang, COUNT(*) AS n, CAST(SUM(a) AS DECIMAL(38,0)) AS sx, "
        + "CAST(SUM(b) AS DECIMAL(38,0)) AS sy, CAST(SUM(a * a) AS DECIMAL(38,0)) AS sxx, "
        + "CAST(SUM(b * b) AS DECIMAL(38,0)) AS syy, CAST(SUM(a * b) AS DECIMAL(38,0)) AS sxy FROM j GROUP BY 1) "
        + "SELECT lang, CAST(n AS BIGINT) AS n, "
        + "CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0 "
        + "AND CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0 THEN "
        + "round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / "
        + "(sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) * "
        + "sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) END AS rho "
        + "FROM m ORDER BY lang"),
    "q172_incr_profile" ->
      // merge == rescan (MomentsSpec/SketchSpec pin it), so the oracle
      // profiles the union: DECIMAL-exact moments + the HLL program
      // over the 1024-grid quantized value key
      ("WITH m AS (SELECT 'l_quantity' AS col_name, CAST(l_quantity AS DOUBLE) AS v FROM lineitem "
        + "UNION ALL SELECT 'l_extendedprice', CAST(l_extendedprice AS DOUBLE) FROM lineitem "
        + "UNION ALL SELECT 'l_discount', CAST(l_discount AS DOUBLE) FROM lineitem "
        + "UNION ALL SELECT 'l_tax', CAST(l_tax AS DOUBLE) FROM lineitem), "
        + "b AS (SELECT col_name, COUNT(*) AS n_rows, "
        + "CAST(SUM(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null, "
        + "MIN(v) AS vmin, MAX(v) AS vmax, "
        + "round(CAST(SUM(CAST(v AS DECIMAL(38,6))) AS DOUBLE), 4) AS vsum, "
        + "CASE WHEN COUNT(*) > SUM(CASE WHEN v IS NULL THEN 1 ELSE 0 END) THEN "
        + "round(CAST(SUM(CAST(v AS DECIMAL(38,6))) AS DOUBLE) / "
        + "(COUNT(*) - SUM(CASE WHEN v IS NULL THEN 1 ELSE 0 END)), 6) END AS vmean FROM m GROUP BY 1), "
        + "k AS (SELECT col_name, CAST(round(v * 1024) AS BIGINT) AS u FROM m WHERE v IS NOT NULL), "
        + "h AS (SELECT col_name, "
        + "((((u + 1) * 2654435761) % 1000000007) * (((u + 1) * 2654435761) % 1000000007) >> 12) % 512 AS reg, "
        + "((((u + 13) * 1540483477) % 1000000007) * (((u + 13) * 1540483477) % 1000000007) >> 6) % 1073741824 AS h2 FROM k), "
        + "r AS (SELECT col_name, reg, "
        + "MAX(CASE WHEN h2 = 0 THEN 31 ELSE 31 - length(bin(h2)) END) AS rho FROM h GROUP BY 1, 2), "
        + "g AS (SELECT col_name, COUNT(*) AS nz, "
        + "CAST(SUM(CAST((1::BIGINT << 32) / power(2.0, rho) AS BIGINT)) AS BIGINT) AS spart FROM r GROUP BY 1), "
        + "s AS (SELECT col_name, nz, spart + (512 - nz) * (1::BIGINT << 32) AS hs FROM g), "
        + "est AS (SELECT col_name, "
        + "CASE WHEN (512 - nz) > 0 AND 0.7213 / (1.0 + 1.079 / 512.0) * 1125899906842624.0 / CAST(hs AS DOUBLE) <= 1280.0 "
        + "THEN 512.0 * round(ln(512.0 / (512 - nz)), 6) "
        + "ELSE 0.7213 / (1.0 + 1.079 / 512.0) * 1125899906842624.0 / CAST(hs AS DOUBLE) END AS raw FROM s) "
        + "SELECT b.col_name, n_rows, n_null, vmin, vmax, vsum, vmean, round(raw, 1) AS est_distinct "
        + "FROM b JOIN est USING (col_name) ORDER BY col_name"),
    "q171_loghist_quantiles" ->
      // union-sketch replay: integer bit-length buckets, cumulative
      // rank walk, first bucket reaching ceil(phi*N)
      ("WITH d AS (SELECT lang, n_chars AS v FROM documents WHERE n_chars IS NOT NULL AND n_chars >= 0), "
        + "k AS (SELECT lang, CASE WHEN v = 0 THEN 0 ELSE length(bin(v)) END AS b, "
        + "CASE WHEN v = 0 THEN 0 ELSE (v * 8) // CAST(power(2, length(bin(v))) AS BIGINT) END AS q FROM d), "
        + "s AS (SELECT lang, b, q, COUNT(*) AS n FROM k GROUP BY 1, 2, 3), "
        + "c AS (SELECT lang, b, q, n, "
        + "SUM(n) OVER (PARTITION BY lang ORDER BY b, q ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum, "
        + "SUM(n) OVER (PARTITION BY lang) AS tot, "
        + "CASE WHEN b = 0 THEN 0 ELSE CAST(q * power(2, b) / 8 AS BIGINT) END AS lb FROM s) "
        + "SELECT lang, MIN(CASE WHEN cum >= CEIL(0.5 * tot) THEN lb END) AS p50, "
        + "MIN(CASE WHEN cum >= CEIL(0.9 * tot) THEN lb END) AS p90, "
        + "MIN(CASE WHEN cum >= CEIL(0.99 * tot) THEN lb END) AS p99 "
        + "FROM c GROUP BY lang ORDER BY lang"),
    "q161_corr_matrix" -> corrMatrixOracle,
    "q163_trend_fit" ->
      // the same quantized DECIMAL moments and fixed-order OLS program
      ("WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n_events "
        + "FROM events GROUP BY 1, 2), "
        + "v AS (SELECT event_type, "
        + "CAST(round(CAST(date_diff('day', DATE '2024-01-01', day) AS DOUBLE), 6) AS DECIMAL(28,6)) AS x, "
        + "CAST(round(CAST(n_events AS DOUBLE), 6) AS DECIMAL(28,6)) AS y FROM d), "
        + "m AS (SELECT event_type, COUNT(*) AS n, CAST(SUM(x) AS DOUBLE) AS sx, "
        + "CAST(SUM(y) AS DOUBLE) AS sy, "
        + "CAST(SUM(CAST(x * x AS DECIMAL(38,12))) AS DOUBLE) AS sxx, "
        + "CAST(SUM(CAST(y * y AS DECIMAL(38,12))) AS DOUBLE) AS syy, "
        + "CAST(SUM(CAST(x * y AS DECIMAL(38,12))) AS DOUBLE) AS sxy FROM v GROUP BY 1) "
        + "SELECT event_type, n, "
        + "CASE WHEN CAST(n AS DOUBLE) * sxx - sx * sx > 0 THEN "
        + "round((CAST(n AS DOUBLE) * sxy - sx * sy) / (CAST(n AS DOUBLE) * sxx - sx * sx), 6) END AS slope, "
        + "CASE WHEN CAST(n AS DOUBLE) * sxx - sx * sx > 0 THEN "
        + "round((sy - (CAST(n AS DOUBLE) * sxy - sx * sy) / (CAST(n AS DOUBLE) * sxx - sx * sx) * sx) / CAST(n AS DOUBLE), 6) END AS intercept, "
        + "CASE WHEN CAST(n AS DOUBLE) * sxx - sx * sx > 0 AND CAST(n AS DOUBLE) * syy - sy * sy > 0 THEN "
        + "round((CAST(n AS DOUBLE) * sxy - sx * sy) * (CAST(n AS DOUBLE) * sxy - sx * sy) / "
        + "((CAST(n AS DOUBLE) * sxx - sx * sx) * (CAST(n AS DOUBLE) * syy - sy * sy)), 6) END AS r2 "
        + "FROM m ORDER BY event_type"),
    "q162_graph_profile" ->
      // canonical edges, recursive-CTE components (the q55 shape),
      // compact-forward triangles, one-row roll-up
      ("WITH RECURSIVE bi AS (SELECT DISTINCT l_orderkey AS bb, p_brand AS i FROM lineitem "
        + "JOIN part ON l_partkey = p_partkey), "
        + "e AS (SELECT DISTINCT a.i AS a, b.i AS b FROM bi a JOIN bi b ON a.bb = b.bb AND a.i < b.i), "
        + "deg AS (SELECT id, COUNT(*) AS d FROM "
        + "(SELECT a AS id FROM e UNION ALL SELECT b FROM e) GROUP BY 1), "
        + "tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z FROM e e1 "
        + "JOIN e e2 ON e1.b = e2.a JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b), "
        + "ed AS (SELECT a AS src, b AS dst FROM e UNION SELECT b, a FROM e), "
        + "reach(id, lbl) AS (SELECT id, id FROM deg "
        + "UNION SELECT ed.src, r.lbl FROM ed JOIN reach r ON ed.dst = r.id), "
        + "cl AS (SELECT id, MIN(lbl) AS cluster_id FROM reach GROUP BY id), "
        + "cs AS (SELECT cluster_id, COUNT(*) AS sz FROM cl GROUP BY 1), "
        + "agg AS (SELECT (SELECT COUNT(*) FROM deg) AS n_nodes, "
        + "(SELECT COUNT(*) FROM e) AS n_edges, "
        + "(SELECT COUNT(*) FROM cs) AS n_components, "
        + "(SELECT MAX(sz) FROM cs) AS largest_component, "
        + "(SELECT COUNT(*) FROM tri) AS n_triangles, "
        + "(SELECT round(CAST(SUM(d) AS DOUBLE) / COUNT(*), 4) FROM deg) AS avg_degree) "
        + "SELECT CAST(n_nodes AS BIGINT) AS n_nodes, CAST(n_edges AS BIGINT) AS n_edges, "
        + "CAST(n_components AS BIGINT) AS n_components, CAST(largest_component AS BIGINT) AS largest_component, "
        + "CAST(n_triangles AS BIGINT) AS n_triangles, avg_degree FROM agg ORDER BY n_nodes"),
    "q205_setsim_join" ->
      // exact all-qualifying-pairs reference: any pair at J ≥ 3/5
      // shares ≥1 shingle, so the shared-shingle join is a complete
      // candidate set; same IEEE double division + 0.6 literal (space
      // join of tokens is injective — tokens cannot contain spaces —
      // so string-shingle set counts equal the engine's hash counts)
      ("WITH w AS (SELECT doc_id, str_split(lower(trim(text)), ' ') AS ws FROM documents), "
        + "t AS (SELECT DISTINCT doc_id, unnest(list_distinct([array_to_string(ws[i:i+2], ' ') FOR i IN range(1, len(ws) - 1)])) AS sh "
        + "FROM w WHERE len(ws) >= 3), "
        + "n AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM t GROUP BY 1), "
        + "i AS (SELECT a.doc_id AS d1, b.doc_id AS d2, CAST(COUNT(*) AS BIGINT) AS i "
        + "FROM t a JOIN t b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2) "
        + "SELECT d1, d2, round(CAST(i AS DOUBLE) / (n1.n + n2.n - i), 6) AS jaccard "
        + "FROM i JOIN n n1 ON i.d1 = n1.doc_id JOIN n n2 ON i.d2 = n2.doc_id "
        + "WHERE CAST(i AS DOUBLE) / (n1.n + n2.n - i) >= 0.6 ORDER BY d1, d2"),
    "q225_quality_keeper" ->
      // the q55 transitive-closure clusters + the q112 hashed score,
      // per-cluster (score desc, id asc) argmax
      (qualityKeeperCtes
        + "SELECT cluster_id, CAST(nm AS BIGINT) AS n_members, doc_id AS keeper_id, score AS keeper_score "
        + "FROM r WHERE rn = 1 ORDER BY cluster_id"),
    "q224_setsim_incremental" ->
      // complete reference: every qualifying cross-split pair shares
      // >= 1 shingle, so the split shared-shingle join is exhaustive
      ("WITH w AS (SELECT doc_id, str_split(lower(trim(text)), ' ') AS ws FROM documents), "
        + "t AS (SELECT DISTINCT doc_id, unnest(list_distinct([array_to_string(ws[i:i+2], ' ') FOR i IN range(1, len(ws) - 1)])) AS sh "
        + "FROM w WHERE len(ws) >= 3), "
        + "n AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM t GROUP BY 1), "
        + "i AS (SELECT a.doc_id AS d1, b.doc_id AS d2, CAST(COUNT(*) AS BIGINT) AS i "
        + "FROM t a JOIN t b ON a.sh = b.sh AND a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0 GROUP BY 1, 2) "
        + "SELECT d1, d2, round(CAST(i AS DOUBLE) / (n1.n + n2.n - i), 6) AS jaccard "
        + "FROM i JOIN n n1 ON i.d1 = n1.doc_id JOIN n n2 ON i.d2 = n2.doc_id "
        + "WHERE CAST(i AS DOUBLE) / (n1.n + n2.n - i) >= 0.6 ORDER BY d1, d2"),
    "q206_cohens_kappa" ->
      // q203's scored-doc CTEs; κ as ONE exact integer numerator and
      // denominator, one double division — identical op order to the
      // engine's decimal program
      ("WITH t AS (SELECT doc_id, lang, unnest(str_split(lower(trim(text)), ' ')) AS tok FROM documents), "
        + "h AS (SELECT doc_id, lang, list_reduce(list_prepend(CAST(0 AS BIGINT), "
        + "list_transform(range(1, length(tok) + 1), i -> CAST(unicode(substr(tok, CAST(i AS INT), 1)) AS BIGINT))), "
        + "(a, b) -> (a * 31 + b) % 2147483647) AS th FROM t WHERE tok <> ''), "
        + "w AS (SELECT doc_id, lang, ((th % 64) * 2654435761) % 1000000007 % 2001 - 1000 AS wt FROM h), "
        + "d AS (SELECT doc_id, lang, COUNT(*) AS n_toks, SUM(wt) AS score FROM w GROUP BY 1, 2), "
        + "k AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n, "
        + "CAST(SUM(CASE WHEN n_toks >= 50 AND score >= 0 THEN 1 ELSE 0 END) AS BIGINT) AS a, "
        + "CAST(SUM(CASE WHEN n_toks >= 50 AND score < 0 THEN 1 ELSE 0 END) AS BIGINT) AS b, "
        + "CAST(SUM(CASE WHEN n_toks < 50 AND score >= 0 THEN 1 ELSE 0 END) AS BIGINT) AS c, "
        + "CAST(SUM(CASE WHEN n_toks < 50 AND score < 0 THEN 1 ELSE 0 END) AS BIGINT) AS d FROM d GROUP BY 1) "
        + "SELECT lang, n, a, b, c, d, (a + d) * 1000000 // n AS po_micro, "
        + "CASE WHEN (a + b) * (b + d) + (a + c) * (c + d) <> 0 THEN "
        + "round(CAST(2 * (a * d - b * c) AS DOUBLE) / "
        + "CAST((a + b) * (b + d) + (a + c) * (c + d) AS DOUBLE), 6) END AS kappa "
        + "FROM k ORDER BY lang"),
    "q207_fleiss_kappa" ->
      // deterministic hash-flipped synthetic raters; P̄/P̄e from exact
      // BIGINT sums, the same fixed-order double program as the engine
      ("WITH t AS (SELECT doc_id, lang, unnest(str_split(lower(trim(text)), ' ')) AS tok FROM documents), "
        + "d AS (SELECT doc_id, lang, COUNT(*) AS n_toks FROM t WHERE tok <> '' GROUP BY 1, 2), "
        + "v AS (SELECT doc_id, lang, (n_toks >= 50) AS y, unnest(range(0, 5)) AS r FROM d), "
        + "f AS (SELECT doc_id, lang, CASE WHEN ((doc_id * 31 + r) % 1000000007 * 2654435761) % 1000000007 % 10 < 2 "
        + "THEN NOT y ELSE y END AS vote FROM v), "
        + "p AS (SELECT doc_id, lang, CAST(SUM(CASE WHEN vote THEN 1 ELSE 0 END) AS BIGINT) AS np FROM f GROUP BY 1, 2), "
        + "g AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_items, CAST(SUM(np) AS BIGINT) AS sp, "
        + "CAST(SUM(5 - np) AS BIGINT) AS sn, CAST(SUM(np * np + (5 - np) * (5 - np) - 5) AS BIGINT) AS spi FROM p GROUP BY 1) "
        + "SELECT lang, n_items, "
        + "round(CAST(spi AS DOUBLE) / CAST(n_items * 5 * 4 AS DOUBLE), 6) AS pbar, "
        + "round(CAST(sp * sp + sn * sn AS DOUBLE) / CAST((n_items * 5) * (n_items * 5) AS DOUBLE), 6) AS pbar_e, "
        + "CASE WHEN CAST(sp * sp + sn * sn AS DOUBLE) / CAST((n_items * 5) * (n_items * 5) AS DOUBLE) < 1.0 THEN "
        + "round((CAST(spi AS DOUBLE) / CAST(n_items * 5 * 4 AS DOUBLE) - "
        + "CAST(sp * sp + sn * sn AS DOUBLE) / CAST((n_items * 5) * (n_items * 5) AS DOUBLE)) / "
        + "(1.0 - CAST(sp * sp + sn * sn AS DOUBLE) / CAST((n_items * 5) * (n_items * 5) AS DOUBLE)), 6) END AS kappa "
        + "FROM g ORDER BY lang"),
    "q208_bradley_terry" -> bradleyTerryOracle(5),
    "q209_zorder_audit" -> zorderOracle(16, 16),
    "q212_embed_pca" -> embedPcaOracle(64, 5),
    "q218_ndcg_mrr" -> ndcgOracle(10),
    "q220_rbo" -> rboOracle(10, 900000L),
    "q223_contract_audit" ->
      // six scalar-subquery check rows; NULL FKs count as orphans
      // (NOT EXISTS against NULL is true, matching left_anti)
      ("WITH rows0 AS ("
        + "SELECT 'li_orphan_order' AS \"check\", (SELECT COUNT(*) FROM lineitem) AS n, "
        + "(SELECT COUNT(*) FROM lineitem l WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS n_bad "
        + "UNION ALL SELECT 'ord_orphan_cust', (SELECT COUNT(*) FROM orders), "
        + "(SELECT COUNT(*) FROM orders o WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)) "
        + "UNION ALL SELECT 'li_nonpositive_qty', (SELECT COUNT(*) FROM lineitem), "
        + "(SELECT COUNT(*) FROM lineitem WHERE COALESCE(l_quantity <= 0, TRUE)) "
        + "UNION ALL SELECT 'li_ship_before_order', "
        + "(SELECT COUNT(*) FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey), "
        + "(SELECT COUNT(*) FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey "
        + "WHERE COALESCE(l.l_shipdate < o.o_orderdate, TRUE)) "
        + "UNION ALL SELECT 'li_discount_over_5pct', (SELECT COUNT(*) FROM lineitem), "
        + "(SELECT COUNT(*) FROM lineitem WHERE COALESCE(l_discount > 0.05, TRUE)) "
        + "UNION ALL SELECT 'ord_dup_pk', (SELECT COUNT(*) FROM orders), "
        + "(SELECT COALESCE(SUM(c), 0) FROM (SELECT COUNT(*) AS c FROM orders GROUP BY o_orderkey HAVING COUNT(*) > 1))) "
        + "SELECT \"check\", CAST(n AS BIGINT) AS n, CAST(n_bad AS BIGINT) AS n_bad, "
        + "CAST(CASE WHEN n > 0 THEN n_bad * 1000000 // n ELSE 0 END AS BIGINT) AS bad_ppm "
        + "FROM rows0 ORDER BY \"check\""),
    "q222_quantile_norm" ->
      // the engine's integer rank/ceil-div program plus a correlated
      // MIN lookup for the type-1 global position
      ("WITH d AS (SELECT source AS g, CAST(n_chars AS BIGINT) AS v FROM documents WHERE n_chars IS NOT NULL), "
        + "h AS (SELECT g, v, CAST(COUNT(*) AS BIGINT) AS c FROM d GROUP BY 1, 2), "
        + "s AS (SELECT g, v, c, SUM(c) OVER (PARTITION BY g ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum, "
        + "SUM(c) OVER (PARTITION BY g) AS ns FROM h), "
        + "r AS (SELECT g, v, c, (cum - c) * 2 + c + 1 AS r2, ns FROM s), "
        + "gh AS (SELECT v AS gv, CAST(COUNT(*) AS BIGINT) AS gc FROM d GROUP BY 1), "
        + "gc AS (SELECT gv, SUM(gc) OVER (ORDER BY gv ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gcum FROM gh), "
        + "n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM d), "
        + "m AS (SELECT g, v, c, CAST((r2 * nn + 2 * ns - 1) // (2 * ns) AS BIGINT) AS gpos FROM r, n) "
        + "SELECT m.g AS source, m.v AS n_chars, m.c AS n, m.gpos AS global_pos, "
        + "(SELECT MIN(gv) FROM gc WHERE gcum >= m.gpos) AS norm_v "
        + "FROM m ORDER BY source, n_chars"),
    "q221_sketch_emd" ->
      // the q175 union-sketch replay with an ORDERED cum window:
      // W1 = sum gap*|cumA*Nr - cumR*Na| / (Na*Nr) with gap = the
      // linearized-index (4b+q) distance to the next union bucket,
      // exact decimal cross-products, one 6-dp division
      ("WITH d AS (SELECT source, n_chars AS v FROM documents WHERE n_chars IS NOT NULL AND n_chars >= 0), "
        + "k AS (SELECT source, CASE WHEN v = 0 THEN 0 ELSE length(bin(v)) END AS b, "
        + "CASE WHEN v = 0 THEN 0 ELSE (v * 8) // CAST(power(2, length(bin(v))) AS BIGINT) END AS q FROM d), "
        + "sa AS (SELECT source, b, q, COUNT(*) AS na FROM k GROUP BY 1, 2, 3), "
        + "sr AS (SELECT b, q, COUNT(*) AS nr FROM k GROUP BY 1, 2), "
        + "grid AS (SELECT g.source, r.b, r.q, r.nr FROM (SELECT DISTINCT source FROM sa) g CROSS JOIN sr r), "
        + "j AS (SELECT COALESCE(grid.source, sa.source) AS source, COALESCE(grid.b, sa.b) AS b, "
        + "COALESCE(grid.q, sa.q) AS q, COALESCE(sa.na, 0) AS na, COALESCE(grid.nr, 0) AS nr "
        + "FROM grid FULL OUTER JOIN sa ON grid.source = sa.source AND grid.b = sa.b AND grid.q = sa.q), "
        + "t AS (SELECT source, na, nr, "
        + "SUM(na) OVER (PARTITION BY source ORDER BY b, q ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca, "
        + "SUM(nr) OVER (PARTITION BY source ORDER BY b, q ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cr, "
        + "SUM(na) OVER (PARTITION BY source) AS ta, SUM(nr) OVER (PARTITION BY source) AS tr, "
        + "COUNT(*) OVER (PARTITION BY source) AS bk, "
        + "COALESCE(LEAD(4 * b + q) OVER (PARTITION BY source ORDER BY b, q), 4 * b + q) - (4 * b + q) AS w FROM j), "
        + "s AS (SELECT source, bk, ta, tr, "
        + "abs(CAST(ca AS DECIMAL(38,0)) * tr - CAST(cr AS DECIMAL(38,0)) * ta) * w AS dd FROM t) "
        + "SELECT source, CAST(MAX(bk) AS BIGINT) AS n_buckets, "
        + "round(CAST(SUM(dd) AS DOUBLE) / (CAST(MAX(ta) AS DOUBLE) * MAX(tr)), 6) AS emd "
        + "FROM s GROUP BY 1 ORDER BY 1"),
    "q213_logodds_words" ->
      // add-one Dirichlet log-odds: one double division of exact
      // BIGINTs per ln, portable micro-nat floor, BIGINT delta, one
      // fixed-order z program, (z desc, token asc) rank
      ("WITH tt AS (SELECT lang, tok FROM (SELECT lang, unnest(str_split(lower(trim(text)), ' ')) AS tok FROM documents) WHERE tok <> ''), "
        + "c AS MATERIALIZED (SELECT lang, tok, CAST(COUNT(*) AS BIGINT) AS c FROM tt GROUP BY 1, 2), "
        + "ng AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS ng FROM c GROUP BY 1), "
        + "yw AS (SELECT tok, CAST(SUM(c) AS BIGINT) AS y FROM c GROUP BY 1), "
        + "gl AS (SELECT CAST(SUM(c) AS BIGINT) AS nn, CAST(COUNT(DISTINCT tok) AS BIGINT) AS v FROM c), "
        + "z0 AS (SELECT c.lang, c.tok, c.c, yw.y - c.c AS yr, ng.ng, gl.nn - ng.ng AS nr, gl.v "
        + "FROM c JOIN ng USING (lang) JOIN yw USING (tok), gl), "
        + "z AS (SELECT lang, tok, c AS y_in, yr AS y_rest, "
        + "round(CAST(CAST(floor(ln(CAST(c + 1 AS DOUBLE) / CAST(ng + v - c - 1 AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) "
        + "- CAST(floor(ln(CAST(yr + 1 AS DOUBLE) / CAST(nr + v - yr - 1 AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS DOUBLE) / 1000000.0 "
        + "/ sqrt(CAST(1 AS DOUBLE) / (c + 1) + CAST(1 AS DOUBLE) / (yr + 1)), 6) AS zscore "
        + "FROM z0 WHERE ng + v - c - 1 > 0 AND nr + v - yr - 1 > 0), "
        + "r AS (SELECT *, row_number() OVER (PARTITION BY lang ORDER BY zscore DESC, tok ASC) AS rk FROM z) "
        + "SELECT lang, tok AS token, y_in, y_rest, zscore FROM r WHERE rk <= 10 "
        + "ORDER BY lang, zscore DESC, token"),
    "q214_js_source_matrix" ->
      // shared-token join + the one-sided-tail ln2 identity; per-token
      // ratios as one double division of exact DECIMAL products,
      // BIGINT-weighted micro-nat sums in DECIMAL(38,0)
      ("WITH tt AS (SELECT s, tok FROM (SELECT source AS s, unnest(str_split(lower(trim(text)), ' ')) AS tok FROM documents) WHERE tok <> ''), "
        + "c AS MATERIALIZED (SELECT s, tok, CAST(COUNT(*) AS BIGINT) AS c FROM tt GROUP BY 1, 2), "
        + "tot AS MATERIALIZED (SELECT s, CAST(SUM(c) AS BIGINT) AS n FROM c GROUP BY 1), "
        + "sh AS (SELECT a.s AS s1, b.s AS s2, a.c AS c1, b.c AS c2, t1.n AS n1, t2.n AS n2 "
        + "FROM c a JOIN c b ON a.tok = b.tok AND a.s < b.s JOIN tot t1 ON a.s = t1.s JOIN tot t2 ON b.s = t2.s), "
        + "g AS (SELECT s1, s2, CAST(COUNT(*) AS BIGINT) AS n_shared, "
        + "CAST(SUM(CAST(c1 AS DECIMAL(38,0)) * CAST(floor(ln(CAST(2 * CAST(c1 AS DECIMAL(38,0)) * n2 AS DOUBLE) / "
        + "CAST(CAST(c1 AS DECIMAL(38,0)) * n2 + CAST(c2 AS DECIMAL(38,0)) * n1 AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)) AS DECIMAL(38,0)) AS t1, "
        + "CAST(SUM(CAST(c2 AS DECIMAL(38,0)) * CAST(floor(ln(CAST(2 * CAST(c2 AS DECIMAL(38,0)) * n1 AS DOUBLE) / "
        + "CAST(CAST(c1 AS DECIMAL(38,0)) * n2 + CAST(c2 AS DECIMAL(38,0)) * n1 AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)) AS DECIMAL(38,0)) AS t2, "
        + "CAST(SUM(c1) AS BIGINT) AS c1s, CAST(SUM(c2) AS BIGINT) AS c2s FROM sh GROUP BY 1, 2), "
        + "p AS (SELECT ta.s AS s1, tb.s AS s2, ta.n AS n1, tb.n AS n2 FROM tot ta, tot tb WHERE ta.s < tb.s) "
        + "SELECT p.s1, p.s2, COALESCE(n_shared, 0) AS n_shared, "
        + "round((CAST(COALESCE(t1, 0) + CAST(n1 - COALESCE(c1s, 0) AS DECIMAL(38,0)) * 693147 AS DOUBLE) / n1 + "
        + "CAST(COALESCE(t2, 0) + CAST(n2 - COALESCE(c2s, 0) AS DECIMAL(38,0)) * 693147 AS DOUBLE) / n2) / 2 / 1000000.0, 6) AS js "
        + "FROM p LEFT JOIN g USING (s1, s2) ORDER BY s1, s2"),
    "q215_video_frames" ->
      // ASCII corpus: gray-pixel luma == text byte (BT.601 weights sum
      // to 1000), so the sampled-frame sums replay from the text with
      // positions f*w*h + i, space-padded past the end
      ("WITH d AS (SELECT doc_id, lang, text, length(text) AS tl, 8 + doc_id % 9 AS w, "
        + "5 + doc_id % 7 AS h, 3 + doc_id % 4 AS nf FROM documents), "
        + "sf AS (SELECT doc_id, lang, text, tl, w, h, nf, unnest(range(0, nf)) AS f FROM d), "
        + "s2 AS (SELECT * FROM sf WHERE f % 2 = 0), "
        + "px AS (SELECT doc_id, lang, w, h, nf, CASE WHEN f * w * h + i < tl "
        + "THEN unicode(substr(text, CAST(f * w * h + i + 1 AS BIGINT), 1)) ELSE 32 END AS g "
        + "FROM s2, unnest(range(0, w * h)) u(i)), "
        + "pv AS (SELECT doc_id, lang, MAX(nf) AS nf, (MAX(nf) + 1) // 2 AS nsamp, "
        + "CAST(COUNT(*) AS BIGINT) AS px_n, CAST(SUM(g) AS BIGINT) AS luma FROM px GROUP BY 1, 2) "
        + "SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_videos, CAST(SUM(nf) AS BIGINT) AS total_frames, "
        + "CAST(SUM(nsamp) AS BIGINT) AS sampled_frames, CAST(SUM(px_n) AS BIGINT) AS sampled_pixels, "
        + "CAST(SUM(luma) AS BIGINT) AS sum_luma, "
        + "CAST(SUM(luma * 1000000 // px_n) AS BIGINT) AS sum_mean_micro "
        + "FROM pv GROUP BY 1 ORDER BY lang"),
    "q216_passage_chunks" ->
      // chunk count 1 + ceil((n-32)/24) by integer div; inclusive list
      // slices replay the engine's slice(toks, k*24+1, 32)
      ("WITH w AS (SELECT doc_id, list_filter(str_split(lower(trim(text)), ' '), t -> t <> '') AS ws FROM documents), "
        + "n AS (SELECT doc_id, ws, CAST(len(ws) AS BIGINT) AS n FROM w WHERE len(ws) > 0), "
        + "k AS (SELECT doc_id, ws, n, unnest(range(0, 1 + CASE WHEN n > 32 THEN (n - 32 + 23) // 24 ELSE 0 END)) AS k FROM n) "
        + "SELECT doc_id, k AS chunk_id, k * 24 AS start_tok, "
        + "CAST(len(ws[CAST(k * 24 + 1 AS BIGINT):CAST(k * 24 + 32 AS BIGINT)]) AS BIGINT) AS n_toks, "
        + "array_to_string(ws[CAST(k * 24 + 1 AS BIGINT):CAST(k * 24 + 32 AS BIGINT)], ' ') AS chunk_text "
        + "FROM k ORDER BY doc_id, chunk_id"),
    "q219_mulaw_audio" ->
      // the G.711 companding law replayed in pure integer SQL: bias,
      // segment ladder, 4-bit mantissa, exact inverse — composition
      // enc∘dec from the same text-derived samples as the engine
      ("WITH d AS (SELECT doc_id, lang, text, length(text) AS tl FROM documents), "
        + "p AS (SELECT doc_id, lang, CASE WHEN i < tl THEN unicode(substr(text, CAST(i + 1 AS BIGINT), 1)) ELSE 32 END * 257 - 32768 AS x "
        + "FROM d, unnest(range(0, 120)) u(i)), "
        + "e AS (SELECT doc_id, lang, x, x < 0 AS sgn, LEAST(abs(x), 32635) + 132 AS v FROM p), "
        + "s AS (SELECT doc_id, lang, sgn, v, CASE WHEN v >= 16384 THEN 7 WHEN v >= 8192 THEN 6 "
        + "WHEN v >= 4096 THEN 5 WHEN v >= 2048 THEN 4 WHEN v >= 1024 THEN 3 "
        + "WHEN v >= 512 THEN 2 WHEN v >= 256 THEN 1 ELSE 0 END AS exp FROM e), "
        + "m AS (SELECT doc_id, lang, sgn, ((((v >> (exp + 3)) & 15) * 8 + 132) << exp) - 132 AS mag FROM s), "
        + "y AS (SELECT doc_id, lang, CASE WHEN sgn THEN -mag ELSE mag END AS y FROM m) "
        + "SELECT lang, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_streams, "
        + "CAST(COUNT(*) AS BIGINT) AS n_samples, CAST(SUM(y) AS BIGINT) AS sum_dec, "
        + "CAST(SUM(abs(y)) AS BIGINT) AS sum_abs, CAST(MAX(abs(y)) AS INTEGER) AS peak "
        + "FROM y GROUP BY 1 ORDER BY lang"),
    "q217_weighted_sample" ->
      // Efraimidis-Spirakis keys: u = (selector+1)/(P+1) strictly in
      // (0,1), one double division of exact integers, round-12 ln(u)/w
      ("WITH w AS (SELECT lang, doc_id, n_chars, "
        + "round(ln(CAST((doc_id * 2654435761) % 1000000007 + 1 AS DOUBLE) / CAST(1000000008 AS DOUBLE)) "
        + "/ CAST(n_chars AS DOUBLE), 12) AS es_key FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0), "
        + "r AS (SELECT *, row_number() OVER (PARTITION BY lang ORDER BY es_key DESC, doc_id ASC) AS rk FROM w) "
        + "SELECT lang, doc_id, n_chars, es_key FROM r WHERE rk <= 20 "
        + "ORDER BY lang, es_key DESC, doc_id"),
    "q210_lognormal_fit" ->
      // portable micro-nat lns (q204 idiom), decimal moments, the
      // quantized-mu/sigma exp predictions, quantile_cont p90
      ("WITH v AS (SELECT lang, CAST(n_chars AS BIGINT) AS v FROM documents "
        + "WHERE n_chars IS NOT NULL AND n_chars > 0), "
        + "l AS (SELECT lang, v, CAST(floor(ln(CAST(v AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS lnv FROM v), "
        + "m AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(lnv) AS BIGINT) AS s, "
        + "CAST(SUM(CAST(lnv AS DECIMAL(38,0)) * lnv) AS DECIMAL(38,0)) AS s2 FROM l GROUP BY 1), "
        + "q AS (SELECT lang, quantile_cont(CAST(v AS DOUBLE), 0.9) AS p90a FROM v GROUP BY 1), "
        + "f AS (SELECT lang, n, CAST(floor(CAST(s AS DOUBLE) / n + 0.5) AS BIGINT) / 1000000.0 AS mu, "
        + "round(sqrt(CAST(CAST(n AS DECIMAL(38,0)) * s2 - CAST(s AS DECIMAL(38,0)) * s AS DOUBLE)) / n / 1000000.0, 6) AS sigma FROM m) "
        + "SELECT f.lang, n, mu, sigma, round(exp(mu), 4) AS median_pred, "
        + "round(exp(mu + 1.281552 * sigma), 4) AS p90_pred, round(p90a, 4) AS p90_actual "
        + "FROM f JOIN q ON f.lang = q.lang ORDER BY f.lang"),
    "q211_fano_factor" ->
      // calendar-honest span: zeros contribute nothing to the sums,
      // only N needs the span; F = (N*S2 - S^2)/(N*S) exact-integer
      ("WITH d AS (SELECT event_type, date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS x, "
        + "CAST(COUNT(*) AS BIGINT) AS n FROM events GROUP BY 1, 2), "
        + "m AS (SELECT event_type, MAX(x) - MIN(x) + 1 AS n_days, CAST(COUNT(*) AS BIGINT) AS n_active_days, "
        + "CAST(SUM(n) AS BIGINT) AS total, CAST(SUM(CAST(n AS DECIMAL(38,0)) * n) AS DECIMAL(38,0)) AS s2 FROM d GROUP BY 1) "
        + "SELECT event_type, n_days, n_active_days, total, total * 1000000 // n_days AS mean_micro, "
        + "CASE WHEN total > 0 THEN round(CAST(CAST(n_days AS DECIMAL(38,0)) * s2 - CAST(total AS DECIMAL(38,0)) * total AS DOUBLE) / "
        + "CAST(CAST(n_days AS DECIMAL(38,0)) * total AS DOUBLE), 6) END AS fano "
        + "FROM m ORDER BY event_type"),
    "q226_bm25_topk" ->
      // Okapi BM25 with k1=6/5, b=3/4: idf = ln((2N+2)/(2df+1)) in
      // micro-nats, tf term scaled by 20A into the exact rational
      // 44*A*tf / (20*A*tf + 6*A + 18*N*dl), rank on the exact
      // DECIMAL micro-sum; fixture queries = corpus top-6 tokens
      ("WITH tt AS (SELECT doc_id, tok FROM (SELECT doc_id, unnest(str_split(lower(trim(text)), ' ')) AS tok FROM documents) WHERE tok <> ''), "
        + "tf AS MATERIALIZED (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf FROM tt GROUP BY 1, 2), "
        + "dl AS MATERIALIZED (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY 1), "
        + "gl AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd, CAST(SUM(dl) AS BIGINT) AS a FROM dl), "
        + "tc AS (SELECT tok, CAST(SUM(tf) AS BIGINT) AS c FROM tf GROUP BY 1), "
        + "tr AS (SELECT tok, row_number() OVER (ORDER BY c DESC, tok ASC) AS rk FROM tc), "
        + "qt AS (SELECT CASE WHEN rk <= 3 THEN 'q1' ELSE 'q2' END AS query_id, tok FROM tr WHERE rk <= 6), "
        + "dfq AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf WHERE tok IN (SELECT tok FROM qt) GROUP BY 1), "
        + "st AS (SELECT qt.query_id, tf.doc_id, "
        + "CAST(floor(ln(CAST(2 * nd + 2 AS DOUBLE) / (2 * dfq.df + 1)) * 1000000.0 + 0.5) AS BIGINT) AS idf, "
        + "CAST(floor(CAST(CAST(tf.tf AS DECIMAL(38,0)) * a * 44 AS DOUBLE) / "
        + "CAST(CAST(tf.tf AS DECIMAL(38,0)) * a * 20 + CAST(a AS DECIMAL(38,0)) * 6 + CAST(dl.dl AS DECIMAL(38,0)) * nd * 18 AS DOUBLE) "
        + "* 1000000.0 + 0.5) AS BIGINT) AS tfc "
        + "FROM tf JOIN qt ON tf.tok = qt.tok JOIN dfq ON tf.tok = dfq.tok JOIN dl ON tf.doc_id = dl.doc_id, gl), "
        + "pd AS (SELECT query_id, doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms_hit, "
        + "CAST(SUM(CAST(idf AS DECIMAL(38,0)) * tfc) AS DECIMAL(38,0)) AS sm FROM st GROUP BY 1, 2), "
        + "r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sm DESC, doc_id ASC) AS rank FROM pd) "
        + "SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id, n_terms_hit, "
        + "round(CAST(sm AS DOUBLE) / 1000000000000.0, 6) AS score "
        + "FROM r WHERE rank <= 10 ORDER BY query_id, rank"),
    "q227_k_anonymity" ->
      // equivalence classes on the quasi pair; k = min class size,
      // l = min distinct sensitive per class, all exact integers
      ("WITH cl AS (SELECT c_nationkey, c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n, "
        + "CAST(COUNT(DISTINCT c_acctbal) AS BIGINT) AS l FROM customer GROUP BY 1, 2) "
        + "SELECT CAST(SUM(n) AS BIGINT) AS n_rows, CAST(COUNT(*) AS BIGINT) AS n_classes, "
        + "MIN(n) AS k_anonymity, MIN(l) AS l_diversity, "
        + "CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT) * 1000000 // CAST(SUM(n) AS BIGINT) AS rows_small_ppm, "
        + "CAST(SUM(n) AS BIGINT) * 1000000 // CAST(COUNT(*) AS BIGINT) AS avg_class_micro "
        + "FROM cl"),
    "q228_interval_coverage" ->
      // gaps-and-islands: island starts where s exceeds the running
      // max end of preceding intervals; all-BIGINT milliseconds
      ("WITH iv AS (SELECT user_id, epoch_ms(ts) AS s, epoch_ms(ts) + 900000 AS e FROM events), "
        + "m AS (SELECT user_id, s, e, MAX(e) OVER (PARTITION BY user_id ORDER BY s, e "
        + "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax FROM iv), "
        + "i AS (SELECT user_id, s, e, SUM(CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END) "
        + "OVER (PARTITION BY user_id ORDER BY s, e ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl FROM m), "
        + "g AS (SELECT user_id, isl, CAST(COUNT(*) AS BIGINT) AS ni, MIN(s) AS i_s, MAX(e) AS i_e FROM i GROUP BY 1, 2) "
        + "SELECT user_id, CAST(SUM(ni) AS BIGINT) AS n_intervals, CAST(COUNT(*) AS BIGINT) AS n_islands, "
        + "CAST(SUM(i_e - i_s) AS BIGINT) AS covered, MAX(i_e) - MIN(i_s) AS span, "
        + "CAST(SUM(i_e - i_s) AS BIGINT) * 1000000 // (MAX(i_e) - MIN(i_s)) AS coverage_ppm "
        + "FROM g GROUP BY 1 ORDER BY 1"),
    "q229_gini_length" ->
      // rank-formula Gini G = (2*sum(i*x) - (n+1)*sum(x))/(n*sum(x)),
      // tie-invariant value-only rank; top decile = ceil(n/10) rows
      ("WITH v AS (SELECT source, CAST(n_chars AS BIGINT) AS x FROM documents WHERE n_chars IS NOT NULL AND n_chars >= 0), "
        + "r AS (SELECT source, x, row_number() OVER (PARTITION BY source ORDER BY x) AS i, "
        + "COUNT(*) OVER (PARTITION BY source) AS n FROM v), "
        + "g AS (SELECT source, CAST(MAX(n) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS total, "
        + "CAST(SUM(CAST(i AS DECIMAL(38,0)) * x) AS DECIMAL(38,0)) AS iw, "
        + "CAST(SUM(CASE WHEN i > n - (n + 9) // 10 THEN x ELSE 0 END) AS BIGINT) AS topv "
        + "FROM r GROUP BY 1) "
        + "SELECT source, n, total, "
        + "CASE WHEN total > 0 THEN round(CAST(2 * iw - CAST(n + 1 AS DECIMAL(38,0)) * total AS DOUBLE) / "
        + "CAST(CAST(n AS DECIMAL(38,0)) * total AS DOUBLE), 6) END AS gini, "
        + "CASE WHEN total > 0 THEN topv * 1000000 // total END AS top_decile_ppm "
        + "FROM g ORDER BY source"),
    "q230_conformal_gate" ->
      // q206's hashed-score CTEs; r = min(n, ceil((n+1)*9/10)) pure
      // integer, q_hat = first distinct score whose cum count reaches
      // r, coverage as integer ppm on the disjoint test fold
      ("WITH t AS (SELECT doc_id, unnest(str_split(lower(trim(text)), ' ')) AS tok FROM documents), "
        + "h AS (SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT), "
        + "list_transform(range(1, length(tok) + 1), i -> CAST(unicode(substr(tok, CAST(i AS INT), 1)) AS BIGINT))), "
        + "(a, b) -> (a * 31 + b) % 2147483647) AS th FROM t WHERE tok <> ''), "
        + "w AS (SELECT doc_id, ((th % 64) * 2654435761) % 1000000007 % 2001 - 1000 AS wt FROM h), "
        + "d AS (SELECT doc_id, CAST(SUM(wt) AS BIGINT) AS score FROM w GROUP BY 1), "
        + "sel AS (SELECT doc_id, score, (doc_id * 2654435761) % 1000000007 % 5 AS m FROM d), "
        + "cal AS (SELECT score FROM sel WHERE m = 0), "
        + "n AS (SELECT CAST(COUNT(*) AS BIGINT) AS ncal FROM cal), "
        + "h2 AS (SELECT score AS s, CAST(COUNT(*) AS BIGINT) AS c FROM cal GROUP BY 1), "
        + "cum AS (SELECT s, SUM(c) OVER (ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM h2), "
        + "r AS (SELECT ncal, LEAST(ncal, ((ncal + 1) * 9 + 9) // 10) AS rank FROM n), "
        + "q AS (SELECT r.ncal AS n_cal, r.rank, MIN(CASE WHEN cum.cum >= r.rank THEN cum.s END) AS q_hat "
        + "FROM cum, r GROUP BY 1, 2), "
        + "tst AS (SELECT score FROM sel WHERE m <> 0) "
        + "SELECT q.n_cal, q.rank, q.q_hat, CAST(COUNT(*) AS BIGINT) AS n_test, "
        + "CAST(SUM(CASE WHEN tst.score <= q.q_hat THEN 1 ELSE 0 END) AS BIGINT) AS covered, "
        + "CAST(SUM(CASE WHEN tst.score <= q.q_hat THEN 1 ELSE 0 END) AS BIGINT) * 1000000 // COUNT(*) AS coverage_ppm, "
        + "CAST(900000 AS BIGINT) AS target_ppm "
        + "FROM tst, q GROUP BY 1, 2, 3"),
    "q231_containment_join" ->
      // complete reference: brute-force shared-shingle join, directed
      // containment |A∩B|/|A| with the engine's exact 7/10 gate
      ("WITH w AS (SELECT doc_id, str_split(lower(trim(text)), ' ') AS ws FROM documents), "
        + "t AS (SELECT DISTINCT doc_id, unnest(list_distinct([array_to_string(ws[i:i+2], ' ') FOR i IN range(1, len(ws) - 1)])) AS sh "
        + "FROM w WHERE len(ws) >= 3), "
        + "sig AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM t GROUP BY 1), "
        + "j AS (SELECT a.doc_id AS d1, b.doc_id AS d2, CAST(COUNT(*) AS BIGINT) AS ni "
        + "FROM t a JOIN t b ON a.sh = b.sh AND a.doc_id <> b.doc_id GROUP BY 1, 2) "
        + "SELECT d1, d2, s1.n AS n1, ni AS n_inter, "
        + "round(CAST(ni AS DOUBLE) / s1.n, 6) AS containment "
        + "FROM j JOIN sig s1 ON j.d1 = s1.doc_id "
        + "WHERE ni * 10 >= s1.n * 7 ORDER BY d1, d2"),
    "q232_effective_dim" ->
      // q212's quantized per-dim moments; variance via one portable
      // floor-division, PR = trace^2/ssq as one 6-dp division
      ("WITH e AS (SELECT list_transform(CAST(embedding AS DOUBLE[]), x -> round(x * 1024)) AS q "
        + "FROM embeddings WHERE len(embedding) = 64), "
        + "st AS (SELECT CAST(i AS INTEGER) AS dim, CAST(COUNT(*) AS BIGINT) AS n, "
        + "CAST(SUM(CAST(q[i] AS BIGINT)) AS BIGINT) AS s, "
        + "CAST(SUM(CAST(q[i] AS DECIMAL(38,0)) * CAST(q[i] AS BIGINT)) AS DECIMAL(38,0)) AS s2 "
        + "FROM e, unnest(range(1, 65)) u(i) GROUP BY 1), "
        + "v AS (SELECT dim, n, CAST(floor(CAST(CAST(n AS DECIMAL(38,0)) * s2 - CAST(s AS DECIMAL(38,0)) * s AS DOUBLE) / "
        + "(CAST(n AS DOUBLE) * n) + 0.5) AS BIGINT) AS vq FROM st), "
        + "g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_dims, CAST(MAX(n) AS BIGINT) AS n_vectors, "
        + "CAST(SUM(vq) AS BIGINT) AS trace, CAST(MAX(vq) AS BIGINT) AS top_var, "
        + "CAST(SUM(CAST(vq AS DECIMAL(38,0)) * vq) AS DECIMAL(38,0)) AS ssq FROM v) "
        + "SELECT n_dims, n_vectors, trace, top_var, "
        + "CASE WHEN trace > 0 THEN top_var * 1000000 // trace END AS top_dim_share_ppm, "
        + "CASE WHEN ssq > 0 THEN round(CAST(CAST(trace AS DECIMAL(38,0)) * trace AS DOUBLE) / CAST(ssq AS DOUBLE), 6) END AS participation_ratio "
        + "FROM g"),
    "q233_nelson_aalen" ->
      // q178's duration histogram + exact risk sets; additive hazard
      // (d*1e6) // n summed as BIGINT, Breslow exp on the quantized
      // operand with the portable 6-dp floor
      ("WITH u AS (SELECT user_id, MIN(ts) AS t0, "
        + "MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS tp, MAX(ts) AS tmax "
        + "FROM events GROUP BY 1), "
        + "d AS (SELECT CASE WHEN tp IS NOT NULL THEN date_diff('day', CAST(t0 AS DATE), CAST(tp AS DATE)) "
        + "ELSE date_diff('day', CAST(t0 AS DATE), CAST(tmax AS DATE)) END AS t, "
        + "CASE WHEN tp IS NOT NULL THEN 1 ELSE 0 END AS ev FROM u), "
        + "h AS (SELECT t, CAST(SUM(ev) AS BIGINT) AS d_events, CAST(SUM(1 - ev) AS BIGINT) AS n_censored FROM d GROUP BY 1), "
        + "r AS (SELECT *, SUM(d_events + n_censored) OVER () AS total, "
        + "COALESCE(SUM(d_events + n_censored) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef FROM h), "
        + "r2 AS (SELECT t, d_events, n_censored, CAST(total - bef AS BIGINT) AS n_risk FROM r), "
        + "l AS (SELECT *, (d_events * 1000000) // n_risk AS term FROM r2), "
        + "l2 AS (SELECT *, CAST(SUM(term) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS na FROM l) "
        + "SELECT t, n_risk, d_events, n_censored, na AS na_micro, "
        + "CAST(na AS DOUBLE) / 1000000.0 AS cum_hazard, "
        + "CAST(CAST(floor(exp(CAST(na AS DOUBLE) / -1000000.0) * 1000000.0 + 0.5) AS BIGINT) AS DOUBLE) / 1000000.0 AS surv_na "
        + "FROM l2 WHERE d_events > 0 ORDER BY t"),
    "q234_log_rank" ->
      // q178's durations split even/odd; per-time hypergeometric
      // E = (d*n1*1e6)//n as pure integers, V as ONE fixed-order
      // double division of exact DECIMAL products, chi2 = (sum OE)^2
      // / (sum V * 1e6)
      ("WITH u AS (SELECT user_id, MIN(ts) AS t0, "
        + "MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS tp, MAX(ts) AS tmax "
        + "FROM events GROUP BY 1), "
        + "d0 AS (SELECT user_id % 2 AS grp, CASE WHEN tp IS NOT NULL THEN date_diff('day', CAST(t0 AS DATE), CAST(tp AS DATE)) "
        + "ELSE date_diff('day', CAST(t0 AS DATE), CAST(tmax AS DATE)) END AS t, "
        + "CASE WHEN tp IS NOT NULL THEN 1 ELSE 0 END AS ev FROM u), "
        + "h AS (SELECT t, CAST(SUM(CASE WHEN grp = 0 AND ev = 1 THEN 1 ELSE 0 END) AS BIGINT) AS d1, "
        + "CAST(SUM(CASE WHEN grp = 0 AND ev = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c1, "
        + "CAST(SUM(CASE WHEN grp <> 0 AND ev = 1 THEN 1 ELSE 0 END) AS BIGINT) AS d2, "
        + "CAST(SUM(CASE WHEN grp <> 0 AND ev = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c2 FROM d0 GROUP BY 1), "
        + "r AS (SELECT *, SUM(d1 + c1) OVER () AS t1, SUM(d2 + c2) OVER () AS t2, "
        + "SUM(d1) OVER () AS e1t, SUM(d2) OVER () AS e2t, "
        + "COALESCE(SUM(d1 + c1) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS b1, "
        + "COALESCE(SUM(d2 + c2) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS b2 FROM h), "
        + "r2 AS (SELECT t, d1, d2, CAST(t1 - b1 AS BIGINT) AS n1r, CAST(t2 - b2 AS BIGINT) AS n2r, "
        + "CAST(t1 AS BIGINT) AS t1, CAST(t2 AS BIGINT) AS t2, CAST(e1t AS BIGINT) AS e1t, CAST(e2t AS BIGINT) AS e2t FROM r), "
        + "r3 AS (SELECT *, n1r + n2r AS nr, d1 + d2 AS dr FROM r2), "
        + "r4 AS (SELECT *, d1 * 1000000 - CAST((CAST(dr AS HUGEINT) * n1r * 1000000) // nr AS BIGINT) AS om, "
        + "CASE WHEN nr > 1 THEN CAST(floor(CAST(CAST(dr AS DECIMAL(38,0)) * n1r * n2r * (nr - dr) AS DOUBLE) / "
        + "CAST(CAST(nr AS DECIMAL(38,0)) * nr * (nr - 1) AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) ELSE 0 END AS vm "
        + "FROM r3 WHERE dr > 0) "
        + "SELECT MAX(t1) AS n1, MAX(t2) AS n2, MAX(e1t) AS events1, MAX(e2t) AS events2, "
        + "CAST(SUM(om) AS BIGINT) AS o_minus_e_micro, CAST(SUM(vm) AS BIGINT) AS var_micro, "
        + "CASE WHEN SUM(vm) > 0 THEN round(CAST(CAST(SUM(om) AS DECIMAL(38,0)) * CAST(SUM(om) AS BIGINT) AS DOUBLE) / "
        + "CAST(CAST(SUM(vm) AS DECIMAL(38,0)) * 1000000 AS DOUBLE), 6) END AS chi2 "
        + "FROM r4"),
    "q235_krippendorff" ->
      // q206's hashed-score CTEs; monotone simulated votes via
      // list_filter over range(0, n); per-unit coincidence
      // (2*p*q*1e6)//(n-1), alpha = 1 - o01*(nc-1)/(2*n1*n0*1e6)
      ("WITH t AS (SELECT doc_id, lang, unnest(str_split(lower(trim(text)), ' ')) AS tok FROM documents), "
        + "h AS (SELECT doc_id, lang, list_reduce(list_prepend(CAST(0 AS BIGINT), "
        + "list_transform(range(1, length(tok) + 1), i -> CAST(unicode(substr(tok, CAST(i AS INT), 1)) AS BIGINT))), "
        + "(a, b) -> (a * 31 + b) % 2147483647) AS th FROM t WHERE tok <> ''), "
        + "w AS (SELECT doc_id, lang, ((th % 64) * 2654435761) % 1000000007 % 2001 - 1000 AS wt FROM h), "
        + "d AS (SELECT doc_id, lang, CAST(SUM(wt) AS BIGINT) AS score FROM w GROUP BY 1, 2), "
        + "v AS (SELECT lang, 2 + doc_id % 3 AS n, score FROM d), "
        + "pv AS (SELECT lang, CAST(n AS BIGINT) AS n, "
        + "CAST(len(list_filter(range(0, n), j -> score + j * 1000 >= 0)) AS BIGINT) AS p FROM v), "
        + "b AS (SELECT lang, p, n - p AS q, n FROM pv WHERE n >= 2), "
        + "g AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_units, CAST(SUM(n) AS BIGINT) AS n_ratings, "
        + "CAST(SUM(p) AS BIGINT) AS n_pos, CAST(SUM((2 * p * q * 1000000) // (n - 1)) AS BIGINT) AS o01_micro FROM b GROUP BY 1) "
        + "SELECT lang, n_units, n_ratings, n_pos, o01_micro, "
        + "CASE WHEN n_pos > 0 AND n_pos < n_ratings AND n_ratings > 1 THEN "
        + "round(1 - CAST(CAST(o01_micro AS DECIMAL(38,0)) * (n_ratings - 1) AS DOUBLE) / "
        + "CAST(CAST(2 AS DECIMAL(38,0)) * n_pos * (n_ratings - n_pos) * 1000000 AS DOUBLE), 6) END AS alpha "
        + "FROM g ORDER BY lang"),
    "q236_khop_reach" ->
      // q150's brand co-purchase edges; exact BFS closure by UNION +
      // DISTINCT per hop, cumulative reach counts exclude self
      ("WITH bi AS (SELECT DISTINCT l_orderkey AS b, p_brand AS i FROM lineitem JOIN part ON l_partkey = p_partkey), "
        + "pr AS (SELECT DISTINCT a.i AS x, b.i AS y FROM bi a JOIN bi b ON a.b = b.b AND a.i < b.i), "
        + "e AS (SELECT x AS a, y AS b FROM pr UNION SELECT y, x FROM pr), "
        + "r1 AS (SELECT DISTINCT a, b FROM e), "
        + "r2 AS (SELECT DISTINCT a, b FROM (SELECT a, b FROM r1 UNION ALL "
        + "SELECT r1.a, e.b FROM r1 JOIN e ON r1.b = e.a) WHERE a <> b), "
        + "r3 AS (SELECT DISTINCT a, b FROM (SELECT a, b FROM r2 UNION ALL "
        + "SELECT r2.a, e.b FROM r2 JOIN e ON r2.b = e.a) WHERE a <> b) "
        + "SELECT r1c.a AS id, n_hop1, n_hop2, n_hop3 FROM "
        + "(SELECT a, CAST(COUNT(*) AS BIGINT) AS n_hop1 FROM r1 GROUP BY 1) r1c "
        + "JOIN (SELECT a, CAST(COUNT(*) AS BIGINT) AS n_hop2 FROM r2 GROUP BY 1) r2c ON r1c.a = r2c.a "
        + "JOIN (SELECT a, CAST(COUNT(*) AS BIGINT) AS n_hop3 FROM r3 GROUP BY 1) r3c ON r1c.a = r3c.a "
        + "ORDER BY 1"),
    "q237_centroid_matrix" ->
      // q212's quantized per-(label, dim) sums; cos(centroids) ==
      // cos(sum vectors); exact decimal dot/norms, one fixed-order
      // cosine division
      ("WITH e AS (SELECT label, list_transform(CAST(embedding AS DOUBLE[]), x -> round(x * 1024)) AS q "
        + "FROM embeddings WHERE label IS NOT NULL AND len(embedding) = 64), "
        + "st AS (SELECT label, CAST(i AS INTEGER) AS dim, CAST(COUNT(*) AS BIGINT) AS n, "
        + "CAST(SUM(CAST(q[i] AS BIGINT)) AS BIGINT) AS s "
        + "FROM e, unnest(range(1, 65)) u(i) GROUP BY 1, 2), "
        + "p AS (SELECT a.label AS g1, b.label AS g2, MAX(a.n) AS n1, MAX(b.n) AS n2, "
        + "CAST(SUM(CAST(a.s AS DECIMAL(38,0)) * b.s) AS DECIMAL(38,0)) AS dt, "
        + "CAST(SUM(CAST(a.s AS DECIMAL(38,0)) * a.s) AS DECIMAL(38,0)) AS n2a, "
        + "CAST(SUM(CAST(b.s AS DECIMAL(38,0)) * b.s) AS DECIMAL(38,0)) AS n2b "
        + "FROM st a JOIN st b ON a.dim = b.dim AND a.label < b.label GROUP BY 1, 2) "
        + "SELECT g1, g2, CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2, "
        + "CASE WHEN n2a > 0 AND n2b > 0 THEN "
        + "round(CAST(dt AS DOUBLE) / (sqrt(CAST(n2a AS DOUBLE)) * sqrt(CAST(n2b AS DOUBLE))), 6) END AS cos_centroid "
        + "FROM p ORDER BY g1, g2"),
    "q238_dup_source_matrix" ->
      // q225's exact-Jaccard 0.8 pairs rolled up to canonical
      // (source, source) counts
      ("WITH toks AS (SELECT doc_id, str_split(lower(trim(text)), ' ') AS w FROM documents), "
        + "sh AS (SELECT doc_id, list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] "
        + "for i in range(1, len(w) - 1)]) AS ts FROM toks WHERE len(w) >= 3), "
        + "j AS (SELECT a.doc_id AS d1, b.doc_id AS d2, "
        + "CAST(len(list_intersect(a.ts, b.ts)) AS DOUBLE) / "
        + "(len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts))) AS jac "
        + "FROM sh a JOIN sh b ON a.doc_id < b.doc_id "
        + "AND least(len(a.ts), len(b.ts)) >= 0.8 * greatest(len(a.ts), len(b.ts)) - 1e-9 "
        + "WHERE len(a.ts) > 0 AND len(b.ts) > 0), "
        + "p AS (SELECT d1, d2 FROM j WHERE jac >= 0.8), "
        + "m AS (SELECT least(a.source, b.source) AS source_a, greatest(a.source, b.source) AS source_b "
        + "FROM p JOIN documents a ON p.d1 = a.doc_id JOIN documents b ON p.d2 = b.doc_id) "
        + "SELECT source_a, source_b, CAST(COUNT(*) AS BIGINT) AS n_pairs "
        + "FROM m GROUP BY 1, 2 ORDER BY 1, 2"),
    "q239_lexical_diversity" ->
      // vocab-bounded token counts; H = (N*lnuN - sum c*lnuc)/N and
      // Simpson = sum c(c-1)/(N(N-1)) as single fixed-order divisions
      ("WITH tt AS (SELECT source, tok FROM (SELECT source, unnest(str_split(lower(trim(text)), ' ')) AS tok FROM documents) WHERE tok <> ''), "
        + "c AS (SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c FROM tt GROUP BY 1, 2), "
        + "g AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS v, "
        + "CAST(SUM(CAST(c AS DECIMAL(38,0)) * CAST(floor(ln(CAST(c AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)) AS DECIMAL(38,0)) AS cln, "
        + "CAST(SUM(CAST(c AS DECIMAL(38,0)) * (c - 1)) AS DECIMAL(38,0)) AS rep FROM c GROUP BY 1) "
        + "SELECT source, n AS n_tokens, v AS vocab, v * 1000000 // n AS ttr_ppm, "
        + "round(CAST(CAST(n AS DECIMAL(38,0)) * CAST(floor(ln(CAST(n AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) - cln AS DOUBLE) / "
        + "CAST(n AS DOUBLE) / 1000000.0, 6) AS shannon_nats, "
        + "CASE WHEN n > 1 THEN round(CAST(rep AS DOUBLE) / CAST(CAST(n AS DECIMAL(38,0)) * (n - 1) AS DOUBLE), 6) END AS simpson "
        + "FROM g ORDER BY source"),
    "q240_diff_in_diff" ->
      // four exact cells over the day-15 cutover; DiD as one rational
      // over the common denominator, means one double division each
      ("WITH b AS (SELECT user_id % 2 AS g, CASE WHEN date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) >= 15 THEN 1 ELSE 0 END AS p, "
        + "CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS v FROM events WHERE value IS NOT NULL), "
        + "a AS (SELECT "
        + "CAST(SUM(CASE WHEN g = 0 AND p = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n00, "
        + "CAST(SUM(CASE WHEN g = 0 AND p = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n01, "
        + "CAST(SUM(CASE WHEN g <> 0 AND p = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n10, "
        + "CAST(SUM(CASE WHEN g <> 0 AND p = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n11, "
        + "CAST(SUM(CASE WHEN g = 0 AND p = 0 THEN v ELSE 0 END) AS BIGINT) AS s00, "
        + "CAST(SUM(CASE WHEN g = 0 AND p = 1 THEN v ELSE 0 END) AS BIGINT) AS s01, "
        + "CAST(SUM(CASE WHEN g <> 0 AND p = 0 THEN v ELSE 0 END) AS BIGINT) AS s10, "
        + "CAST(SUM(CASE WHEN g <> 0 AND p = 1 THEN v ELSE 0 END) AS BIGINT) AS s11 FROM b) "
        + "SELECT n00, n01, n10, n11, "
        + "CASE WHEN n00 > 0 THEN round(CAST(s00 AS DOUBLE) / CAST(n00 AS DOUBLE) / 1000000.0, 6) END AS m00, "
        + "CASE WHEN n01 > 0 THEN round(CAST(s01 AS DOUBLE) / CAST(n01 AS DOUBLE) / 1000000.0, 6) END AS m01, "
        + "CASE WHEN n10 > 0 THEN round(CAST(s10 AS DOUBLE) / CAST(n10 AS DOUBLE) / 1000000.0, 6) END AS m10, "
        + "CASE WHEN n11 > 0 THEN round(CAST(s11 AS DOUBLE) / CAST(n11 AS DOUBLE) / 1000000.0, 6) END AS m11, "
        + "CASE WHEN n00 > 0 AND n01 > 0 AND n10 > 0 AND n11 > 0 THEN "
        + "round(CAST(CAST(s11 AS DECIMAL(38,0)) * n10 * n01 * n00 - CAST(s10 AS DECIMAL(38,0)) * n11 * n01 * n00 "
        + "- CAST(s01 AS DECIMAL(38,0)) * n11 * n10 * n00 + CAST(s00 AS DECIMAL(38,0)) * n11 * n10 * n01 AS DOUBLE) / "
        + "CAST(CAST(n11 AS DECIMAL(38,0)) * n10 * n01 * n00 AS DOUBLE) / 1000000.0, 6) END AS did "
        + "FROM a"),
    "q241_hll_overlap" ->
      // q170's register/estimator programs per source and per pair
      // (max-merged union), then inclusion-exclusion on the
      // already-1-dp-rounded estimates
      ("WITH tt AS (SELECT source, tok FROM (SELECT source, unnest(str_split(lower(trim(text)), ' ')) AS tok FROM documents) WHERE tok <> ''), "
        + "th AS (SELECT source, list_reduce(list_prepend(CAST(0 AS BIGINT), "
        + "list_transform(range(1, length(tok) + 1), i -> CAST(unicode(substr(tok, CAST(i AS INT), 1)) AS BIGINT))), "
        + "(a, b) -> (a * 31 + b) % 2147483647) AS u FROM tt), "
        + "h AS (SELECT source, ((((u + 1) * 2654435761) % 1000000007) * (((u + 1) * 2654435761) % 1000000007) >> 12) % 512 AS reg, "
        + "((((u + 13) * 1540483477) % 1000000007) * (((u + 13) * 1540483477) % 1000000007) >> 6) % 1073741824 AS h2 FROM th), "
        + "r AS (SELECT source, reg, MAX(CASE WHEN h2 = 0 THEN 31 ELSE 31 - length(bin(h2)) END) AS rho FROM h GROUP BY 1, 2), "
        + "g AS (SELECT source, COUNT(*) AS nz, CAST(SUM(CAST((1::BIGINT << 32) / power(2.0, rho) AS BIGINT)) AS BIGINT) AS spart FROM r GROUP BY 1), "
        + "e1 AS (SELECT source, round(CASE WHEN (512 - nz) > 0 AND 0.7213 / (1.0 + 1.079 / 512.0) * 1125899906842624.0 / "
        + "CAST(spart + (512 - nz) * (1::BIGINT << 32) AS DOUBLE) <= 1280.0 THEN 512.0 * round(ln(512.0 / (512 - nz)), 6) "
        + "ELSE 0.7213 / (1.0 + 1.079 / 512.0) * 1125899906842624.0 / CAST(spart + (512 - nz) * (1::BIGINT << 32) AS DOUBLE) END, 1) AS est FROM g), "
        + "pr AS (SELECT least(r.source, o.source) AS g1, greatest(r.source, o.source) AS g2, r.reg, r.rho "
        + "FROM r, (SELECT DISTINCT source FROM r) o WHERE r.source <> o.source), "
        + "ur AS (SELECT g1, g2, reg, MAX(rho) AS rho FROM pr GROUP BY 1, 2, 3), "
        + "ug AS (SELECT g1, g2, COUNT(*) AS nz, CAST(SUM(CAST((1::BIGINT << 32) / power(2.0, rho) AS BIGINT)) AS BIGINT) AS spart FROM ur GROUP BY 1, 2), "
        + "eu AS (SELECT g1, g2, round(CASE WHEN (512 - nz) > 0 AND 0.7213 / (1.0 + 1.079 / 512.0) * 1125899906842624.0 / "
        + "CAST(spart + (512 - nz) * (1::BIGINT << 32) AS DOUBLE) <= 1280.0 THEN 512.0 * round(ln(512.0 / (512 - nz)), 6) "
        + "ELSE 0.7213 / (1.0 + 1.079 / 512.0) * 1125899906842624.0 / CAST(spart + (512 - nz) * (1::BIGINT << 32) AS DOUBLE) END, 1) AS est_union FROM ug) "
        + "SELECT eu.g1, eu.g2, a.est AS est1, b.est AS est2, est_union, "
        + "greatest(round(a.est + b.est - est_union, 1), 0.0) AS est_inter, "
        + "CASE WHEN est_union > 0 THEN round(greatest(round(a.est + b.est - est_union, 1), 0.0) / est_union, 6) END AS jaccard_est "
        + "FROM eu JOIN e1 a ON eu.g1 = a.source JOIN e1 b ON eu.g2 = b.source ORDER BY 1, 2"),
    "q242_neyman_allocation" ->
      // sigma via one fixed-order floor(sqrt(varnum)/n*1e6+0.5);
      // quotas by DECIMAL integral division; Hamilton largest
      // remainder with (rem desc, stratum asc) tie-break
      ("WITH v AS (SELECT source AS stratum, CAST(n_chars AS BIGINT) AS v FROM documents WHERE n_chars IS NOT NULL), "
        + "st AS (SELECT stratum, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(v) AS BIGINT) AS s, "
        + "CAST(SUM(CAST(v AS DECIMAL(38,0)) * v) AS DECIMAL(38,0)) AS s2 FROM v GROUP BY 1), "
        + "w AS (SELECT stratum, n, CAST(floor(sqrt(CAST(CAST(n AS DECIMAL(38,0)) * s2 - CAST(s AS DECIMAL(38,0)) * s AS DOUBLE)) / n * 1000000.0 + 0.5) AS BIGINT) AS sigma_micro FROM st), "
        + "w2 AS (SELECT stratum, n, sigma_micro, n * sigma_micro AS weight FROM w), "
        + "t AS (SELECT CAST(SUM(CAST(weight AS HUGEINT)) AS HUGEINT) AS tw FROM w2), "
        + "q AS (SELECT stratum, n, sigma_micro, weight, "
        + "CASE WHEN tw > 0 THEN CAST(CAST(weight AS HUGEINT) * 1000000 // tw AS BIGINT) END AS share_ppm, "
        + "CASE WHEN tw > 0 THEN CAST(CAST(weight AS HUGEINT) * 10000 // tw AS BIGINT) END AS base, "
        + "CASE WHEN tw > 0 THEN CAST(weight AS HUGEINT) * 10000 - CAST(CAST(weight AS HUGEINT) * 10000 // tw AS HUGEINT) * tw END AS rem, tw FROM w2, t), "
        + "l AS (SELECT 10000 - COALESCE(SUM(base), 0) AS lft FROM q), "
        + "r AS (SELECT *, row_number() OVER (ORDER BY rem DESC, stratum ASC) AS rk FROM q) "
        + "SELECT stratum, n, sigma_micro, weight, share_ppm, "
        + "CASE WHEN tw > 0 THEN base + CASE WHEN rk <= lft THEN 1 ELSE 0 END END AS n_alloc "
        + "FROM r, l ORDER BY stratum"),
    "q243_multiclass_f1" ->
      // q39's classifier CTEs per doc, then exact-integer confusion
      // folds: ppm metrics by integral division, F1 as one rational
      ("WITH d AS (SELECT lang, list_filter(str_split(lower(trim(text)), ' '), t -> t <> '') AS w FROM documents), "
        + "sc AS (SELECT lang, "
        + "len(list_filter(w, t -> list_contains(['der','die','das','und'], t))) AS s_de, "
        + "len(list_filter(w, t -> list_contains(['the','a','of','and'], t))) AS s_en, "
        + "len(list_filter(w, t -> list_contains(['el','la','los','y'], t))) AS s_es, "
        + "len(list_filter(w, t -> list_contains(['le','la','les','et'], t))) AS s_fr FROM d), "
        + "pp AS (SELECT lang AS g, CASE "
        + "WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de' "
        + "WHEN s_en >= s_es AND s_en >= s_fr THEN 'en' "
        + "WHEN s_es >= s_fr THEN 'es' ELSE 'fr' END AS p FROM sc), "
        + "cm AS (SELECT g, p, CAST(COUNT(*) AS BIGINT) AS n FROM pp GROUP BY 1, 2), "
        + "gold AS (SELECT g AS label, CAST(SUM(n) AS BIGINT) AS n_gold FROM cm GROUP BY 1), "
        + "pred AS (SELECT p AS label, CAST(SUM(n) AS BIGINT) AS n_pred FROM cm GROUP BY 1), "
        + "tp AS (SELECT g AS label, CAST(SUM(n) AS BIGINT) AS tp FROM cm WHERE g = p GROUP BY 1), "
        + "j AS (SELECT COALESCE(gold.label, pred.label) AS label, COALESCE(n_gold, 0) AS n_gold, "
        + "COALESCE(n_pred, 0) AS n_pred FROM gold FULL OUTER JOIN pred ON gold.label = pred.label), "
        + "j2 AS (SELECT j.label, n_gold, n_pred, COALESCE(tp.tp, 0) AS tp FROM j LEFT JOIN tp ON j.label = tp.label), "
        + "f AS (SELECT label, n_gold, n_pred, tp, n_pred - tp AS fp, n_gold - tp AS fn FROM j2) "
        + "SELECT label, n_gold, n_pred, tp, fp, fn, "
        + "CASE WHEN n_pred > 0 THEN tp * 1000000 // n_pred END AS precision_ppm, "
        + "CASE WHEN n_gold > 0 THEN tp * 1000000 // n_gold END AS recall_ppm, "
        + "CASE WHEN 2 * tp + fp + fn > 0 THEN (2 * tp * 1000000) // (2 * tp + fp + fn) END AS f1_ppm "
        + "FROM f ORDER BY label"),
    "q244_sketch_ks" ->
      // the q221 union-sketch replay; sup as an exact DECIMAL argmax
      // (dd desc, idx asc), one 6-dp division for the statistic
      ("WITH d AS (SELECT source, n_chars AS v FROM documents WHERE n_chars IS NOT NULL AND n_chars >= 0), "
        + "k AS (SELECT source, CASE WHEN v = 0 THEN 0 ELSE length(bin(v)) END AS b, "
        + "CASE WHEN v = 0 THEN 0 ELSE (v * 8) // CAST(power(2, length(bin(v))) AS BIGINT) END AS q FROM d), "
        + "sa AS (SELECT source, b, q, COUNT(*) AS na FROM k GROUP BY 1, 2, 3), "
        + "sr AS (SELECT b, q, COUNT(*) AS nr FROM k GROUP BY 1, 2), "
        + "grid AS (SELECT g.source, r.b, r.q, r.nr FROM (SELECT DISTINCT source FROM sa) g CROSS JOIN sr r), "
        + "j AS (SELECT COALESCE(grid.source, sa.source) AS source, COALESCE(grid.b, sa.b) AS b, "
        + "COALESCE(grid.q, sa.q) AS q, COALESCE(sa.na, 0) AS na, COALESCE(grid.nr, 0) AS nr "
        + "FROM grid FULL OUTER JOIN sa ON grid.source = sa.source AND grid.b = sa.b AND grid.q = sa.q), "
        + "t AS (SELECT source, b, q, "
        + "SUM(na) OVER (PARTITION BY source ORDER BY b, q ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca, "
        + "SUM(nr) OVER (PARTITION BY source ORDER BY b, q ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cr, "
        + "SUM(na) OVER (PARTITION BY source) AS ta, SUM(nr) OVER (PARTITION BY source) AS tr, "
        + "COUNT(*) OVER (PARTITION BY source) AS bk FROM j), "
        + "s2 AS (SELECT source, bk, ta, tr, "
        + "abs(CAST(ca AS DECIMAL(38,0)) * tr - CAST(cr AS DECIMAL(38,0)) * ta) AS dd, 4 * b + q AS idx FROM t), "
        + "m AS (SELECT * FROM s2 QUALIFY row_number() OVER (PARTITION BY source ORDER BY dd DESC, idx ASC) = 1) "
        + "SELECT source, CAST(bk AS BIGINT) AS n_buckets, "
        + "round(CAST(dd AS DOUBLE) / (CAST(ta AS DOUBLE) * tr), 6) AS ks, CAST(idx AS BIGINT) AS at_idx "
        + "FROM m ORDER BY source"),
    "q245_rmst" ->
      // q178's KM CTEs; surv micro kept as BIGINT, pure-integer
      // segment areas (min(t_next, tau) - t) * surv_u summed, leading
      // min(t1, tau)*1e6 segment at S = 1
      ("WITH u AS (SELECT user_id, MIN(ts) AS t0, "
        + "MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS tp, MAX(ts) AS tmax "
        + "FROM events GROUP BY 1), "
        + "d AS (SELECT CASE WHEN tp IS NOT NULL THEN date_diff('day', CAST(t0 AS DATE), CAST(tp AS DATE)) "
        + "ELSE date_diff('day', CAST(t0 AS DATE), CAST(tmax AS DATE)) END AS t, "
        + "CASE WHEN tp IS NOT NULL THEN 1 ELSE 0 END AS ev FROM u), "
        + "h AS (SELECT t, CAST(SUM(ev) AS BIGINT) AS d_events, CAST(SUM(1 - ev) AS BIGINT) AS n_censored FROM d GROUP BY 1), "
        + "r AS (SELECT *, SUM(d_events + n_censored) OVER () AS total, "
        + "COALESCE(SUM(d_events + n_censored) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef FROM h), "
        + "r2 AS (SELECT t, d_events, n_censored, CAST(total - bef AS BIGINT) AS n_risk FROM r), "
        + "l AS (SELECT *, "
        + "CAST(CASE WHEN d_events > 0 AND n_risk > d_events THEN "
        + "round(ln(CAST(n_risk - d_events AS DOUBLE) / n_risk), 6) ELSE 0 END AS DECIMAL(28,6)) AS lnt, "
        + "MAX(CASE WHEN d_events > 0 AND n_risk = d_events THEN 1 ELSE 0 END) "
        + "OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS z FROM r2), "
        + "l2 AS (SELECT *, SUM(lnt) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lnsum FROM l), "
        + "kmr AS (SELECT t, CASE WHEN z = 0 THEN CAST(floor(exp(CAST(lnsum AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) ELSE 0 END AS sm "
        + "FROM l2 WHERE d_events > 0), "
        + "sg AS (SELECT t, sm, COALESCE(LEAD(t) OVER (ORDER BY t), 9223372036854775807) AS tn FROM kmr), "
        + "agg AS (SELECT MIN(t) AS t_first, CAST(COUNT(*) AS BIGINT) AS n_curve_rows, "
        + "CAST(SUM(CASE WHEN t < 30 THEN (LEAST(tn, 30) - t) * sm ELSE 0 END) AS BIGINT) AS tl FROM sg) "
        + "SELECT CAST(30 AS BIGINT) AS tau, t_first, n_curve_rows, "
        + "CAST(LEAST(t_first, 30) * 1000000 + tl AS DOUBLE) / 1000000.0 AS rmst FROM agg"),
    "q246_coverage_select" ->
      // the greedy unrolled: five (gains over remaining -> argmax ->
      // grow covered) stages, ties (c desc, doc_id asc), running total
      ("WITH w0 AS (SELECT doc_id, list_filter(str_split(lower(trim(text)), ' '), t -> t <> '') AS ws FROM documents), "
        + "tt AS (SELECT doc_id, unnest([array_to_string(ws[i:i+2], ' ') FOR i IN range(1, len(ws) - 1)]) AS tok FROM w0 WHERE len(ws) >= 3), "
        + "hh AS (SELECT DISTINCT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT), "
        + "list_transform(range(1, length(tok) + 1), i -> CAST(unicode(substr(tok, CAST(i AS INT), 1)) AS BIGINT))), "
        + "(a, b) -> (a * 31 + b) % 2147483647) AS h FROM tt), "
        + "g1 AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS c FROM hh GROUP BY 1), "
        + "p1 AS (SELECT doc_id, c FROM g1 ORDER BY c DESC, doc_id ASC LIMIT 1), "
        + "c1 AS (SELECT DISTINCT h FROM hh WHERE doc_id IN (SELECT doc_id FROM p1)), "
        + "r2 AS (SELECT * FROM hh WHERE h NOT IN (SELECT h FROM c1)), "
        + "g2 AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS c FROM r2 GROUP BY 1), "
        + "p2 AS (SELECT doc_id, c FROM g2 ORDER BY c DESC, doc_id ASC LIMIT 1), "
        + "c2 AS (SELECT DISTINCT h FROM hh WHERE doc_id IN (SELECT doc_id FROM p1 UNION SELECT doc_id FROM p2)), "
        + "r3 AS (SELECT * FROM hh WHERE h NOT IN (SELECT h FROM c2)), "
        + "g3 AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS c FROM r3 GROUP BY 1), "
        + "p3 AS (SELECT doc_id, c FROM g3 ORDER BY c DESC, doc_id ASC LIMIT 1), "
        + "c3 AS (SELECT DISTINCT h FROM hh WHERE doc_id IN (SELECT doc_id FROM p1 UNION SELECT doc_id FROM p2 UNION SELECT doc_id FROM p3)), "
        + "r4 AS (SELECT * FROM hh WHERE h NOT IN (SELECT h FROM c3)), "
        + "g4 AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS c FROM r4 GROUP BY 1), "
        + "p4 AS (SELECT doc_id, c FROM g4 ORDER BY c DESC, doc_id ASC LIMIT 1), "
        + "c4 AS (SELECT DISTINCT h FROM hh WHERE doc_id IN (SELECT doc_id FROM p1 UNION SELECT doc_id FROM p2 UNION SELECT doc_id FROM p3 UNION SELECT doc_id FROM p4)), "
        + "r5 AS (SELECT * FROM hh WHERE h NOT IN (SELECT h FROM c4)), "
        + "g5 AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS c FROM r5 GROUP BY 1), "
        + "p5 AS (SELECT doc_id, c FROM g5 ORDER BY c DESC, doc_id ASC LIMIT 1), "
        + "picks AS (SELECT 1 AS sel_round, doc_id, c FROM p1 UNION ALL SELECT 2, doc_id, c FROM p2 "
        + "UNION ALL SELECT 3, doc_id, c FROM p3 UNION ALL SELECT 4, doc_id, c FROM p4 UNION ALL SELECT 5, doc_id, c FROM p5) "
        + "SELECT CAST(sel_round AS BIGINT) AS sel_round, doc_id, c AS gain, "
        + "CAST(SUM(c) OVER (ORDER BY sel_round ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS covered_total "
        + "FROM picks ORDER BY sel_round"),
    "q247_water_fill" ->
      // sorted-prefix water level: served iff supply*(n-i+1) <=
      // B - P_{i-1} (pure integers); leftover splits R div m with the
      // first R mod m uncapped getting +1
      ("WITH s0 AS (SELECT source AS stratum, CAST(SUM(len(list_filter(str_split(lower(trim(text)), ' '), t -> t <> ''))) AS BIGINT) AS supply "
        + "FROM documents GROUP BY 1), "
        + "r AS (SELECT *, CAST(row_number() OVER (ORDER BY supply, stratum) AS BIGINT) AS i, "
        + "CAST(COALESCE(SUM(supply) OVER (ORDER BY supply, stratum ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS pprev FROM s0), "
        + "t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM s0), "
        + "m AS (SELECT r.*, n, (supply * (n - i + 1) <= 100000 - pprev) AS served FROM r, t), "
        + "l AS (SELECT CAST(SUM(CASE WHEN served THEN 1 ELSE 0 END) AS BIGINT) AS istar, "
        + "CAST(SUM(CASE WHEN served THEN supply ELSE 0 END) AS BIGINT) AS pstar FROM m), "
        + "f AS (SELECT m.*, istar, n - istar AS mm, 100000 - pstar AS rr FROM m, l) "
        + "SELECT stratum, supply, "
        + "CASE WHEN served THEN supply ELSE rr // mm + CASE WHEN i - istar <= rr % mm THEN 1 ELSE 0 END END AS alloc, "
        + "NOT served AS capped FROM f ORDER BY stratum"),
    "q248_simpson_audit" ->
      // per-group and pooled covariance-numerator signs from the same
      // partial sums; no division, no float decides
      ("WITH b AS (SELECT event_type AS g, CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) AS x, "
        + "CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS y FROM events WHERE value IS NOT NULL AND ts IS NOT NULL), "
        + "p AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy, "
        + "CAST(SUM(CAST(x AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS sxy FROM b GROUP BY 1), "
        + "ps AS (SELECT g, n, sx, sy, sxy, CASE "
        + "WHEN CAST(n AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy > 0 THEN 1 "
        + "WHEN CAST(n AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy < 0 THEN -1 ELSE 0 END AS sgn FROM p), "
        + "pl AS (SELECT CASE "
        + "WHEN CAST(SUM(n) AS DECIMAL(38,0)) * CAST(SUM(sxy) AS DECIMAL(38,0)) - CAST(SUM(sx) AS DECIMAL(38,0)) * CAST(SUM(sy) AS DECIMAL(38,0)) > 0 THEN 1 "
        + "WHEN CAST(SUM(n) AS DECIMAL(38,0)) * CAST(SUM(sxy) AS DECIMAL(38,0)) - CAST(SUM(sx) AS DECIMAL(38,0)) * CAST(SUM(sy) AS DECIMAL(38,0)) < 0 THEN -1 ELSE 0 END AS pooled_sign FROM ps) "
        + "SELECT CAST(COUNT(*) AS BIGINT) AS n_groups, pooled_sign, "
        + "CAST(SUM(CASE WHEN sgn = pooled_sign AND sgn <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_agree, "
        + "CAST(SUM(CASE WHEN sgn <> pooled_sign AND sgn <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_oppose, "
        + "CAST(SUM(CASE WHEN sgn = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero, "
        + "(pooled_sign <> 0 AND SUM(CASE WHEN sgn <> pooled_sign AND sgn <> 0 THEN 1 ELSE 0 END) > 0 "
        + "AND SUM(CASE WHEN sgn = pooled_sign AND sgn <> 0 THEN 1 ELSE 0 END) = 0) AS paradox "
        + "FROM ps, pl GROUP BY pooled_sign"),
    "q249_image_patches" ->
      // gray-pixel luma == text byte (BT.601 weights sum 1000), so the
      // 4x4 patch grid replays from positions y*w + x, space-padded
      ("WITH d AS (SELECT doc_id, lang, text, length(text) AS tl, 8 + doc_id % 9 AS w, 5 + doc_id % 7 AS h FROM documents), "
        + "px AS (SELECT doc_id, lang, (i // w) // 4 AS pr, (i % w) // 4 AS pcc, "
        + "CASE WHEN i < tl THEN unicode(substr(text, CAST(i + 1 AS BIGINT), 1)) ELSE 32 END AS g "
        + "FROM d, unnest(range(0, w * h)) u(i)), "
        + "pp AS (SELECT doc_id, lang, pr, pcc, CAST(COUNT(*) AS BIGINT) AS n_px, CAST(SUM(g) AS BIGINT) AS luma "
        + "FROM px GROUP BY 1, 2, 3, 4) "
        + "SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_patches, CAST(SUM(n_px) AS BIGINT) AS total_px, "
        + "CAST(SUM(CASE WHEN n_px = 16 THEN 1 ELSE 0 END) AS BIGINT) AS n_full, "
        + "CAST(SUM(luma) AS BIGINT) AS sum_luma, "
        + "CAST(SUM(luma * 1000000 // n_px) AS BIGINT) AS sum_patch_mean_micro, "
        + "CAST(MAX(pr) AS INTEGER) AS max_pr, CAST(MAX(pcc) AS INTEGER) AS max_pc "
        + "FROM pp GROUP BY 1 ORDER BY 1"),
    "q250_audio_frames" ->
      // sample = byte*257 - 32768 (the q110 fixture), 30-sample
      // frames over the 120-sample clips, exact integer sums
      ("WITH d AS (SELECT doc_id, lang, text, length(text) AS tl FROM documents), "
        + "sm AS (SELECT doc_id, lang, i // 30 AS f, "
        + "(CASE WHEN i < tl THEN unicode(substr(text, CAST(i + 1 AS BIGINT), 1)) ELSE 32 END) * 257 - 32768 AS s "
        + "FROM d, unnest(range(0, 120)) u(i)), "
        + "fr AS (SELECT doc_id, lang, f, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(abs(s)) AS BIGINT) AS sa, "
        + "CAST(SUM(CAST(s AS BIGINT) * s) AS BIGINT) AS en, CAST(MAX(abs(s)) AS INTEGER) AS pk FROM sm GROUP BY 1, 2, 3) "
        + "SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_frames, CAST(SUM(sa) AS BIGINT) AS total_abs, "
        + "CAST(SUM(en) AS BIGINT) AS total_energy, "
        + "CAST(SUM(CASE WHEN sa > n * 8000 THEN 1 ELSE 0 END) AS BIGINT) AS n_active, "
        + "CAST(MAX(pk) AS INTEGER) AS max_peak "
        + "FROM fr GROUP BY 1 ORDER BY 1"),
    "q251_rejection_attribution" ->
      // q206's hashed-score CTEs + min-id dup rule; first-fail in
      // pipeline order, unconditional totals beside it
      ("WITH t AS (SELECT doc_id, unnest(str_split(lower(trim(text)), ' ')) AS tok FROM documents), "
        + "h AS (SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT), "
        + "list_transform(range(1, length(tok) + 1), i -> CAST(unicode(substr(tok, CAST(i AS INT), 1)) AS BIGINT))), "
        + "(a, b) -> (a * 31 + b) % 2147483647) AS th FROM t WHERE tok <> ''), "
        + "w AS (SELECT doc_id, ((th % 64) * 2654435761) % 1000000007 % 2001 - 1000 AS wt FROM h), "
        + "d AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_toks, CAST(SUM(wt) AS BIGINT) AS score FROM w GROUP BY 1), "
        + "d2 AS (SELECT documents.doc_id, COALESCE(n_toks, 0) AS n_toks, COALESCE(score, 0) AS score, "
        + "(documents.doc_id > MIN(documents.doc_id) OVER (PARTITION BY lower(trim(text)))) AS is_dup "
        + "FROM documents LEFT JOIN d ON documents.doc_id = d.doc_id), "
        + "g AS (SELECT CASE WHEN n_toks < 20 THEN 'too_short' WHEN score < 0 THEN 'low_quality' "
        + "WHEN is_dup THEN 'exact_dup' ELSE 'kept' END AS fg, "
        + "n_toks < 20 AS f1, score < 0 AS f2, is_dup AS f3 FROM d2), "
        + "a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, "
        + "CAST(SUM(CASE WHEN fg = 'too_short' THEN 1 ELSE 0 END) AS BIGINT) AS a1, "
        + "CAST(SUM(CASE WHEN f1 THEN 1 ELSE 0 END) AS BIGINT) AS t1, "
        + "CAST(SUM(CASE WHEN fg = 'low_quality' THEN 1 ELSE 0 END) AS BIGINT) AS a2, "
        + "CAST(SUM(CASE WHEN f2 THEN 1 ELSE 0 END) AS BIGINT) AS t2, "
        + "CAST(SUM(CASE WHEN fg = 'exact_dup' THEN 1 ELSE 0 END) AS BIGINT) AS a3, "
        + "CAST(SUM(CASE WHEN f3 THEN 1 ELSE 0 END) AS BIGINT) AS t3, "
        + "CAST(SUM(CASE WHEN fg = 'kept' THEN 1 ELSE 0 END) AS BIGINT) AS ak FROM g), "
        + "u AS (SELECT 'too_short' AS gate, a1 AS n_first, t1 AS n_failing, n FROM a "
        + "UNION ALL SELECT 'low_quality', a2, t2, n FROM a "
        + "UNION ALL SELECT 'exact_dup', a3, t3, n FROM a "
        + "UNION ALL SELECT 'kept', ak, CAST(NULL AS BIGINT), n FROM a) "
        + "SELECT gate, n_first, n_failing, "
        + "CASE WHEN n > 0 THEN n_first * 1000000 // n END AS first_ppm, "
        + "CASE WHEN n > 0 AND n_failing IS NOT NULL THEN n_failing * 1000000 // n END AS failing_ppm "
        + "FROM u ORDER BY gate"),
    "q252_loo_ablation" ->
      // q206's hashed-score CTEs kept per source; delta as ONE
      // DECIMAL rational ((S-Sg)*N - S*(N-Ng)) / (N*(N-Ng))
      ("WITH t AS (SELECT doc_id, source, unnest(str_split(lower(trim(text)), ' ')) AS tok FROM documents), "
        + "h AS (SELECT doc_id, source, list_reduce(list_prepend(CAST(0 AS BIGINT), "
        + "list_transform(range(1, length(tok) + 1), i -> CAST(unicode(substr(tok, CAST(i AS INT), 1)) AS BIGINT))), "
        + "(a, b) -> (a * 31 + b) % 2147483647) AS th FROM t WHERE tok <> ''), "
        + "w AS (SELECT doc_id, source, ((th % 64) * 2654435761) % 1000000007 % 2001 - 1000 AS wt FROM h), "
        + "d AS (SELECT doc_id, source, CAST(SUM(wt) AS BIGINT) AS score FROM w GROUP BY 1, 2), "
        + "p AS (SELECT source AS grp, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(score) AS BIGINT) AS s FROM d GROUP BY 1), "
        + "t2 AS (SELECT CAST(SUM(n) AS BIGINT) AS nt, CAST(SUM(s) AS BIGINT) AS st FROM p) "
        + "SELECT grp, n, round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean, "
        + "CASE WHEN nt - n > 0 THEN round(CAST(st - s AS DOUBLE) / CAST(nt - n AS DOUBLE), 6) END AS loo_mean, "
        + "CASE WHEN nt - n > 0 THEN round(CAST(CAST(st - s AS DECIMAL(38,0)) * nt - CAST(st AS DECIMAL(38,0)) * (nt - n) AS DOUBLE) / "
        + "CAST(CAST(nt AS DECIMAL(38,0)) * (nt - n) AS DOUBLE), 6) END AS delta, "
        + "n * 1000000 // nt AS share_ppm "
        + "FROM p, t2 ORDER BY grp"),
    "q253_corpus_bleu" ->
      // clipped n-gram precisions pooled corpus-level; micro-nat lns,
      // BP on one quantized division, pr6 exp on the fixed-order sum
      ("WITH d AS (SELECT doc_id, lang, list_filter(str_split(lower(trim(text)), ' '), t -> t <> '') AS ws FROM documents), "
        + "pm AS (SELECT doc_id AS cid, rid FROM (SELECT doc_id, lang, "
        + "LEAD(doc_id) OVER (PARTITION BY lang ORDER BY doc_id) AS rid FROM d) WHERE rid IS NOT NULL), "
        + "dh AS (SELECT doc_id, list_transform(ws, t -> list_reduce(list_prepend(CAST(0 AS BIGINT), "
        + "list_transform(range(1, length(t) + 1), i -> CAST(unicode(substr(t, CAST(i AS INT), 1)) AS BIGINT))), "
        + "(a, b) -> (a * 31 + b) % 2147483647)) AS hs FROM d), "
        + "g0 AS (SELECT doc_id, 1 AS n, unnest([hs[i:i] FOR i IN range(1, len(hs) + 1)]) AS gl FROM dh WHERE len(hs) >= 1 "
        + "UNION ALL SELECT doc_id, 2, unnest([hs[i:i+1] FOR i IN range(1, len(hs))]) FROM dh WHERE len(hs) >= 2 "
        + "UNION ALL SELECT doc_id, 3, unnest([hs[i:i+2] FOR i IN range(1, len(hs) - 1)]) FROM dh WHERE len(hs) >= 3 "
        + "UNION ALL SELECT doc_id, 4, unnest([hs[i:i+3] FOR i IN range(1, len(hs) - 2)]) FROM dh WHERE len(hs) >= 4), "
        + "gr AS (SELECT doc_id, n, gh, CAST(COUNT(*) AS BIGINT) AS c FROM ("
        + "SELECT doc_id, n, list_reduce(list_prepend(CAST(0 AS BIGINT), gl), "
        + "(a, b) -> (a * 31 + b) % 2147483647) AS gh FROM g0) GROUP BY 1, 2, 3), "
        + "cc2 AS (SELECT pm.cid AS p, n, gh, c AS cc FROM gr JOIN pm ON gr.doc_id = pm.cid), "
        + "rr2 AS (SELECT pm.cid AS p, n, gh, c AS cr FROM gr JOIN pm ON gr.doc_id = pm.rid), "
        + "j AS (SELECT cc2.n, cc2.cc, COALESCE(rr2.cr, 0) AS cr FROM cc2 LEFT JOIN rr2 "
        + "ON cc2.p = rr2.p AND cc2.n = rr2.n AND cc2.gh = rr2.gh), "
        + "pn AS (SELECT n, CAST(SUM(cc) AS BIGINT) AS tot, CAST(SUM(LEAST(cc, cr)) AS BIGINT) AS clip FROM j GROUP BY 1), "
        + "pv AS (SELECT "
        + "COALESCE(CAST(SUM(CASE WHEN n = 1 THEN clip END) AS BIGINT), 0) AS c1, COALESCE(CAST(SUM(CASE WHEN n = 1 THEN tot END) AS BIGINT), 0) AS t1, "
        + "COALESCE(CAST(SUM(CASE WHEN n = 2 THEN clip END) AS BIGINT), 0) AS c2, COALESCE(CAST(SUM(CASE WHEN n = 2 THEN tot END) AS BIGINT), 0) AS t2, "
        + "COALESCE(CAST(SUM(CASE WHEN n = 3 THEN clip END) AS BIGINT), 0) AS c3, COALESCE(CAST(SUM(CASE WHEN n = 3 THEN tot END) AS BIGINT), 0) AS t3, "
        + "COALESCE(CAST(SUM(CASE WHEN n = 4 THEN clip END) AS BIGINT), 0) AS c4, COALESCE(CAST(SUM(CASE WHEN n = 4 THEN tot END) AS BIGINT), 0) AS t4 FROM pn), "
        + "dl AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS l FROM d), "
        + "ln2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs, CAST(SUM(c.l) AS BIGINT) AS cand_tokens, "
        + "CAST(SUM(r.l) AS BIGINT) AS ref_tokens FROM pm JOIN dl c ON pm.cid = c.doc_id JOIN dl r ON pm.rid = r.doc_id), "
        + "f AS (SELECT *, CASE WHEN cand_tokens >= ref_tokens THEN 0 "
        + "ELSE CAST(floor((1.0 - CAST(ref_tokens AS DOUBLE) / CAST(cand_tokens AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) END AS bp_micro "
        + "FROM ln2, pv) "
        + "SELECT n_pairs, cand_tokens, ref_tokens, "
        + "CASE WHEN t1 > 0 THEN round(CAST(c1 AS DOUBLE) / CAST(t1 AS DOUBLE), 6) END AS p1, "
        + "CASE WHEN t2 > 0 THEN round(CAST(c2 AS DOUBLE) / CAST(t2 AS DOUBLE), 6) END AS p2, "
        + "CASE WHEN t3 > 0 THEN round(CAST(c3 AS DOUBLE) / CAST(t3 AS DOUBLE), 6) END AS p3, "
        + "CASE WHEN t4 > 0 THEN round(CAST(c4 AS DOUBLE) / CAST(t4 AS DOUBLE), 6) END AS p4, "
        + "bp_micro, "
        + "CASE WHEN c1 > 0 AND t1 > 0 AND c2 > 0 AND t2 > 0 AND c3 > 0 AND t3 > 0 AND c4 > 0 AND t4 > 0 THEN "
        + "CAST(CAST(floor(exp((CAST(bp_micro AS DOUBLE) + "
        + "CAST(CAST(floor(ln(CAST(c1 AS DOUBLE) / CAST(t1 AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) "
        + "+ CAST(floor(ln(CAST(c2 AS DOUBLE) / CAST(t2 AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) "
        + "+ CAST(floor(ln(CAST(c3 AS DOUBLE) / CAST(t3 AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) "
        + "+ CAST(floor(ln(CAST(c4 AS DOUBLE) / CAST(t4 AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS DOUBLE) / 4.0) "
        + "/ 1000000.0) * 1000000.0 + 0.5) AS BIGINT) AS DOUBLE) / 1000000.0 ELSE 0.0 END AS bleu "
        + "FROM f"),
    "q254_pipeline_dataprep" ->
      // q49's oracle verbatim (the declarative pipeline must compute
      // exactly what the library composition computes), with the
      // lang_id stage's output column named `predicted`
      ("WITH survivors AS (SELECT MIN(doc_id) AS doc_id FROM documents " +
        "GROUP BY LOWER(TRIM(text))), " +
        "d AS (SELECT doc_id, lang, n_chars, " +
        "list_filter(str_split(lower(trim(text)), ' '), t -> t <> '') AS w " +
        "FROM documents JOIN survivors USING (doc_id)), " +
        "m AS (SELECT lang, n_chars, len(w) AS n_tok, " +
        "len(list_filter(w, t -> list_contains(['the','a','of','and','in','to','is'], t))) AS n_stop, " +
        "len(list_filter(w, t -> list_contains(['der','die','das','und'], t))) AS s_de, " +
        "len(list_filter(w, t -> list_contains(['the','a','of','and'], t))) AS s_en, " +
        "len(list_filter(w, t -> list_contains(['el','la','los','y'], t))) AS s_es, " +
        "len(list_filter(w, t -> list_contains(['le','la','les','et'], t))) AS s_fr FROM d), " +
        "f AS (SELECT lang, n_chars, CASE " +
        "WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de' " +
        "WHEN s_en >= s_es AND s_en >= s_fr THEN 'en' " +
        "WHEN s_es >= s_fr THEN 'es' ELSE 'fr' END AS predicted " +
        "FROM m WHERE n_tok >= 10 AND 2 * n_stop < n_tok) " +
        "SELECT lang, predicted, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS sum_chars " +
        "FROM f GROUP BY lang, predicted ORDER BY lang, predicted"),
    "q255_containment_incremental" -> containmentIncrOracle,
    "q256_bottomk_intersect" ->
      // bottom-k signature program (mid-square hv, per-source rank
      // <= 256, pair-merged rank <= 256, flag sums) + q241's HLL
      // pair-union estimator; final composition on the same rounded
      // operands as the engine
      ("WITH tt AS (SELECT source, tok FROM (SELECT source, unnest(str_split(lower(trim(text)), ' ')) AS tok FROM documents) WHERE tok <> ''), "
        + "th AS (SELECT source, list_reduce(list_prepend(CAST(0 AS BIGINT), "
        + "list_transform(range(1, length(tok) + 1), i -> CAST(unicode(substr(tok, CAST(i AS INT), 1)) AS BIGINT))), "
        + "(a, b) -> (a * 31 + b) % 2147483647) AS u FROM tt), "
        + "bk0 AS (SELECT DISTINCT source, ((((u + 7) * 1803349453) % 1000000007) * (((u + 7) * 1803349453) % 1000000007) >> 12) % 1099511627776 AS hv FROM th), "
        + "sig AS (SELECT source, hv FROM (SELECT source, hv, row_number() OVER (PARTITION BY source ORDER BY hv) AS rn FROM bk0) WHERE rn <= 256), "
        + "pr0 AS (SELECT least(s.source, o.source) AS g1, greatest(s.source, o.source) AS g2, s.hv, (s.source <= o.source) AS in1 "
        + "FROM sig s, (SELECT DISTINCT source FROM sig) o WHERE s.source <> o.source), "
        + "mk AS (SELECT g1, g2, hv, MAX(CASE WHEN in1 THEN 1 ELSE 0 END) AS i1, MAX(CASE WHEN NOT in1 THEN 1 ELSE 0 END) AS i2 FROM pr0 GROUP BY 1, 2, 3), "
        + "sm AS (SELECT g1, g2, i1 * i2 AS bo, row_number() OVER (PARTITION BY g1, g2 ORDER BY hv) AS rn FROM mk), "
        + "jj AS (SELECT g1, g2, CAST(COUNT(*) AS BIGINT) AS n_sample, CAST(SUM(bo) AS BIGINT) AS n_both, "
        + "round(CAST(SUM(bo) AS DOUBLE) / COUNT(*), 6) AS jaccard_bk FROM sm WHERE rn <= 256 GROUP BY 1, 2), "
        + "h AS (SELECT source, ((((u + 1) * 2654435761) % 1000000007) * (((u + 1) * 2654435761) % 1000000007) >> 12) % 512 AS reg, "
        + "((((u + 13) * 1540483477) % 1000000007) * (((u + 13) * 1540483477) % 1000000007) >> 6) % 1073741824 AS h2 FROM th), "
        + "r AS (SELECT source, reg, MAX(CASE WHEN h2 = 0 THEN 31 ELSE 31 - length(bin(h2)) END) AS rho FROM h GROUP BY 1, 2), "
        + "pr AS (SELECT least(r.source, o.source) AS g1, greatest(r.source, o.source) AS g2, r.reg, r.rho "
        + "FROM r, (SELECT DISTINCT source FROM r) o WHERE r.source <> o.source), "
        + "ur AS (SELECT g1, g2, reg, MAX(rho) AS rho FROM pr GROUP BY 1, 2, 3), "
        + "ug AS (SELECT g1, g2, COUNT(*) AS nz, CAST(SUM(CAST((1::BIGINT << 32) / power(2.0, rho) AS BIGINT)) AS BIGINT) AS spart FROM ur GROUP BY 1, 2), "
        + "eu AS (SELECT g1, g2, round(CASE WHEN (512 - nz) > 0 AND 0.7213 / (1.0 + 1.079 / 512.0) * 1125899906842624.0 / "
        + "CAST(spart + (512 - nz) * (1::BIGINT << 32) AS DOUBLE) <= 1280.0 THEN 512.0 * round(ln(512.0 / (512 - nz)), 6) "
        + "ELSE 0.7213 / (1.0 + 1.079 / 512.0) * 1125899906842624.0 / CAST(spart + (512 - nz) * (1::BIGINT << 32) AS DOUBLE) END, 1) AS est_union FROM ug) "
        + "SELECT jj.g1, jj.g2, n_sample, n_both, jaccard_bk, est_union, "
        + "round(jaccard_bk * est_union, 1) AS est_inter "
        + "FROM jj JOIN eu ON jj.g1 = eu.g1 AND jj.g2 = eu.g2 ORDER BY 1, 2"),
    "q257_unigram_train" -> unigramOracleSql(3, 40, 4),
    "q258_jpeg_decode" ->
      // replay the DECODED-pixel stats from the raw text: block i of
      // doc is flat at byte i's codepoint (space-padded), 64 px per
      // block, luma(g,g,g) = g, bin = g // 16 — matches only if the
      // whole JPEG marker/Huffman/IDCT round trip is bit-exact
      ("WITH dm AS (SELECT doc_id, lang, text, 1 + doc_id % 3 AS bw, 1 + doc_id % 2 AS bh FROM documents), " +
        "c AS (SELECT doc_id, lang, bw, bh, bw*bh AS nb, text, unnest(range(bw*bh)) AS i FROM dm), " +
        "g AS (SELECT doc_id, lang, bw, bh, nb, " +
        "CASE WHEN i < length(text) THEN ord(substr(text, CAST(i + 1 AS INT), 1)) ELSE 32 END AS gv FROM c), " +
        "per AS (SELECT doc_id, lang, bw, bh, nb, CAST(SUM(gv) * 64 AS BIGINT) AS s, " +
        "CAST(SUM(CASE WHEN gv // 16 = 2 THEN 64 ELSE 0 END) AS BIGINT) AS h2, " +
        "CAST(SUM(CASE WHEN gv // 16 = 6 THEN 64 ELSE 0 END) AS BIGINT) AS h6, " +
        "CAST(SUM(CASE WHEN gv // 16 = 7 THEN 64 ELSE 0 END) AS BIGINT) AS h7 " +
        "FROM g GROUP BY doc_id, lang, bw, bh, nb) " +
        "SELECT lang, COUNT(*) AS n, CAST(SUM(bw * 8) AS BIGINT) AS sum_w, " +
        "CAST(SUM(bh * 8) AS BIGINT) AS sum_h, " +
        "CAST(SUM(nb * 64) AS BIGINT) AS total_pixels, " +
        "CAST(SUM(s * 1000000 // (nb * 64)) AS BIGINT) AS sum_mean_micro, " +
        "CAST(SUM(h2) AS BIGINT) AS h2, CAST(SUM(h6) AS BIGINT) AS h6, " +
        "CAST(SUM(h7) AS BIGINT) AS h7 " +
        "FROM per GROUP BY lang ORDER BY lang"),
    "q259_ivf_sqrt" -> ivfSqrtOracle,
    "q280_pq_encode_sqrt" ->
      // q125's training + encode with the stride CTEs deriving
      // N div ceil(sqrt(N)) exactly as Similarity.sqrtStride does
      (pqOracleCtes(derivedStride = true) +
        ", us AS (SELECT s, cid, COUNT(*) AS n_docs FROM enc GROUP BY s, cid) " +
        "SELECT c1.s AS sub, c1.cid, " +
        "CAST(list_dot_product(c1.cv, c1.cv) AS BIGINT) AS mu_dot, " +
        "CAST(COALESCE(us.n_docs, 0) AS BIGINT) AS n_docs " +
        "FROM c1 LEFT JOIN us USING (s, cid) ORDER BY sub, cid"),
    "q281_pq_adc_sqrt" ->
      // q126's ADC tail over the derived-stride codebook
      (pqOracleCtes(derivedStride = true) +
        ", tq AS (SELECT s, sv FROM sub WHERE vec_id = 3), " +
        "lut AS (SELECT c1.s, c1.cid, " +
        "list_dot_product(tq.sv, tq.sv) - 2 * list_dot_product(tq.sv, c1.cv) + list_dot_product(c1.cv, c1.cv) AS d2 " +
        "FROM c1 JOIN tq USING (s)), " +
        "sc AS (SELECT enc.vec_id, CAST(SUM(lut.d2) AS BIGINT) AS adc_d2 " +
        "FROM enc JOIN lut USING (s, cid) WHERE enc.vec_id <> 3 GROUP BY enc.vec_id) " +
        "SELECT vec_id, adc_d2 FROM sc ORDER BY adc_d2, vec_id LIMIT 10"),
    "q286_pipeline_neardup" ->
      // q60's oracle VERBATIM — the declarative near-dup pipeline must
      // compute exactly what the library composition computes
      dedupPipelineOracle,
    "q287_pipeline_keeper" ->
      // the q225 closure + score CTEs; survivors = everything except
      // non-rank-1 cluster members, reported per lang
      (qualityKeeperCtes
        + "SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars "
        + "FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM r WHERE rn > 1) "
        + "GROUP BY lang ORDER BY lang"),
    "q288_rake_serving" ->
      // q271's stoplist + word-score program trained on the HISTORY
      // split only, then per serving doc: per-occurrence phrase scores
      // (unknown words 0 via LEFT JOIN), the (s desc, phrase asc) top,
      // phrase count and total; no-phrase docs report 0/NULL
      ("WITH w AS (SELECT doc_id, list_filter(str_split(lower(trim(text)), ' '), x -> x <> '') AS toks FROM documents), "
        + "h AS (SELECT * FROM w WHERE doc_id % 10 <> 0), "
        + "uni AS (SELECT unnest(toks) AS tok FROM h), "
        + "uc AS (SELECT tok, COUNT(*) AS c FROM uni GROUP BY 1), "
        + "st AS (SELECT tok FROM (SELECT tok, row_number() OVER (ORDER BY c DESC, tok ASC) AS rn FROM uc) WHERE rn <= 20), "
        + "sl AS (SELECT list(tok) AS stops FROM st), "
        + "hp0 AS (SELECT unnest(str_split(array_to_string(list_transform(h.toks, "
        + "x -> CASE WHEN list_contains(sl.stops, x) THEN chr(1) ELSE x END), ' '), chr(1))) AS p "
        + "FROM h CROSS JOIN sl), "
        + "hphr AS (SELECT trim(p) AS phrase FROM hp0 WHERE trim(p) <> '' AND len(str_split(trim(p), ' ')) <= 4), "
        + "hpw AS (SELECT phrase, len(str_split(phrase, ' ')) AS plen, unnest(str_split(phrase, ' ')) AS wd FROM hphr), "
        + "ws2 AS (SELECT wd, (CAST(SUM(plen) AS BIGINT) * 1000000) // COUNT(*) AS wscore FROM hpw GROUP BY wd), "
        + "srv AS (SELECT * FROM w WHERE doc_id % 10 = 0), "
        + "sarr AS (SELECT doc_id, str_split(array_to_string(list_transform(toks, "
        + "x -> CASE WHEN list_contains(sl.stops, x) THEN chr(1) ELSE x END), ' '), chr(1)) AS arr "
        + "FROM srv CROSS JOIN sl), "
        + "sp0 AS (SELECT doc_id, CAST(u.i AS BIGINT) AS occ, arr[CAST(u.i AS INT)] AS p "
        + "FROM sarr, UNNEST(range(1, len(arr) + 1)) AS u(i)), "
        + "sphr AS (SELECT doc_id, occ, trim(p) AS phrase FROM sp0 "
        + "WHERE trim(p) <> '' AND len(str_split(trim(p), ' ')) <= 4), "
        + "swd AS (SELECT doc_id, occ, phrase, unnest(str_split(phrase, ' ')) AS wd FROM sphr), "
        + "ssc AS (SELECT doc_id, occ, phrase, CAST(SUM(COALESCE(ws2.wscore, 0)) AS BIGINT) AS s "
        + "FROM swd LEFT JOIN ws2 USING (wd) GROUP BY 1, 2, 3), "
        + "ag AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_phrases, "
        + "CAST(SUM(s) AS BIGINT) AS sum_score_micro FROM ssc GROUP BY 1), "
        + "tp AS (SELECT doc_id, phrase AS top_phrase, s AS top_score_micro FROM "
        + "(SELECT doc_id, phrase, s, row_number() OVER (PARTITION BY doc_id ORDER BY s DESC, phrase ASC) AS rn FROM ssc) WHERE rn = 1) "
        + "SELECT srv.doc_id, COALESCE(ag.n_phrases, 0) AS n_phrases, "
        + "tp.top_phrase, tp.top_score_micro, "
        + "COALESCE(ag.sum_score_micro, 0) AS sum_score_micro "
        + "FROM srv LEFT JOIN ag USING (doc_id) LEFT JOIN tp USING (doc_id) ORDER BY doc_id"),
    "q282_kmeans_sqrt" -> kmeansRefineOracle(derivedStride = true),
    "q283_ivf_trained_sqrt" -> ivfTrainedOracle(derivedStride = true),
    "q284_ivf_knn_join_sqrt" -> ivfKnnJoinOracle(derivedStride = true),
    "q285_bleu_multiref" ->
      // q253's gram/score program with the multi-ref deltas: candidate
      // grams join DISTINCT cids, ref counts take the per-(cid,n,gh)
      // MAX over that candidate's references, and ref_tokens sums the
      // per-candidate closest reference length (ties to the shorter)
      ("WITH d AS (SELECT doc_id, lang, list_filter(str_split(lower(trim(text)), ' '), t -> t <> '') AS ws FROM documents), "
        + "pm0 AS (SELECT doc_id, LEAD(doc_id) OVER (PARTITION BY lang ORDER BY doc_id) AS r1, "
        + "LEAD(doc_id, 2) OVER (PARTITION BY lang ORDER BY doc_id) AS r2 FROM d), "
        + "pm AS (SELECT doc_id AS cid, r1 AS rid FROM pm0 WHERE r1 IS NOT NULL "
        + "UNION ALL SELECT doc_id, r2 FROM pm0 WHERE r2 IS NOT NULL), "
        + "dh AS (SELECT doc_id, list_transform(ws, t -> list_reduce(list_prepend(CAST(0 AS BIGINT), "
        + "list_transform(range(1, length(t) + 1), i -> CAST(unicode(substr(t, CAST(i AS INT), 1)) AS BIGINT))), "
        + "(a, b) -> (a * 31 + b) % 2147483647)) AS hs FROM d), "
        + "g0 AS (SELECT doc_id, 1 AS n, unnest([hs[i:i] FOR i IN range(1, len(hs) + 1)]) AS gl FROM dh WHERE len(hs) >= 1 "
        + "UNION ALL SELECT doc_id, 2, unnest([hs[i:i+1] FOR i IN range(1, len(hs))]) FROM dh WHERE len(hs) >= 2 "
        + "UNION ALL SELECT doc_id, 3, unnest([hs[i:i+2] FOR i IN range(1, len(hs) - 1)]) FROM dh WHERE len(hs) >= 3 "
        + "UNION ALL SELECT doc_id, 4, unnest([hs[i:i+3] FOR i IN range(1, len(hs) - 2)]) FROM dh WHERE len(hs) >= 4), "
        + "gr AS (SELECT doc_id, n, gh, CAST(COUNT(*) AS BIGINT) AS c FROM ("
        + "SELECT doc_id, n, list_reduce(list_prepend(CAST(0 AS BIGINT), gl), "
        + "(a, b) -> (a * 31 + b) % 2147483647) AS gh FROM g0) GROUP BY 1, 2, 3), "
        + "cd AS (SELECT DISTINCT cid FROM pm), "
        + "cc2 AS (SELECT cd.cid AS p, n, gh, c AS cc FROM gr JOIN cd ON gr.doc_id = cd.cid), "
        + "rr2 AS (SELECT p, n, gh, CAST(MAX(c) AS BIGINT) AS cr FROM ("
        + "SELECT pm.cid AS p, n, gh, c FROM gr JOIN pm ON gr.doc_id = pm.rid) GROUP BY 1, 2, 3), "
        + "j AS (SELECT cc2.n, cc2.cc, COALESCE(rr2.cr, 0) AS cr FROM cc2 LEFT JOIN rr2 "
        + "ON cc2.p = rr2.p AND cc2.n = rr2.n AND cc2.gh = rr2.gh), "
        + "pn AS (SELECT n, CAST(SUM(cc) AS BIGINT) AS tot, CAST(SUM(LEAST(cc, cr)) AS BIGINT) AS clip FROM j GROUP BY 1), "
        + "pv AS (SELECT "
        + "COALESCE(CAST(SUM(CASE WHEN n = 1 THEN clip END) AS BIGINT), 0) AS c1, COALESCE(CAST(SUM(CASE WHEN n = 1 THEN tot END) AS BIGINT), 0) AS t1, "
        + "COALESCE(CAST(SUM(CASE WHEN n = 2 THEN clip END) AS BIGINT), 0) AS c2, COALESCE(CAST(SUM(CASE WHEN n = 2 THEN tot END) AS BIGINT), 0) AS t2, "
        + "COALESCE(CAST(SUM(CASE WHEN n = 3 THEN clip END) AS BIGINT), 0) AS c3, COALESCE(CAST(SUM(CASE WHEN n = 3 THEN tot END) AS BIGINT), 0) AS t3, "
        + "COALESCE(CAST(SUM(CASE WHEN n = 4 THEN clip END) AS BIGINT), 0) AS c4, COALESCE(CAST(SUM(CASE WHEN n = 4 THEN tot END) AS BIGINT), 0) AS t4 FROM pn), "
        + "dl AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS l FROM d), "
        + "eff AS (SELECT cid, cl, rl FROM (SELECT pm.cid, c.l AS cl, r.l AS rl, "
        + "row_number() OVER (PARTITION BY pm.cid ORDER BY abs(r.l - c.l), r.l) AS rn "
        + "FROM pm JOIN dl c ON pm.cid = c.doc_id JOIN dl r ON pm.rid = r.doc_id) WHERE rn = 1), "
        + "ln2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs, CAST(SUM(cl) AS BIGINT) AS cand_tokens, "
        + "CAST(SUM(rl) AS BIGINT) AS ref_tokens FROM eff), "
        + "f AS (SELECT *, CASE WHEN cand_tokens >= ref_tokens THEN 0 "
        + "ELSE CAST(floor((1.0 - CAST(ref_tokens AS DOUBLE) / CAST(cand_tokens AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) END AS bp_micro "
        + "FROM ln2, pv) "
        + "SELECT n_pairs, cand_tokens, ref_tokens, "
        + "CASE WHEN t1 > 0 THEN round(CAST(c1 AS DOUBLE) / CAST(t1 AS DOUBLE), 6) END AS p1, "
        + "CASE WHEN t2 > 0 THEN round(CAST(c2 AS DOUBLE) / CAST(t2 AS DOUBLE), 6) END AS p2, "
        + "CASE WHEN t3 > 0 THEN round(CAST(c3 AS DOUBLE) / CAST(t3 AS DOUBLE), 6) END AS p3, "
        + "CASE WHEN t4 > 0 THEN round(CAST(c4 AS DOUBLE) / CAST(t4 AS DOUBLE), 6) END AS p4, "
        + "bp_micro, "
        + "CASE WHEN c1 > 0 AND t1 > 0 AND c2 > 0 AND t2 > 0 AND c3 > 0 AND t3 > 0 AND c4 > 0 AND t4 > 0 THEN "
        + "CAST(CAST(floor(exp((CAST(bp_micro AS DOUBLE) + "
        + "CAST(CAST(floor(ln(CAST(c1 AS DOUBLE) / CAST(t1 AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) "
        + "+ CAST(floor(ln(CAST(c2 AS DOUBLE) / CAST(t2 AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) "
        + "+ CAST(floor(ln(CAST(c3 AS DOUBLE) / CAST(t3 AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) "
        + "+ CAST(floor(ln(CAST(c4 AS DOUBLE) / CAST(t4 AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS DOUBLE) / 4.0) "
        + "/ 1000000.0) * 1000000.0 + 0.5) AS BIGINT) AS DOUBLE) / 1000000.0 ELSE 0.0 END AS bleu "
        + "FROM f"),
    "q260_anova" ->
      // per-lang BIGINT moments, S_g^2 // n_g unit floors in HUGEINT,
      // clamped SS, one double division each for F / eta2
      (scoredDocCtes + ", " + anovaOracleSql(
        "(SELECT lang AS g, score AS v FROM d)")),
    "q261_kruskal_wallis" ->
      // q187's doubled-average-rank histogram, k groups: per-value
      // prefix ranks, per-group R2 sums, unit-floor R^2/n terms, one
      // fixed-order double program for H and the tie correction
      (scoredDocCtes
        + ", cells AS (SELECT score AS v, lang AS g, COUNT(*) AS c FROM d GROUP BY 1, 2), "
        + "vh AS (SELECT v, CAST(SUM(c) AS BIGINT) AS t FROM cells GROUP BY 1), "
        + "ranked AS (SELECT v, t, COALESCE(SUM(t) OVER (ORDER BY v "
        + "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below FROM vh), "
        + "r2t AS (SELECT v, t, below * 2 + t + 1 AS r2 FROM ranked), "
        + "perg AS (SELECT g, CAST(SUM(c) AS BIGINT) AS ng, CAST(SUM(c * r2) AS BIGINT) AS rg2 "
        + "FROM cells JOIN r2t USING (v) GROUP BY 1), "
        + "pb AS (SELECT g, ng, CAST((CAST(rg2 AS HUGEINT) * rg2) // (4 * ng) AS BIGINT) AS bg FROM perg), "
        + "tt AS (SELECT COALESCE(CAST(SUM(t * t * t - t) AS BIGINT), 0) AS ties FROM r2t), "
        + "m AS (SELECT COUNT(*) AS k, CAST(SUM(ng) AS BIGINT) AS n, CAST(SUM(bg) AS BIGINT) AS sb FROM pb), "
        + "h0 AS (SELECT k, n, ties, 12.0 * CAST(sb AS DOUBLE) / CAST(n * (n + 1) AS DOUBLE) "
        + "- 3.0 * CAST(n + 1 AS DOUBLE) AS hraw, "
        + "1.0 - CAST(ties AS DOUBLE) / CAST(n * n * n - n AS DOUBLE) AS corr "
        + "FROM m CROSS JOIN tt) "
        + "SELECT k, n, ties, "
        + "CASE WHEN k > 1 AND n > 1 THEN round(hraw, 6) END AS h, "
        + "CASE WHEN k > 1 AND n > 1 AND corr > 0 THEN round(hraw / corr, 6) END AS h_tie "
        + "FROM h0 ORDER BY n"),
    "q262_mcnemar" ->
      // discordant-cell counts, continuity-corrected statistic as ONE
      // double division of a HUGEINT square
      (scoredDocCtes
        + ", v AS (SELECT doc.n_chars >= 400 AS g1, d.score >= 0 AS g2 "
        + "FROM d JOIN documents doc USING (doc_id)), "
        + "m AS (SELECT COUNT(*) AS n, "
        + "CAST(SUM(CASE WHEN g1 AND NOT g2 THEN 1 ELSE 0 END) AS BIGINT) AS b, "
        + "CAST(SUM(CASE WHEN NOT g1 AND g2 THEN 1 ELSE 0 END) AS BIGINT) AS c FROM v), "
        + "m2 AS (SELECT *, GREATEST(abs(b - c) - 1, 0) AS num FROM m) "
        + "SELECT n, b, c, CASE WHEN b + c > 0 THEN "
        + "round(CAST(CAST(num AS HUGEINT) * num AS DOUBLE) / CAST(b + c AS DOUBLE), 6) END AS chi2 "
        + "FROM m2 ORDER BY n"),
    "q263_g_test" ->
      // the q192 micro-nat grid, summed to G = 2*sum(O*lnMicro) with
      // empty cells contributing nothing; dof from the margins
      ("WITH cells AS (SELECT lang AS a, source AS b, COUNT(*) AS c FROM documents "
        + "WHERE lang IS NOT NULL AND source IS NOT NULL GROUP BY 1, 2), "
        + "ma AS (SELECT a, CAST(SUM(c) AS BIGINT) AS ca FROM cells GROUP BY 1), "
        + "mb AS (SELECT b, CAST(SUM(c) AS BIGINT) AS cb FROM cells GROUP BY 1), "
        + "nr AS (SELECT CAST(SUM(c) AS BIGINT) AS n, COUNT(DISTINCT a) AS r_a, "
        + "COUNT(DISTINCT b) AS r_b FROM cells), "
        + "gs AS (SELECT COALESCE(CAST(SUM(c * CAST(floor(ln((CAST(c AS DOUBLE) * CAST(n AS DOUBLE)) / "
        + "(CAST(ca AS DOUBLE) * CAST(cb AS DOUBLE))) * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT), 0) AS sg "
        + "FROM cells JOIN ma USING (a) JOIN mb USING (b) CROSS JOIN nr) "
        + "SELECT n, r_a, r_b, (r_a - 1) * (r_b - 1) AS dof, "
        + "CAST(sg * 2 AS BIGINT) AS g_micro, CAST(sg AS DOUBLE) * 2.0 / 1000000.0 AS g "
        + "FROM nr CROSS JOIN gs"),
    "q264_cohens_d" ->
      // en/zh moments, unit-floor within-SS, pooled-SD effect size
      // with the Hedges small-sample factor — fixed-order doubles
      (scoredDocCtes
        + ", m AS (SELECT "
        + "CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_a, "
        + "CAST(SUM(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END) AS BIGINT) AS n_b, "
        + "CAST(SUM(CASE WHEN lang = 'en' THEN score ELSE 0 END) AS BIGINT) AS sa, "
        + "CAST(SUM(CASE WHEN lang = 'zh' THEN score ELSE 0 END) AS BIGINT) AS sb, "
        + "CAST(SUM(CASE WHEN lang = 'en' THEN CAST(score AS HUGEINT) * score ELSE 0 END) AS HUGEINT) AS qa, "
        + "CAST(SUM(CASE WHEN lang = 'zh' THEN CAST(score AS HUGEINT) * score ELSE 0 END) AS HUGEINT) AS qb "
        + "FROM d WHERE lang IN ('en', 'zh')), "
        + "m2 AS (SELECT *, n_a + n_b AS n, "
        + "CAST(GREATEST(qa - (CAST(sa AS HUGEINT) * sa) // n_a, 0) "
        + "+ GREATEST(qb - (CAST(sb AS HUGEINT) * sb) // n_b, 0) AS BIGINT) AS ssw "
        + "FROM m WHERE n_a > 0 AND n_b > 0), "
        + "m3 AS (SELECT *, (CAST(sa AS DOUBLE) / CAST(n_a AS DOUBLE) "
        + "- CAST(sb AS DOUBLE) / CAST(n_b AS DOUBLE)) / "
        + "sqrt(CAST(ssw AS DOUBLE) / CAST(n - 2 AS DOUBLE)) AS dval FROM m2) "
        + "SELECT n_a, n_b, "
        + "round(CAST(sa AS DOUBLE) / CAST(n_a AS DOUBLE), 6) AS mean_a, "
        + "round(CAST(sb AS DOUBLE) / CAST(n_b AS DOUBLE), 6) AS mean_b, "
        + "CASE WHEN n > 2 AND ssw > 0 THEN round(dval, 6) END AS d, "
        + "CASE WHEN n > 2 AND ssw > 0 THEN "
        + "round(dval * (1.0 - 3.0 / (4.0 * CAST(n AS DOUBLE) - 9.0)), 6) END AS g "
        + "FROM m3 ORDER BY n_a"),
    "q265_brown_forsythe" ->
      // deterministic LOWER median per lang (rank (n+1)//2), absolute
      // deviations, then the q260 ANOVA program over them
      (scoredDocCtes
        + ", rk AS (SELECT lang, score, row_number() OVER (PARTITION BY lang ORDER BY score) AS rn, "
        + "COUNT(*) OVER (PARTITION BY lang) AS nn FROM d), "
        + "med AS (SELECT lang, score AS med FROM rk WHERE rn = (nn + 1) // 2), "
        + anovaOracleSql("(SELECT d.lang AS g, abs(d.score - med.med) AS v "
          + "FROM d JOIN med USING (lang))")),
    "q266_cochran_armitage" ->
      // per-dose counts, A = N*Str - R*Stn and the variance product in
      // HUGEINT, ONE double division; sign(A) = trend direction
      (scoredDocCtes
        + ", v AS (SELECT LEAST(doc.n_chars // 100, 5) AS t, "
        + "CASE WHEN d.score >= 0 THEN 1 ELSE 0 END AS pos "
        + "FROM d JOIN documents doc USING (doc_id)), "
        + "pd AS (SELECT t, COUNT(*) AS nd, CAST(SUM(pos) AS BIGINT) AS rd FROM v GROUP BY 1), "
        + "m AS (SELECT COUNT(*) AS k, CAST(SUM(nd) AS BIGINT) AS n, CAST(SUM(rd) AS BIGINT) AS r, "
        + "CAST(SUM(t * nd) AS BIGINT) AS tn, CAST(SUM(t * t * nd) AS BIGINT) AS ttn, "
        + "CAST(SUM(t * rd) AS BIGINT) AS tr FROM pd), "
        + "m2 AS (SELECT *, CAST(n AS HUGEINT) * tr - CAST(r AS HUGEINT) * tn AS anum, "
        + "(CAST(r AS HUGEINT) * (n - r)) * (CAST(n AS HUGEINT) * ttn - CAST(tn AS HUGEINT) * tn) AS denom "
        + "FROM m) "
        + "SELECT n, r, k, "
        + "CASE WHEN r > 0 AND r < n AND denom > 0 THEN "
        + "round(CAST(CAST(n AS HUGEINT) * anum * anum AS DOUBLE) / CAST(denom AS DOUBLE), 6) END AS z2, "
        + "CAST(CASE WHEN anum > 0 THEN 1 WHEN anum < 0 THEN -1 ELSE 0 END AS BIGINT) AS direction "
        + "FROM m2"),
    "q267_changepoint" ->
      // prefix-sum SSE-reduction gains as exact HUGEINT micro floors,
      // argmax by (gain desc, i asc) — the operator's tie-break
      ("WITH dly AS (SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS v FROM events GROUP BY 1, 2), "
        + "pre AS (SELECT event_type, day, v, "
        + "row_number() OVER (PARTITION BY event_type ORDER BY day, v) AS i, "
        + "SUM(v) OVER (PARTITION BY event_type ORDER BY day, v ROWS UNBOUNDED PRECEDING) AS si, "
        + "COUNT(*) OVER (PARTITION BY event_type) AS n, "
        + "SUM(v) OVER (PARTITION BY event_type) AS s FROM dly), "
        + "g AS (SELECT event_type, day, CAST(i AS INTEGER) AS i, CAST(n AS BIGINT) AS n, si, s, "
        + "CAST((CAST(si AS HUGEINT) * si * 1000000) // i "
        + "+ (CAST(s - si AS HUGEINT) * (s - si) * 1000000) // (n - i) "
        + "- (CAST(s AS HUGEINT) * s * 1000000) // n AS BIGINT) AS gain "
        + "FROM pre WHERE i < n), "
        + "pick AS (SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY gain DESC, i ASC) AS rk FROM g) "
        + "SELECT event_type, n, i AS cp_index, day AS cp_order, gain AS gain_micro, "
        + "round(CAST(si AS DOUBLE) / CAST(i AS DOUBLE), 6) AS mean_left, "
        + "round(CAST(s - si AS DOUBLE) / CAST(n - i AS DOUBLE), 6) AS mean_right "
        + "FROM pick WHERE rk = 1 ORDER BY event_type"),
    "q268_l_diversity" ->
      // (quasi, sensitive) cells, per-class micro-nat entropy (the
      // q192 ln program), per-l rollup with the worst entropy
      ("WITH cells AS (SELECT lang, n_chars // 100 AS len_bucket, source, COUNT(*) AS c "
        + "FROM documents WHERE lang IS NOT NULL AND source IS NOT NULL AND n_chars IS NOT NULL GROUP BY 1, 2, 3), "
        + "wn AS (SELECT *, CAST(SUM(c) OVER (PARTITION BY lang, len_bucket) AS BIGINT) AS n FROM cells), "
        + "cl AS (SELECT lang, len_bucket, COUNT(*) AS l, MAX(n) AS n, "
        + "CAST(SUM(c * CAST(floor(ln(CAST(n AS DOUBLE) / CAST(c AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS hs "
        + "FROM wn GROUP BY 1, 2), "
        + "ch AS (SELECT l, n, CAST(floor(CAST(hs AS DOUBLE) / CAST(n AS DOUBLE) + 0.5) AS BIGINT) AS h FROM cl) "
        + "SELECT CAST(l AS BIGINT) AS l, COUNT(*) AS n_classes, "
        + "CAST(SUM(n) AS BIGINT) AS n_rows, MIN(h) AS min_h_micro "
        + "FROM ch GROUP BY 1 ORDER BY l"),
    "q269_t_closeness" ->
      // completed class x value grid, cross-multiplied cumulative
      // gaps in HUGEINT, one integer micro division per class
      ("WITH b AS (SELECT c_nationkey AS q1, c_mktsegment AS q2, "
        + "CAST(floor(CAST(c_acctbal AS DOUBLE) / 1000.0) AS BIGINT) AS v FROM customer "
        + "WHERE c_nationkey IS NOT NULL AND c_mktsegment IS NOT NULL AND c_acctbal IS NOT NULL), "
        + "cells AS (SELECT q1, q2, v, COUNT(*) AS c FROM b GROUP BY 1, 2, 3), "
        + "gv AS (SELECT v, CAST(SUM(c) AS BIGINT) AS g FROM cells GROUP BY 1), "
        + "ct AS (SELECT q1, q2, CAST(SUM(c) AS BIGINT) AS n FROM cells GROUP BY 1, 2), "
        + "grid AS (SELECT ct.q1, ct.q2, ct.n, gv.v, gv.g, COALESCE(cells.c, 0) AS c "
        + "FROM ct CROSS JOIN gv LEFT JOIN cells ON cells.q1 = ct.q1 AND cells.q2 = ct.q2 AND cells.v = gv.v), "
        + "cum AS (SELECT *, SUM(c) OVER (PARTITION BY q1, q2 ORDER BY v ROWS UNBOUNDED PRECEDING) AS cc, "
        + "SUM(g) OVER (PARTITION BY q1, q2 ORDER BY v ROWS UNBOUNDED PRECEDING) AS cg, "
        + "SUM(g) OVER (PARTITION BY q1, q2) AS gt, COUNT(*) OVER (PARTITION BY q1, q2) AS m, "
        + "row_number() OVER (PARTITION BY q1, q2 ORDER BY v) AS rk FROM grid), "
        + "nums AS (SELECT q1, q2, n, gt, m, abs(CAST(cc AS HUGEINT) * gt - CAST(cg AS HUGEINT) * n) AS num "
        + "FROM cum WHERE rk < m), "
        + "pc AS (SELECT q1, q2, MAX(n) AS n, CAST(MAX(gt) AS BIGINT) AS gt, CAST(MAX(m) AS BIGINT) AS m, "
        + "CAST(SUM(num) AS HUGEINT) AS snum FROM nums GROUP BY 1, 2), "
        + "pe AS (SELECT *, CAST((snum * 1000000) // (CAST(n AS HUGEINT) * gt * (m - 1)) AS BIGINT) AS emd FROM pc), "
        + "tot AS (SELECT CAST(SUM(n) AS BIGINT) AS n_rows, COUNT(*) AS n_classes FROM ct), "
        + "ea AS (SELECT CAST(MAX(m) AS BIGINT) AS m, MAX(emd) AS tmax, "
        + "CAST(SUM(n * emd) AS HUGEINT) AS wsum, "
        + "CAST(SUM(CASE WHEN emd > 200000 THEN 1 ELSE 0 END) AS BIGINT) AS n_over FROM pe) "
        + "SELECT n_rows, n_classes, COALESCE(m, 1) AS m, "
        + "round(CAST(COALESCE(tmax, 0) AS DOUBLE) / 1000000.0, 6) AS t_max, "
        + "COALESCE(CAST(wsum // n_rows AS BIGINT), 0) AS avg_micro, "
        + "COALESCE(n_over, 0) AS n_over FROM tot CROSS JOIN ea ORDER BY n_rows"),
    "q270_silhouette" ->
      // one Lloyd round from the DERIVED sqrt-N stride seeds (the
      // q259 scale discipline), then the (d2, cid)-ordered two-best
      // pivot, the fixed-order sqrt program, micro floors, and the
      // integer per-cluster mean
      ("WITH e AS (SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]), x -> round(x * 1024)) AS q FROM embeddings), "
        + "nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM e), "
        + "st AS (SELECT CASE WHEN n <= 1 THEN 1 ELSE greatest(1, "
        + "n // (CASE WHEN CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT) * CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT) >= n "
        + "THEN CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT) ELSE CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT) + 1 END)) END AS stride FROM nn), "
        + "c0 AS (SELECT vec_id AS cid, q AS cv FROM e, st WHERE vec_id % st.stride = 0), "
        + "p AS (SELECT unnest(range(1, 65)) AS i), "
        + "a1 AS (SELECT e.vec_id, e.q, c0.cid, row_number() OVER (PARTITION BY e.vec_id ORDER BY "
        + "list_dot_product(e.q, e.q) - 2 * list_dot_product(e.q, c0.cv) + list_dot_product(c0.cv, c0.cv), c0.cid) AS rn FROM e, c0), "
        + "m1 AS (SELECT vec_id, q, cid FROM a1 WHERE rn = 1), "
        + "s1 AS (SELECT cid, i, round(SUM(q[i]) / COUNT(*)) AS mu FROM m1, p GROUP BY cid, i), "
        + "n1 AS (SELECT cid, list(mu ORDER BY i) AS cv FROM s1 GROUP BY cid), "
        + "c1 AS (SELECT c0.cid, COALESCE(n1.cv, c0.cv) AS cv FROM c0 LEFT JOIN n1 USING (cid)), "
        + "a2 AS (SELECT e.vec_id, c1.cid, "
        + "list_dot_product(e.q, e.q) - 2 * list_dot_product(e.q, c1.cv) + list_dot_product(c1.cv, c1.cv) AS d2, "
        + "row_number() OVER (PARTITION BY e.vec_id ORDER BY "
        + "list_dot_product(e.q, e.q) - 2 * list_dot_product(e.q, c1.cv) + list_dot_product(c1.cv, c1.cv), c1.cid) AS rn FROM e, c1), "
        + "b AS (SELECT vec_id, MAX(CASE WHEN rn = 1 THEN cid END) AS cid, "
        + "MAX(CASE WHEN rn = 1 THEN d2 END) AS d2a, MAX(CASE WHEN rn = 2 THEN d2 END) AS d2b "
        + "FROM a2 WHERE rn <= 2 GROUP BY 1), "
        + "sm AS (SELECT cid, CAST(floor((CASE WHEN d2b IS NULL THEN 0.0 "
        + "WHEN sqrt(d2b) > 0 THEN (sqrt(d2b) - sqrt(d2a)) / sqrt(d2b) ELSE 0.0 END) "
        + "* 1000000.0 + 0.5) AS BIGINT) AS s FROM b) "
        + "SELECT cid, COUNT(*) AS n, "
        + "CAST(CAST(SUM(s) AS HUGEINT) // COUNT(*) AS BIGINT) AS mean_s_micro "
        + "FROM sm GROUP BY cid ORDER BY cid"),
    "q271_rake_keywords" ->
      // corpus-top-20 stopword list, the same mark-and-split phrase
      // assembly (chr(1) sentinel), integer degree/freq micro scores,
      // (score desc, phrase asc) top-25
      ("WITH w AS (SELECT doc_id, list_filter(str_split(lower(trim(text)), ' '), x -> x <> '') AS toks FROM documents), "
        + "uni AS (SELECT unnest(toks) AS tok FROM w), "
        + "uc AS (SELECT tok, COUNT(*) AS c FROM uni GROUP BY 1), "
        + "st AS (SELECT tok FROM (SELECT tok, row_number() OVER (ORDER BY c DESC, tok ASC) AS rn FROM uc) WHERE rn <= 20), "
        + "sl AS (SELECT list(tok) AS stops FROM st), "
        + "ph0 AS (SELECT unnest(str_split(array_to_string(list_transform(w.toks, "
        + "x -> CASE WHEN list_contains(sl.stops, x) THEN chr(1) ELSE x END), ' '), chr(1))) AS p "
        + "FROM w CROSS JOIN sl), "
        + "phr AS (SELECT trim(p) AS phrase FROM ph0 WHERE trim(p) <> '' AND len(str_split(trim(p), ' ')) <= 4), "
        + "pw AS (SELECT phrase, len(str_split(phrase, ' ')) AS plen, unnest(str_split(phrase, ' ')) AS wd FROM phr), "
        + "ws AS (SELECT wd, COUNT(*) AS freq, CAST(SUM(plen) AS BIGINT) AS deg FROM pw GROUP BY 1), "
        + "ws2 AS (SELECT wd, (deg * 1000000) // freq AS wscore FROM ws), "
        + "pc AS (SELECT phrase, COUNT(*) AS n FROM phr GROUP BY 1), "
        + "pd AS (SELECT phrase, unnest(str_split(phrase, ' ')) AS wd FROM pc), "
        + "ps AS (SELECT phrase, CAST(SUM(wscore) AS BIGINT) AS score_micro FROM pd JOIN ws2 USING (wd) GROUP BY 1) "
        + "SELECT pc.phrase, pc.n, CAST(len(str_split(pc.phrase, ' ')) AS BIGINT) AS n_words, "
        + "ps.score_micro, CAST(ps.score_micro AS DOUBLE) / 1000000.0 AS score "
        + "FROM pc JOIN ps USING (phrase) ORDER BY score_micro DESC, phrase ASC LIMIT 25"),
    "q272_textrank" ->
      // q159's unrolled weighted iterations over adjacent
      // non-stopword token pairs (q271's corpus stoplist), the edge
      // list pruned to pairs with support >= max(2, ndocs*5000//1e6)
      ("WITH w AS (SELECT doc_id, list_filter(str_split(lower(trim(text)), ' '), x -> x <> '') AS toks FROM documents), "
        + "nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS ndocs FROM documents), "
        + "uni AS (SELECT unnest(toks) AS tok FROM w), "
        + "uc AS (SELECT tok, COUNT(*) AS c FROM uni GROUP BY 1), "
        + "st AS (SELECT tok FROM (SELECT tok, row_number() OVER (ORDER BY c DESC, tok ASC) AS rn FROM uc) WHERE rn <= 20), "
        + "sl AS (SELECT list(tok) AS stops FROM st), "
        + "b0 AS (SELECT toks[CAST(u.i AS INT)] AS a, toks[CAST(u.i AS INT) + 1] AS b "
        + "FROM w CROSS JOIN sl, UNNEST(range(1, len(toks))) AS u(i) "
        + "WHERE NOT list_contains(sl.stops, toks[CAST(u.i AS INT)]) "
        + "AND NOT list_contains(sl.stops, toks[CAST(u.i AS INT) + 1])), "
        + "pr0 AS (SELECT LEAST(a, b) AS x, GREATEST(a, b) AS y, COUNT(*) AS w FROM b0 WHERE LEAST(a, b) < GREATEST(a, b) GROUP BY 1, 2), "
        + "pr AS (SELECT x, y, w FROM pr0, nd WHERE w >= greatest(2, (ndocs * 5000) // 1000000)), "
        + "e AS (SELECT x AS src, y AS dst, w FROM pr UNION ALL SELECT y, x, w FROM pr), "
        + "deg AS (SELECT src, CAST(SUM(w) AS BIGINT) AS d FROM e GROUP BY 1), "
        + "n AS (SELECT COUNT(*) AS nn FROM deg), "
        + "r0 AS (SELECT src AS id, round(1.0 / nn, 12) AS r FROM deg CROSS JOIN n), "
        + "c1 AS (SELECT e.dst AS id, SUM(CAST(round(r0.r * e.w / deg.d, 12) AS DECIMAL(28,12))) AS sc "
        + "FROM e JOIN r0 ON e.src = r0.id JOIN deg ON e.src = deg.src GROUP BY 1), "
        + "r1 AS (SELECT deg.src AS id, round(0.15 / nn + 0.85 * CAST(COALESCE(c1.sc, 0) AS DOUBLE), 12) AS r "
        + "FROM deg LEFT JOIN c1 ON deg.src = c1.id CROSS JOIN n), "
        + "c2 AS (SELECT e.dst AS id, SUM(CAST(round(r1.r * e.w / deg.d, 12) AS DECIMAL(28,12))) AS sc "
        + "FROM e JOIN r1 ON e.src = r1.id JOIN deg ON e.src = deg.src GROUP BY 1), "
        + "r2 AS (SELECT deg.src AS id, round(0.15 / nn + 0.85 * CAST(COALESCE(c2.sc, 0) AS DOUBLE), 12) AS r "
        + "FROM deg LEFT JOIN c2 ON deg.src = c2.id CROSS JOIN n), "
        + "c3 AS (SELECT e.dst AS id, SUM(CAST(round(r2.r * e.w / deg.d, 12) AS DECIMAL(28,12))) AS sc "
        + "FROM e JOIN r2 ON e.src = r2.id JOIN deg ON e.src = deg.src GROUP BY 1), "
        + "r3 AS (SELECT deg.src AS id, round(0.15 / nn + 0.85 * CAST(COALESCE(c3.sc, 0) AS DOUBLE), 12) AS r "
        + "FROM deg LEFT JOIN c3 ON deg.src = c3.id CROSS JOIN n) "
        + "SELECT r3.id AS word, deg.d AS out_weight, round(r3.r, 6) AS pr "
        + "FROM r3 JOIN deg ON r3.id = deg.src ORDER BY pr DESC, word ASC LIMIT 25"),
    // q273: the q131 pixel replay verbatim — same text->RGB mapping,
    // different container; matches only if the QOI round-trip is
    // bit-exact
    "q273_qoi_decode" -> truecolorPixelReplayOracle,
    "q274_hilbert_audit" -> hilbertOracle(16, 16),
    "q275_kcore" -> kCoreOracle(2, 4),
    "q276_ess" ->
      // BIGINT/HUGEINT moments, one integer ppm division, fixed-order
      // double programs for ess/cv
      ("WITH m AS (SELECT lang, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS sum_w, "
        + "CAST(SUM(CAST(n_chars AS HUGEINT) * n_chars) AS HUGEINT) AS w2 "
        + "FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0 GROUP BY 1) "
        + "SELECT lang, n, sum_w, "
        + "round(CAST(CAST(sum_w AS HUGEINT) * sum_w AS DOUBLE) / CAST(w2 AS DOUBLE), 6) AS ess, "
        + "CAST((CAST(sum_w AS HUGEINT) * sum_w * 1000000) // (w2 * n) AS BIGINT) AS ess_ppm, "
        + "CASE WHEN n > 1 THEN round(sqrt(GREATEST("
        + "CAST(CAST(n AS HUGEINT) * w2 AS DOUBLE) / CAST(CAST(sum_w AS HUGEINT) * sum_w AS DOUBLE) - 1.0, 0.0)), 6) END AS cv "
        + "FROM m ORDER BY lang"),
    // q277: the q131/q273 pixel replay verbatim — same text->RGB
    // mapping, TIFF container; matches only if the IFD round-trip is
    // bit-exact
    "q277_tiff_decode" -> truecolorPixelReplayOracle,
    "q278_sprt" -> sprtOracle,
    "q279_jl_projection" ->
      // the derived +/-1 sign matrix replayed from the same parity
      // hash, projected coordinates as exact grouped sums, integer
      // squared distances, one HUGEINT ppm division per pair
      ("WITH e AS (SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]), x -> round(x * 1024)) AS q FROM embeddings), "
        + "pr AS (SELECT vec_id, CAST(t.i AS INT) AS i, "
        + "CAST(SUM(CASE WHEN ((s.j * 2654435761 + t.i * 40503) % 1000000007) % 2 = 0 "
        + "THEN q[CAST(s.j AS INT)] ELSE -q[CAST(s.j AS INT)] END) AS BIGINT) AS p "
        + "FROM e, UNNEST(range(0, 16)) t(i), UNNEST(range(1, 65)) s(j) GROUP BY 1, 2), "
        + "pv AS (SELECT vec_id, list(CAST(p AS DOUBLE) ORDER BY i) AS pvec FROM pr GROUP BY 1), "
        + "pairs(a, b) AS (VALUES " + (0 until 10).map(t =>
          s"(${2 * t}, ${2 * t + 1})").mkString(", ") + "), "
        + "j AS (SELECT pairs.a, pairs.b, ea.q AS qa, eb.q AS qb, pa.pvec AS va, pb.pvec AS vb "
        + "FROM pairs JOIN e ea ON ea.vec_id = pairs.a JOIN e eb ON eb.vec_id = pairs.b "
        + "JOIN pv pa ON pa.vec_id = pairs.a JOIN pv pb ON pb.vec_id = pairs.b) "
        + "SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b, "
        + "CAST(list_dot_product(qa, qa) - 2 * list_dot_product(qa, qb) + list_dot_product(qb, qb) AS BIGINT) AS d2_orig, "
        + "CAST(list_dot_product(va, va) - 2 * list_dot_product(va, vb) + list_dot_product(vb, vb) AS BIGINT) AS d2_proj, "
        + "CASE WHEN list_dot_product(qa, qa) - 2 * list_dot_product(qa, qb) + list_dot_product(qb, qb) > 0 THEN "
        + "CAST((CAST(CAST(list_dot_product(va, va) - 2 * list_dot_product(va, vb) + list_dot_product(vb, vb) AS BIGINT) AS HUGEINT) * 1000000) "
        + "// (CAST(CAST(list_dot_product(qa, qa) - 2 * list_dot_product(qa, qb) + list_dot_product(qb, qb) AS BIGINT) AS HUGEINT) * 16) AS BIGINT) "
        + "END AS ratio_ppm FROM j ORDER BY a"),
    "q289_embedding_neardup_topk" ->
      // q37's inlined-hyperplane blocking, DIRECTED pairs, rank on the
      // 4-dp cosine grid (neighbor tie-break), k = ceil(log2 N) derived
      // as the bit length of N-1 — the cap replayed, not pinned
      embNearDupTopKOracle,
    "q290_session_overlap_topk" ->
      // q152's session/bucket CTEs; per-(u1,u2) COUNT(*) of the
      // exactly-once canonical-bucket session pairs, then the top-5
      // partners per user (count desc, partner asc)
      ("WITH e AS (SELECT user_id, epoch_ms(ts) AS ms FROM events), "
        + "t AS (SELECT user_id, ms, CASE WHEN lag(ms) OVER w IS NULL "
        + "OR ms - lag(ms) OVER w >= 1800000 THEN 1 ELSE 0 END AS nw "
        + "FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ms)), "
        + "sx AS (SELECT user_id, ms, SUM(nw) OVER (PARTITION BY user_id ORDER BY ms "
        + "ROWS UNBOUNDED PRECEDING) AS si FROM t), "
        + "sess AS (SELECT user_id, si, MIN(ms) - 900000 AS s_ms, MAX(ms) + 900000 AS e_ms "
        + "FROM sx GROUP BY 1, 2), "
        + "lb AS (SELECT user_id AS u1, s_ms AS s1, e_ms AS e1, "
        + "unnest(range(CAST(floor(s_ms / 1800000.0) AS BIGINT), "
        + "CAST(floor(e_ms / 1800000.0) AS BIGINT) + 1)) AS bk FROM sess), "
        + "rb AS (SELECT user_id AS u2, s_ms AS s2, e_ms AS e2, "
        + "unnest(range(CAST(floor(s_ms / 1800000.0) AS BIGINT), "
        + "CAST(floor(e_ms / 1800000.0) AS BIGINT) + 1)) AS bk FROM sess), "
        + "ov AS (SELECT u1, u2 FROM lb JOIN rb USING (bk) "
        + "WHERE s1 <= e2 AND s2 <= e1 "
        + "AND bk = CAST(floor(greatest(s1, s2) / 1800000.0) AS BIGINT) "
        + "AND u1 <> u2), "
        + "cnt AS (SELECT u1, u2, CAST(COUNT(*) AS BIGINT) AS n_shared FROM ov GROUP BY 1, 2), "
        + "rk AS (SELECT u1, u2, n_shared, ROW_NUMBER() OVER "
        + "(PARTITION BY u1 ORDER BY n_shared DESC, u2) AS rn FROM cnt) "
        + "SELECT u1 AS user_id, u2 AS partner, n_shared, CAST(rn AS INT) AS rank "
        + "FROM rk WHERE rn <= 5 ORDER BY user_id, rank"),
    "q291_pipeline_neardup_incremental" ->
      // the stage must equal q255's library composition exactly
      containmentIncrOracle,
    "q292_embedding_neardup_serving" ->
      // q37's brute-force replay restricted to directed cross-split
      // (arriving, history) pairs — the persisted code table changes
      // the PLAN, never the answer
      embServingOracle,
    "q293_ivf_serving" ->
      // one Lloyd round + cell assignment + probe cells + scoring
      // tail, all replayed from the same refined centroid set
      ivfServeOracle,
    "q294_pipeline_embedding_serving" ->
      // the stage must equal q292's library composition exactly
      embServingOracle,
    "q295_coactivity_profile" ->
      // tumbling-window per-user counts, windowed partner pairs, the
      // top-5 rank on (count desc, partner asc) — string keys so the
      // tie-break is one binary collation in every engine
      ("WITH e AS (SELECT CAST(user_id AS VARCHAR) AS u, epoch_ms(ts) AS ms FROM events), "
        + "w AS (SELECT u, ms - (ms % 3600000) AS window_start FROM e), "
        + "c AS (SELECT window_start, u, CAST(COUNT(*) AS BIGINT) AS n FROM w GROUP BY 1, 2), "
        + "p AS (SELECT a.window_start, a.u AS user_id, b.u AS partner, b.n AS n_events, "
        + "ROW_NUMBER() OVER (PARTITION BY a.window_start, a.u ORDER BY b.n DESC, b.u) AS rn "
        + "FROM c a JOIN c b ON a.window_start = b.window_start AND a.u <> b.u) "
        + "SELECT window_start, user_id, partner, n_events, CAST(rn AS INT) AS rank "
        + "FROM p WHERE rn <= 5 ORDER BY window_start, user_id, rank"),
    "q296_ivfpq_serving" ->
      // the full IVFADC replay: stride-37 coarse cells + assignment,
      // one PQ training round + encode (all on the history split),
      // probe cells, per-probe LUT, BIGINT ADC sums, (adc_d2, id) rank
      ivfPqServeOracle,
    "q297_embedding_serving_topk" ->
      // q292's directed cross-split pair program + the per-arriving
      // top-3 rank on (rounded cosine desc, history id asc)
      embServingTopKOracle,
    "q298_pipeline_ann_serving" ->
      // the ann_serve stage must equal q296's library composition
      // exactly (the q294 == q292 pattern for retrieval)
      ivfPqServeOracle,
  )

  /** q278's oracle: the operator's EXACT micro-nat literals
    * (`Eval.sprtConstants` — the rankWeightsMicro shared-literal
    * precedent) interpolated into a pure-BIGINT LLR program. */
  private def sprtOracle: String = {
    val (w1, w0, up, lo) = graft.operators.Eval.sprtConstants(
      1L, 10L, 3L, 20L, 50L, 50L)
    "WITH v AS (SELECT CAST(user_id % 2 AS VARCHAR) AS variant, " +
      "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y FROM events), " +
      "m AS (SELECT variant, COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS k FROM v GROUP BY 1) " +
      s"SELECT variant, n, k, k * ($w1) + (n - k) * ($w0) AS llr_micro, " +
      s"CAST($up AS BIGINT) AS upper_micro, CAST($lo AS BIGINT) AS lower_micro, " +
      s"CASE WHEN k * ($w1) + (n - k) * ($w0) >= $up THEN 'accept_h1' " +
      s"WHEN k * ($w1) + (n - k) * ($w0) <= $lo THEN 'accept_h0' " +
      "ELSE 'continue' END AS decision FROM m ORDER BY variant"
  }

  /** q275's oracle: the q55 exact-Jaccard pair CTEs + `rounds`
    * unrolled peel steps (degree filter, edge restriction) — the
    * operator's fixed replay — then the surviving degrees. */
  private def kCoreOracle(k: Int, rounds: Int): String = {
    val steps = (1 to rounds).map { j =>
      s"d$j AS MATERIALIZED (SELECT id, COUNT(*) AS d FROM (SELECT x AS id FROM e${j - 1} " +
        s"UNION ALL SELECT y FROM e${j - 1}) GROUP BY 1), " +
        s"k$j AS MATERIALIZED (SELECT id FROM d$j WHERE d >= $k), " +
        s"e$j AS MATERIALIZED (SELECT x, y FROM e${j - 1} WHERE x IN (SELECT id FROM k$j) " +
        s"AND y IN (SELECT id FROM k$j))"
    }.mkString(", ")
    "WITH toks AS (SELECT doc_id, str_split(lower(trim(text)), ' ') AS w FROM documents), " +
      "sh AS (SELECT doc_id, list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] " +
      "for i in range(1, len(w) - 1)]) AS ts FROM toks WHERE len(w) >= 3), " +
      "j AS (SELECT a.doc_id AS d1, b.doc_id AS d2, " +
      "CAST(len(list_intersect(a.ts, b.ts)) AS DOUBLE) / " +
      "(len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts))) AS jac " +
      "FROM sh a JOIN sh b ON a.doc_id < b.doc_id " +
      "AND least(len(a.ts), len(b.ts)) >= 0.8 * greatest(len(a.ts), len(b.ts)) - 1e-9 " +
      "WHERE len(a.ts) > 0 AND len(b.ts) > 0), " +
      "p AS (SELECT d1, d2 FROM j WHERE jac >= 0.8), " +
      "e0 AS MATERIALIZED (SELECT LEAST(d1, d2) AS x, GREATEST(d1, d2) AS y FROM p WHERE d1 <> d2 GROUP BY 1, 2), " +
      steps + ", " +
      s"fd AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS degree FROM " +
      s"(SELECT x AS id FROM e$rounds UNION ALL SELECT y FROM e$rounds) GROUP BY 1), " +
      "nc AS (SELECT COUNT(*) AS n_core FROM fd) " +
      "SELECT id, degree, n_core FROM fd CROSS JOIN nc ORDER BY id"
  }

  /** The q260 one-way-ANOVA oracle tail: BIGINT group moments from a
    * (g, v) relation, S_g² // n_g unit floors in HUGEINT, clamped
    * ssb/ssw, one double division each for F and eta². `src` must be
    * a parenthesized SELECT yielding columns (g, v). */
  private def anovaOracleSql(src: String): String =
    "gm AS (SELECT g, COUNT(*) AS ng, CAST(SUM(v) AS BIGINT) AS sg, " +
      s"CAST(SUM(CAST(v AS HUGEINT) * v) AS HUGEINT) AS qg FROM $src t0 " +
      "WHERE g IS NOT NULL AND v IS NOT NULL GROUP BY 1), " +
      "ga AS (SELECT *, (CAST(sg AS HUGEINT) * sg) // ng AS ag FROM gm), " +
      "gt AS (SELECT COUNT(*) AS k, CAST(SUM(ng) AS BIGINT) AS n, " +
      "CAST(SUM(sg) AS BIGINT) AS s, CAST(SUM(qg) AS HUGEINT) AS q, " +
      "CAST(SUM(ag) AS HUGEINT) AS sa FROM ga), " +
      "gs AS (SELECT k, n, " +
      "CAST(GREATEST(sa - (CAST(s AS HUGEINT) * s) // n, 0) AS BIGINT) AS ssb, " +
      "CAST(GREATEST(q - sa, 0) AS BIGINT) AS ssw FROM gt) " +
      "SELECT k, n, ssb, ssw, " +
      "CASE WHEN k > 1 AND n > k AND ssw > 0 THEN " +
      "round(CAST(CAST(ssb AS HUGEINT) * (n - k) AS DOUBLE) / " +
      "CAST(CAST(ssw AS HUGEINT) * (k - 1) AS DOUBLE), 6) END AS f, " +
      "CASE WHEN ssb + ssw > 0 THEN " +
      "round(CAST(ssb AS DOUBLE) / CAST(ssb + ssw AS DOUBLE), 6) END AS eta2 " +
      "FROM gs ORDER BY n"

  /** q161's oracle: the same quantized DECIMAL moments and fixed-order
    * correlation program, generated per column pair. */
  private lazy val corrMatrixOracle: String = {
    val cs = Seq("l_discount", "l_extendedprice", "l_quantity", "l_tax")
    val quant = cs.map(c =>
      s"CAST(round(CAST($c AS DOUBLE), 6) AS DECIMAL(28,6)) AS $c").mkString(", ")
    val sums = "COUNT(*) AS n, " +
      cs.map(c => s"CAST(SUM($c) AS DOUBLE) AS s_$c").mkString(", ") + ", " +
      cs.map(c => s"CAST(SUM(CAST($c * $c AS DECIMAL(38,12))) AS DOUBLE) AS ss_$c")
        .mkString(", ") + ", " +
      cs.combinations(2).map { case Seq(a, b) =>
        s"CAST(SUM(CAST($a * $b AS DECIMAL(38,12))) AS DOUBLE) AS sp_${a}_$b"
      }.mkString(", ")
    val pairs = cs.combinations(2).map { case Seq(a, b) =>
      val (va, vb) = (s"CAST(n AS DOUBLE) * ss_$a - s_$a * s_$a",
        s"CAST(n AS DOUBLE) * ss_$b - s_$b * s_$b")
      s"SELECT '$a' AS col_a, '$b' AS col_b, n, " +
        s"CASE WHEN $va > 0 AND $vb > 0 THEN " +
        s"round((CAST(n AS DOUBLE) * sp_${a}_$b - s_$a * s_$b) / " +
        s"sqrt(($va) * ($vb)), 6) END AS corr FROM s"
    }.mkString(" UNION ALL ")
    s"WITH c AS (SELECT $quant FROM lineitem WHERE " +
      cs.map(c => s"$c IS NOT NULL").mkString(" AND ") +
      s"), s AS (SELECT $sums FROM c) SELECT * FROM ($pairs) ORDER BY col_a, col_b"
  }
}
