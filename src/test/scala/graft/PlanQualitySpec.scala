package graft

import scala.jdk.CollectionConverters._

import org.scalatest.matchers.should.Matchers

/**
 * Physical-plan regression tests (SURVEY §4): the plan PROPERTIES each
 * query's 100 TB posture depends on, pinned under `sbt test` so a
 * refactor that silently trades them away (a lost pushdown, a join that
 * degrades to a nested loop, a vanished broadcast) fails here rather
 * than surfacing as a bench regression three rounds later.
 */
class PlanQualitySpec extends SparkTestBase with Matchers {

  private def plan(q: Queries.Q): String =
    q(spark, sf0001).queryExecution.executedPlan.toString

  // Cross joins against small broadcast sides are intentional in these
  // queries — 1-row aggregates (hwm, kNN thresholds, LSH targets),
  // q46's centroid table (IVF assignment is O(N·C) by definition, with
  // C bounded ≈ √N), q54's bounded probe batch, and q61's (hours ×
  // types) dimension grid: a broadcast nested loop over a tiny side is
  // a constant factor, not a scale risk. Flag only the rest.
  private val intentionalBnl: Set[String] = Set("q04_incremental_hwm", "q27_cosine_topk",
    // q192: mutualInformation's 1-row total/term-sum broadcasts (the
    // documented no-collect scalar pattern)
    "q192_mutual_info",
    // q194: each chi-square pair's margin-grid crossJoin (vocab×vocab,
    // the q151 shape) + 1-row total broadcast
    "q194_cramers_v",
    // q196: coreset rounds fold a <= k-row selected-set broadcast plus
    // 1-row seed/argmax broadcasts (the q75 centroid pattern)
    "q196_coreset",
    // q199: CUPED's 1-row pooled-moment broadcast
    "q199_cuped",
    // q200: the 1-row corpus-doc-count broadcast feeding idf
    "q200_sparse_cosine",
    // q202: the 1-row replicate-count / global-moment / rank-cut
    // broadcasts (no-collect scalar pattern)
    "q202_bootstrap_ci",
    "q31_knn_pruned", "q35_ann_lsh", "q46_ann_ivf", "q48_incremental_id",
    "q54_knn_join", "q61_gapfill",
    // q75/q76: the per-round centroid set collapses to ONE broadcast row
    // (collect_list) — the crossJoin against it is a C·d-double constant
    "q75_kmeans_refine", "q76_ivf_trained", "q78_ivf_knn_join",
    // q91: the histogram's global (min,max) is ONE broadcast row
    "q91_histogram",
    // q261: Kruskal-Wallis' 1-row tie-total broadcast onto the 1-row
    // moment aggregate (no-collect scalar pattern)
    "q261_kruskal_wallis",
    // q263: the G-test's 1-row grid-total and micro-nat-sum broadcasts
    // (the q192 mutualInformation shape)
    "q263_g_test",
    // q269: t-closeness' class x value grid completion (classes x m,
    // both quasi-bounded) + the 1-row EMD-aggregate broadcast
    "q269_t_closeness",
    // q270: the silhouette's centroid set collapses to ONE broadcast
    // row (the q75 centroid pattern)
    "q270_silhouette",
    // q275: k-core's 1-row core-size broadcast onto the surviving
    // degrees (no-collect scalar pattern)
    "q275_kcore",
    // q274: the layout audit's 1-row stats/quantile-cut broadcasts
    // (the q209 shape)
    "q274_hilbert_audit",
    // q99/q100/q101: the LM vocabulary size / bucket-histogram totals /
    // corpus token total are each ONE broadcast row
    "q99_lm_perplexity", "q100_dsir_weights", "q101_source_divergence",
    "q102_ccnet_buckets",
    // q103: cosineTopK's one-row target-vector broadcast (the q27 shape)
    "q103_profile_similarity",
    // q104: kmeansCentroids' one-row centroid-array broadcast (q75 shape)
    "q104_profile_segments",
    // q105/q106: six 1-row trained-merge broadcasts chain the BPE rounds
    "q105_bpe_train", "q106_bpe_tokenize",
    // q120: youdenThreshold's ONE-row chosen-threshold broadcast (and
    // the 1-row class-totals broadcast feeding its argmax)
    "q120_youden_gate",
    // q123: kmeansCentroids + semanticDedup's one-row centroid-array
    // broadcasts (q75 shape)
    "q123_semdedup",
    // q125/q126: pqTrain/pqEncode's one-row codebook broadcast and
    // pqAdcTopK's one-row LUT broadcast (q75 shape: m·C constants)
    "q125_pq_encode", "q126_pq_adc",
    // q129: tfidfKeywords' ONE-row doc-count broadcast
    "q129_tfidf_keywords",
    // q132: hardNegatives' IVF gear — the one-row centroid-array
    // broadcasts of ivfCandidates (q78 shape) + the tiny probe-set
    // broadcast joined onto cell-pruned candidates (the q54 shape)
    "q132_hard_negatives",
    // q133: temperatureMixture's ONE-row weight-total broadcast
    "q133_temperature_mix",
    // q143: pairAffinity's ONE-row basket-total broadcast
    "q143_basket_affinity",
    // q148: pageRank's ONE-row node-count broadcast per iteration
    "q148_pagerank",
    // q151: the margin grid (q61's dimension-grid shape) + ONE-row
    // total broadcast
    "q151_chi_square",
    // q157: decileLift's ONE-row cuts + ONE-row totals broadcasts
    "q157_decile_lift",
    // q159: weighted pageRank's ONE-row node-count broadcast
    "q159_pagerank_weighted",
    // q162: the graph profile's ONE-row edge/component-stat broadcasts
    "q162_graph_profile",
    // q165: vocabGrowth's ONE-row quantile-cuts broadcast
    "q165_vocab_growth",
    // q166: pairAffinity's ONE-row basket-total broadcast (q143 shape)
    "q166_also_bought",
    // q175: the reference sketch is a ≤ ~70-row bucket table broadcast
    // onto the group list (the PSI grid); data-sized nothing
    "q175_psi_drift",
    // q180: the 9-digit grid's ONE-row total broadcast (q61 shape)
    "q180_benford",
    // q183: the ONE-row quantile-cuts broadcast (q89/q165 shape) and
    // the ONE-row corpus-max-day broadcast onto the per-user frame
    "q183_rfm",
    // q185: the ONE-row Nt / Nb total broadcasts onto the
    // vocab-bounded collocation table (q129 doc-count shape)
    "q185_pmi_collocations",
    // q209: layoutAudit's ONE-row global min/max stats broadcast and
    // the ONE-row quantile-cuts broadcast per layout (q157 shape)
    "q209_zorder_audit",
    // q213: logOddsWords' ONE-row (corpus total, vocab size) broadcast
    // onto the vocab-bounded count table (q129 shape)
    "q213_logodds_words",
    // q214: jsSourceMatrix's sources-sized (~20-row) totals broadcast
    // building the pair grid and joining the shared-token aggregates
    "q214_js_source_matrix",
    // q221: logHistEmd's reference sketch is a ≤ ~70-row bucket table
    // broadcast onto the group list (the q175 PSI-grid shape)
    "q221_sketch_emd",
    // q222: the ONE-row corpus-total broadcast and the value-bounded
    // global-cum inequality lookup (mapping rows × distinct values —
    // both histogram-sized, never row-sized; documented bound in
    // Eval.quantileNormalizeMap)
    "q222_quantile_norm",
    // q223: each check row folds a ONE-row violation count into a
    // ONE-row total (six 1×1 crossJoins)
    "q223_contract_audit",
    // q226: bm25TopK's ONE-row (N, A) corpus-total broadcast onto the
    // query-term-bounded scoring join (q129 doc-count shape)
    "q226_bm25_topk",
    // q230: conformalGate's ONE-row calibration-count broadcast onto
    // the score-cardinality-bounded histogram, and the ONE-row
    // (n_cal, rank, q_hat) broadcast onto the test fold
    "q230_conformal_gate",
    // q241: hllOverlap's inequality join of the register table against
    // the GROUP list (groups × ≤512 rows — group-bounded, the q214
    // pair-grid shape)
    "q241_hll_overlap",
    // q242: neymanAllocation's ONE-row weight-total and ONE-row
    // leftover broadcasts onto the stratum-bounded quota table
    "q242_neyman_allocation",
    // q256: bottomKIntersect's inequality joins of the signature table
    // (≤ 256 rows/group) and HLL register table (≤ 512 rows/group)
    // against the GROUP list — group-bounded, the q241 pair-grid shape
    "q256_bottomk_intersect",
    // q257: unigramTrain's per-round 1-row score-map broadcasts plus
    // the 1-row vocab-total broadcasts (the q75/q105 round pattern)
    "q257_unigram_train",
    // q259: q46's IVF shape (centroid-set broadcast + probe-set
    // broadcast) with the stride derived by sqrtStride — C ≈ √N
    "q259_ivf_sqrt",
    // q280–q284: the √N-stride re-gates of q125/q126/q75/q76/q78 —
    // identical intentional one-row codebook/LUT/centroid-set
    // broadcasts, now C ≈ √N by construction
    "q280_pq_encode_sqrt", "q281_pq_adc_sqrt", "q282_kmeans_sqrt",
    "q283_ivf_trained_sqrt", "q284_ivf_knn_join_sqrt",
    // q244: logHistKs' reference sketch is a ≤ ~70-row bucket table
    // broadcast onto the group list (the q175/q221 PSI-grid shape)
    "q244_sketch_ks",
    // q247: waterFill's ONE-row (n, total) and ONE-row water-level
    // broadcasts onto the stratum-bounded table (q242 shape)
    "q247_water_fill",
    // q248: simpsonDirection's ONE-row pooled-sign broadcast onto the
    // group-bounded moment table
    "q248_simpson_audit",
    // q252: looAblation's ONE-row corpus-total broadcast onto the
    // group-bounded table
    "q252_loo_ablation",
    // q253: corpusBleu's ONE-row clip/total pivot broadcast onto the
    // ONE-row lengths aggregate (1x1 crossJoin)
    "q253_corpus_bleu",
    // q285: corpusBleuMulti's identical 1x1 pivot/lengths crossJoin
    "q285_bleu_multiref",
    // q288: rakeScoreAgainst's two ONE-row model broadcasts (stoplist
    // array + word-score map — the stream-static serving shape)
    "q288_rake_serving",
    // q290: intervalOverlapPartnerTopK's ONE-row hot-bucket guard
    // broadcast (max per-bucket population, raise_error over the cap)
    // gating the join input — the loud-guard shape, data-sized nothing
    "q290_session_overlap_topk",
    // q293: ivfServe's centroid-set broadcast onto the probe split
    // (C ≈ N/37 rows — the q259/q284 intentional IVF shape) feeding
    // the probe-cell ranking; the cell index joins by equi-key
    "q293_ivf_serving",
    // q296: ivfPqServe's coarse-centroid broadcast onto the probe
    // split (the q293 shape) + the ONE-row codebook-array broadcast
    // building each probe's ADC LUT; code cells join by equi-key
    "q296_ivfpq_serving",
    // q298: the ann_serve stage delegates to ivfPqServe — q296's
    // intentional model broadcasts through the config path
    "q298_pipeline_ann_serving")

  test("no query plans a CartesianProduct; BNL joins only where intended") {
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val p = fn(spark, sf0001).queryExecution.executedPlan.toString
      val flags =
        (if (p.contains("CartesianProduct")) Seq("CartesianProduct") else Nil) ++
        (if (p.contains("BroadcastNestedLoopJoin") && !intentionalBnl(name))
          Seq("BroadcastNestedLoopJoin") else Nil)
      if (flags.isEmpty) None else Some(s"$name: ${flags.mkString(",")}")
    }
    offenders shouldBe empty
  }

  // Inspect the exchange CHILD's output (the shuffled payload), not the
  // Exchange plan line — that line prints only partitioning keys, so a
  // wide column travelling as payload would slip past a string match.
  //
  // Plans are prepared with AQE OFF and inspected via executedPlan:
  // sparkPlan is the tree BEFORE EnsureRequirements, so join/aggregate
  // exchanges don't exist in it yet (the audit's pre-r9 form inspected
  // sparkPlan and therefore only ever saw explicit repartitions), and
  // with AQE on the executedPlan is an AdaptiveSparkPlanExec whose
  // inner tree collect() can't traverse.
  //
  // Wide = BinaryType (blobs are never legitimate shuffle cargo here),
  // or a String / Array(String) column whose name is in the corpus-
  // payload vocabulary below (the audit's old form only knew `text`,
  // so a refactor that started shuffling `bytes`/`frame`/`props` was
  // invisible). Columns that ARE the partitioning key are exempt by
  // construction: a groupBy(token) cannot avoid shuffling the token —
  // that covers portableSimhashCodes' intentional `__t` vote shuffle,
  // where the token is the key, never dead payload.
  // Round-robin fan-out of an under-split SMALL input is exempt by
  // design (Tables.fanOut — a no-op on real layouts).
  private def widePayloadOffenders(
      extraConfs: Seq[(String, String)],
      whitelist: Set[(String, String)]): Seq[(String, String)] = {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.{ArrayType, BinaryType, StringType}
    val wideNames = Set("text", "bytes", "frame", "props", "body", "payload",
      "content", "line", "value", "tok", "tokens", "sh", "shingle", "shingles",
      "gram", "grams")
    def isWide(a: org.apache.spark.sql.catalyst.expressions.Attribute): Boolean =
      a.dataType match {
        case BinaryType => true
        case StringType | ArrayType(StringType, _) =>
          wideNames(a.name.toLowerCase.stripPrefix("__"))
        case ArrayType(BinaryType, _) => true
        case _ => false
      }
    // A partial aggregation's buffer attributes (`buf`, BinaryType for
    // object aggs like collect_list) ARE the exchange's minimal content
    // — map-side combine already ran, and what shuffles is the agg
    // state itself, not dead payload. Exempt them — UNLESS the
    // aggregate's own input references a wide column (collect_list over
    // `text` smuggles the corpus through the buffer; that must flag).
    def exemptBufferIds(child: org.apache.spark.sql.execution.SparkPlan)
        : Set[org.apache.spark.sql.catalyst.expressions.ExprId] =
      child match {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec =>
          a.aggregateExpressions
            .filter(!_.aggregateFunction.references.exists(isWide))
            .flatMap(ae => ae.aggregateFunction.aggBufferAttributes ++
              ae.aggregateFunction.inputAggBufferAttributes)
            .map(_.exprId).toSet
        case _ => Set.empty
      }
    val confs = ("spark.sql.adaptive.enabled" -> "false") +: extraConfs
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
        val sp = fn(spark, sf0001).queryExecution.executedPlan
        sp.collect {
          case e: ShuffleExchangeExec
            if e.outputPartitioning.isInstanceOf[HashPartitioning] =>
            val keyIds = e.outputPartitioning.asInstanceOf[HashPartitioning]
              .expressions.flatMap(_.references.map(_.exprId)).toSet
            val bufIds = exemptBufferIds(e.child)
            e.child.output
              .filterNot(a => keyIds.contains(a.exprId) || bufIds.contains(a.exprId))
              .filter(isWide)
              .map(a => (name, a.name))
        }.flatten.filterNot(whitelist).distinct
      }
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("no hash exchange carries a wide string/binary column as NON-KEY payload") {
    // (query, column) pairs reviewed and accepted as intentional
    widePayloadOffenders(Nil, whitelist = Set.empty) shouldBe empty
  }

  test("wide-payload audit holds with size-based broadcast DISABLED (100x-scale posture)") {
    // The pass above runs under normal planning, where a corpus-sized
    // build side can still slip under autoBroadcastJoinThreshold at
    // test scale and plan as BHJ — hiding the SMJ text-shuffle it
    // becomes at 100x the data. Planning with the size heuristic OFF
    // makes every non-hinted join take its at-scale shape, so joins
    // that are broadcast-at-test-scale-only surface here. Explicit
    // broadcast() hints survive (they mark sides that are BOUNDED at
    // scale — vocab tables, centroid rows, eval dictionaries — which
    // is exactly the distinction this audit enforces).
    //
    // Reviewed intentional entries ONLY where moving the wide column
    // is the query's actual output contract (none currently).
    widePayloadOffenders(
      Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1"),
      whitelist = Set.empty) shouldBe empty
  }

  test("q03: the date predicate is pushed into the parquet scan") {
    val p = plan(Queries.q03)
    p should include("PushedFilters")
    p should include regex "PushedFilters: \\[[^\\]]*o_orderdate[^\\]]*\\]"
  }

  test("q01: the scan reads only the projected columns") {
    val p = plan(Queries.q01)
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    readSchema should include("l_orderkey")
    readSchema should include("l_linenumber")
    // a pruned scan must not drag the wide columns along
    readSchema should not include "l_comment"
    readSchema should not include "l_extendedprice"
  }

  test("q07: the dim side joins via broadcast hash join") {
    plan(Queries.q07) should include("BroadcastHashJoin")
  }

  test("q18: top-k plans as TakeOrderedAndProject, not a global sort") {
    plan(Queries.q18) should include("TakeOrderedAndProject")
  }

  test("q74: corpus n-gram top-k combines map-side and takes k, no total sort") {
    val p = plan(Queries.q74)
    p should include("TakeOrderedAndProject")
    // partial aggregation before the exchange: the shuffle carries
    // (gram, count) — vocabulary-bounded, not token-count-bounded
    p should include("partial_count")
  }

  test("q11: the range join is a bucketed equi-join, not a nested loop") {
    val p = plan(Queries.q11)
    p should not include "BroadcastNestedLoopJoin"
    p should not include "CartesianProduct"
  }

  test("q20 scalar pipeline and q27's native DotProduct run inside whole-stage codegen") {
    // The no-UDF policy's payoff: scalar chains fuse into generated
    // code, including graft.functions.DotProduct (doGenCode) — a
    // CodegenFallback expression in the hot path would break the span.
    // AQE defers codegen insertion to per-stage runtime, so inspect the
    // statically-prepared plan with AQE off.
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try {
      // codegen'd operators print with the `*(n)` span marker
      plan(Queries.q20) should include regex "\\*\\(\\d+\\) (Project|Filter)"
      plan(Queries.q27) should include regex "\\*\\(\\d+\\) Project"
    } finally spark.conf.set(key, prev)
  }

  test("src/main shares intermediates only through Share.once (no localCheckpoint)") {
    // a local checkpoint cuts lineage: losing the executor that holds a
    // block fails every later query over it (ShareFaultSpec)
    val root = new java.io.File("src/main")
    assert(root.isDirectory, s"no source tree at ${root.getAbsolutePath}")
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles.toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    val hits = for {
      f <- files(root).filter(_.getName.endsWith(".scala"))
      (line, n) <- java.nio.file.Files.readAllLines(f.toPath).asScala.zipWithIndex
      if line.contains("localCheckpoint")
    } yield s"${f.getPath}:${n + 1}: ${line.trim}"
    withClue(hits.mkString("\n")) { hits shouldBe empty }
  }
}
