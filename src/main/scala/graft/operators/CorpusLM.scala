package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Share

/**
 * Corpus-distribution operators for pretraining-data curation: the
 * statistical quality gates that sit between the rule-based filters
 * (TextMetrics) and the dedup family (Dedup) in a production pipeline —
 * CCNet-style language-model perplexity scoring, DSIR-style hashed
 * importance weighting, and per-slice distribution-divergence
 * monitoring. The reference (a streaming-ETL deployment,
 * `fastapi/main.py` + connector configs) has no counterpart; these are
 * first-party extensions in the same oracle-gated regime as the rest of
 * the LLM-pipeline family.
 *
 * All three share one shape: TRAIN a corpus statistic (bigram counts /
 * bucket histogram / token marginals) with a map-side-combining
 * aggregation whose output is VOCABULARY-bounded, not corpus-bounded,
 * then SCORE each document by joining that statistic back over the
 * token scan. At 100 TB the statistic tables are the only state — the
 * bucket histogram is `dims` rows (broadcast), the token marginals are
 * vocab-sized (broadcast), and the bigram table is vocab²-bounded and
 * zipfian (AQE broadcasts it when it fits, shuffle-joins otherwise).
 * Document text never enters a shuffle; only (id, gram/bucket) pairs
 * and pre-aggregated decimal partial sums move.
 *
 * Determinism contract (the repo-wide oracle pattern): every
 * floating-point term is an `ln` of exact-integer ratios, rounded to
 * 6 dp and cast to DECIMAL before any aggregation — the sums are exact
 * and associative, so results are bit-identical across engines and
 * partition orders; the only cross-engine risk is a sub-ulp libm
 * difference straddling a 0.5e-6 rounding boundary.
 */
object CorpusLM {

  /** Non-empty word tokens of a normalized text column (the corpus
    * normalization every operator in the family shares). */
  private def toks(text: Column): Column =
    filter(split(lower(trim(text)), " "), t => t =!= "")

  /** Adjacent-token bigrams as single "w1 w2" strings (tokens cannot
    * contain spaces, so the join key is injective). Docs with fewer
    * than two tokens yield an empty array — `sequence` is guarded
    * because Spark's sequence(1, 0) counts DOWN instead of emptying. */
  private def bigrams(ws: Column): Column =
    when(size(ws) >= 2,
      transform(sequence(lit(1), size(ws) - 1),
        i => concat(element_at(ws, i), lit(" "), element_at(ws, i + 1))))
      .otherwise(array().cast("array<string>"))

  /**
   * CCNet-style add-one-smoothed bigram language-model scoring: train
   * token-bigram counts over the whole corpus, then score every
   * document by its per-bigram negative log-likelihood
   * `ln((c1 + V) / (c2 + 1))`, where `c2` is the bigram's corpus
   * count, `c1` the corpus count of bigrams sharing its first token
   * (the context count), and `V` the corpus vocabulary size. CCNet
   * trains its KenLM on Wikipedia and scores CommonCrawl; training and
   * scoring corpora coincide here so the gate is self-referential —
   * swapping the training side for a reference DataFrame is the same
   * plan with a different aggregation input.
   *
   * Returns one row per document with >= 1 bigram: `idCol`, `keep`
   * cols, `n_bigrams`, and `nll` — the exact DECIMAL(20,6) sum of the
   * 6-dp-rounded per-bigram terms. Cross-entropy = nll / n_bigrams;
   * callers compare `nll > thr * n_bigrams` in exact decimal
   * arithmetic rather than dividing.
   *
   * Scale shape: the bigram-count table is distinct-bigram-bounded
   * (zipfian, far smaller than the corpus) and built with map-side
   * partial aggregation; the context-count table folds out of it
   * (vocab-sized, broadcast); V is a one-row broadcast. The score side
   * shuffles only (doc, bigram) pairs — never text — and collapses to
   * one row per doc before returning.
   */
  def bigramNll(docs: DataFrame, idCol: String, textCol: String,
                keep: Seq[String] = Nil): DataFrame = {
    val out = (idCol +: keep).distinct
    val ws = toks(col(textCol))
    val base = docs.select(out.map(col) :+ ws.as("__ws"): _*)

    val big = base.select(out.map(col) :+
      explode(bigrams(col("__ws"))).as("__bg"): _*)

    val c2 = big.groupBy("__bg").agg(count(lit(1)).as("__c2"))
    // context counts fold out of the bigram table (vocab-sized)
    val c1 = c2.groupBy(element_at(split(col("__bg"), " "), 1).as("__w1"))
      .agg(sum(col("__c2")).as("__c1"))
    val v = base.select(explode(col("__ws")).as("__t"))
      .agg(countDistinct(col("__t")).as("__v"))

    val term = round(
      log((col("__c1") + col("__v")) / (col("__c2") + lit(1.0d))), 6)
      .cast("decimal(20,6)")

    big
      .join(c2, "__bg")
      .join(broadcast(c1), element_at(split(col("__bg"), " "), 1) === col("__w1"))
      .crossJoin(broadcast(v))
      .select(out.map(col) :+ term.as("__term"): _*)
      .groupBy(out.map(col): _*)
      .agg(count(lit(1)).as("n_bigrams"), sum(col("__term")).as("nll"))
  }

  /** The trained LM as static tables for [[bigramNllAgainst]]:
    * corpus bigram counts `(__bg, __c2)`. Context counts and the
    * vocabulary travel separately (vocab membership is not derivable
    * from bigrams — a one-token document contributes to V only). */
  def bigramCounts(docs: DataFrame, textCol: String): DataFrame =
    docs.select(toks(col(textCol)).as("__ws")) // materialized: perf contract
      .select(explode(bigrams(col("__ws"))).as("__bg"))
      .groupBy("__bg").agg(count(lit(1)).as("__c2"))

  /** Distinct corpus tokens `(__t)` — the V side of the LM. */
  def vocabTokens(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(toks(col(textCol))).as("__t")).distinct()

  /**
   * Stream-static twin of [[bigramNll]] (the production split: train
   * the LM offline on yesterday's corpus, score arriving documents
   * online): `counts`/`vocab` are PRECOMPUTED static tables
   * ([[bigramCounts]] / [[vocabTokens]]); each arriving document's
   * nll is a per-row fold over its own bigrams against three
   * broadcast values — the bigram-count map, the context-count map
   * folded out of it, and the vocabulary size. No explode, no
   * shuffle, no streaming aggregation state, so it runs unchanged in
   * append mode on an unbounded stream (the `repetitionStatsInRow`
   * pattern). Bigrams absent from the LM score their true add-one
   * term `ln((c1 + V) / 1)`; wholly unseen contexts degrade to
   * `ln(V)` — the smoothing handles out-of-corpus text by design.
   * Same results as [[bigramNll]] row-for-row on the training corpus
   * itself (every term is the identical 6-dp-rounded double, and the
   * decimal fold re-rounds at the same scale each step — a no-op).
   * The broadcast maps bound this to vocabularies that fit an
   * executor; past that, use the batch join form.
   */
  def bigramNllAgainst(docs: DataFrame, idCol: String, textCol: String,
                       counts: DataFrame, vocab: DataFrame,
                       keep: Seq[String] = Nil): DataFrame = {
    val out = (idCol +: keep).distinct
    val c2m = counts
      .agg(map_from_entries(collect_list(struct(col("__bg"), col("__c2"))))
        .as("__c2m"))
    val c1m = counts
      .groupBy(element_at(split(col("__bg"), " "), 1).as("__w1"))
      .agg(sum(col("__c2")).as("__c1"))
      .agg(map_from_entries(collect_list(struct(col("__w1"), col("__c1"))))
        .as("__c1m"))
    val vRow = vocab.agg(count(lit(1)).as("__v"))

    val zero = lit(BigDecimal(0)).cast("decimal(20,6)")
    // token and bigram arrays materialize before the lambdas read them
    // (the wordShinglesOf perf contract)
    val terms = transform(col("__bg"), b => {
      val c2v = coalesce(element_at(col("__c2m"), b), lit(0L))
      val c1v = coalesce(
        element_at(col("__c1m"), element_at(split(b, " "), 1)), lit(0L))
      round(log((c1v + col("__v")) / (c2v + lit(1.0d))), 6)
        .cast("decimal(20,6)")
    })
    docs
      .crossJoin(broadcast(c2m))
      .crossJoin(broadcast(c1m))
      .crossJoin(broadcast(vRow))
      .withColumn("__ws", toks(col(textCol)))
      .withColumn("__bg", bigrams(col("__ws")))
      .select(out.map(col) :+
        size(col("__bg")).cast("long").as("n_bigrams") :+
        aggregate(terms, zero, (a, x) => (a + x).cast("decimal(20,6)"))
          .as("nll"): _*)
      .filter(col("n_bigrams") > 0) // match bigramNll: bigram-less docs drop
  }

  /**
   * DSIR-style hashed importance weights (Data Selection via Importance
   * Resampling, Xie et al. 2023): tokens feature-hash into `dims`
   * buckets (the portable poly-31 recurrence the q40/q84 family uses),
   * the target and raw bucket histograms are estimated with add-one
   * smoothing, and a document's log importance weight is the sum over
   * its tokens of `ln(p_target(bucket) / p_raw(bucket))`. Documents
   * resembling the target slice score high; resampling by weight
   * shifts the corpus toward the target distribution.
   *
   * `isTarget` is a row-level predicate over `docs` marking the target
   * slice (e.g. `col("lang") === "en"`); the raw distribution is the
   * whole corpus, so the two histograms come out of ONE conditional
   * aggregation pass.
   *
   * Returns one row per document with >= 1 token: `idCol`, `keep`,
   * `n_toks`, and `logw` — the exact DECIMAL(20,6) sum of
   * 6-dp-rounded per-token terms (only `dims` distinct term values
   * exist, so cross-engine agreement is checked `dims` times, not
   * per-token). Positive `logw` = target-like.
   *
   * Scale shape: the histogram is `dims` rows built by map-side
   * combine (the shuffle carries at most `dims` × partitions partial
   * rows); totals are a one-row broadcast; scoring joins the
   * `dims`-row weight table broadcast into the token scan and
   * collapses per doc before the only doc-keyed shuffle.
   */
  def dsirWeights(docs: DataFrame, idCol: String, textCol: String,
                  isTarget: Column, dims: Int = 64,
                  keep: Seq[String] = Nil): DataFrame = {
    require(dims >= 1, "dims must be >= 1")
    val out = (idCol +: keep).distinct
    val bucketed = docs.select(out.map(col) :+
      explode(toks(col(textCol))).as("__tok"): _*)
      .select(out.map(col) :+
        (TextMetrics.tokenHash(col("__tok")) % dims).as("__b"): _*)
    bucketed
      .join(broadcast(dsirLambda(docs, textCol, isTarget, dims)), "__b")
      .groupBy(out.map(col): _*)
      .agg(count(lit(1)).as("n_toks"), sum(col("__lw")).as("logw"))
  }

  /** The trained DSIR model as a static table: one row per occupied
    * bucket with its 6-dp log importance weight `(__b, __lw)` — built
    * from ONE conditional aggregation pass over the corpus, at most
    * `dims` rows. Feed to [[dsirWeights]]' join (done internally) or
    * persist and score a stream with [[dsirScoreAgainst]]. */
  def dsirLambda(docs: DataFrame, textCol: String, isTarget: Column,
                 dims: Int = 64): DataFrame = {
    require(dims >= 1, "dims must be >= 1")
    val hist = docs.select(isTarget.as("__tgt"),
        explode(toks(col(textCol))).as("__tok"))
      .select(col("__tgt"), (TextMetrics.tokenHash(col("__tok")) % dims).as("__b"))
      .groupBy("__b")
      .agg(sum(when(col("__tgt"), 1L).otherwise(0L)).as("__ct"),
        count(lit(1)).as("__cr"))
    val totals = hist.agg(sum(col("__ct")).as("__nt"), sum(col("__cr")).as("__nr"))
    hist.crossJoin(broadcast(totals))
      .select(col("__b"),
        round(log(((col("__ct") + lit(1.0d)) * (col("__nr") + lit(dims.toLong))) /
          ((col("__cr") + lit(1.0d)) * (col("__nt") + lit(dims.toLong)))), 6)
          .cast("decimal(20,6)").as("__lw"))
  }

  /**
   * Stream-static twin of [[dsirWeights]]: score arriving documents
   * against a PRECOMPUTED lambda table ([[dsirLambda]] — e.g. trained
   * offline on the reference corpus). The table collapses to one
   * broadcast map row (at most `dims` entries) and each document's
   * log-weight is a per-row fold over its own tokens — no explode, no
   * shuffle, no streaming state; append-mode safe on an unbounded
   * stream. Buckets absent from the table (no training token hashed
   * there) score 0 — no evidence either way. Same results as
   * [[dsirWeights]] row-for-row when scoring the training corpus.
   */
  def dsirScoreAgainst(docs: DataFrame, idCol: String, textCol: String,
                       lambda: DataFrame, dims: Int = 64,
                       keep: Seq[String] = Nil): DataFrame = {
    require(dims >= 1, "dims must be >= 1")
    val out = (idCol +: keep).distinct
    val lm = lambda
      .agg(map_from_entries(collect_list(struct(col("__b"), col("__lw"))))
        .as("__lm"))
    val ts = toks(col(textCol))
    val zero = lit(BigDecimal(0)).cast("decimal(20,6)")
    val lws = transform(ts, t => coalesce(
      element_at(col("__lm"), TextMetrics.tokenHash(t) % dims), zero))
    docs.crossJoin(broadcast(lm))
      .select(out.map(col) :+
        size(ts).cast("long").as("n_toks") :+
        aggregate(lws, zero, (a, x) => (a + x).cast("decimal(20,6)"))
          .as("logw"): _*)
      .filter(col("n_toks") > 0) // match dsirWeights: token-less docs drop
  }

  /**
   * Per-slice unigram KL divergence from the corpus distribution —
   * the drift monitor a crawl operation runs per source/snapshot:
   * `KL(p_slice || p_corpus) = Σ_t p_s(t) · ln(p_s(t) / p_c(t))`.
   * Every slice token occurs in the corpus (the slice IS part of the
   * corpus), so `p_c > 0` wherever `p_s > 0` and no smoothing is
   * needed; KL = 0 iff the slice's token mix matches the corpus.
   *
   * Returns one row per slice: `sliceCol`, `n_toks` (slice token
   * count), `n_vocab` (slice distinct tokens), `kl` (6-dp-rounded
   * per-token terms, exact decimal sum, cast to double and rounded to
   * `roundTo`). The per-term double program is fixed-shape —
   * `(ns/Ns) · ln((ns·Nc) / (nc·Ns))` with exact int64 products
   * (exact in double up to 2^53) — so engines agree to sub-ulp before
   * the 6-dp round.
   *
   * Scale shape: one (slice, token) aggregation — vocab × slices
   * bounded — plus a vocab-sized corpus-marginal broadcast and a
   * one-row totals broadcast. Nothing corpus-sized moves.
   */
  def sliceDivergence(docs: DataFrame, sliceCol: String, textCol: String,
                      roundTo: Int = 4): DataFrame = {
    val t = docs.select(col(sliceCol), explode(toks(col(textCol))).as("__tok"))
    val ns = t.groupBy(col(sliceCol), col("__tok"))
      .agg(count(lit(1)).as("__ns"))
    val nc = t.groupBy("__tok").agg(count(lit(1)).as("__nc"))
    val nTot = ns.groupBy(col(sliceCol)).agg(sum(col("__ns")).as("__nss"))
    val cTot = nc.agg(sum(col("__nc")).as("__ncc"))

    val term = round(
      (col("__ns").cast("double") / col("__nss")) *
        log((col("__ns") * col("__ncc")).cast("double") /
          (col("__nc") * col("__nss")).cast("double")), 6)
      .cast("decimal(20,6)")

    ns
      .join(broadcast(nc), "__tok")
      .join(broadcast(nTot), sliceCol)
      .crossJoin(broadcast(cTot))
      .select(col(sliceCol), col("__ns"), term.as("__term"))
      .groupBy(sliceCol)
      .agg(sum(col("__ns")).as("n_toks"),
        count(lit(1)).as("n_vocab"),
        round(sum(col("__term")).cast("double"), roundTo).as("kl"))
  }

  /**
   * Vocabulary-growth (Heaps-law) curve: how the distinct-type count
   * grows as the corpus grows — the statistic that sizes a tokenizer
   * vocabulary BEFORE training it (a flattening curve says the vocab
   * budget is enough; a steep one says the corpus will keep minting
   * types). The corpus orders by `idCol` and cuts into `buckets`
   * id-quantile slices; per slice: documents, token occurrences, NEW
   * types (tokens whose FIRST-occurrence doc falls in the slice), and
   * the running totals — all exact integers.
   *
   * Output: (`bucket` 1..buckets, `n_docs`, `n_tokens`, `new_types`,
   * `cum_tokens`, `cum_types`), ordered.
   *
   * Scale shape: one token explode feeds (a) a vocabulary-bounded
   * first-occurrence aggregate and (b) a per-doc token count; both
   * bucket against a 1-row broadcast of quantile cuts and collapse to
   * `buckets` rows, where the cumulative window is bucket-bounded.
   */
  def vocabGrowth(docs: DataFrame, idCol: String, textCol: String,
                  buckets: Int = 10): DataFrame = {
    require(buckets >= 2, "buckets must be >= 2")
    val cuts = Relational.exactQuantiles(docs, Nil, idCol,
      (1 until buckets).map(i => s"__vc$i" -> i.toDouble / buckets))
    def bucketOf(c: Column): Column =
      (1 until buckets).map(i =>
        when(c.cast("double") > col(s"__vc$i"), 1).otherwise(0))
        .reduce(_ + _) + 1
    val tok = docs.select(col(idCol).as("__id"),
      explode(toks(col(textCol))).as("__t"))
    val firstOcc = tok.groupBy("__t").agg(min(col("__id")).as("__fd"))
      .crossJoin(broadcast(cuts))
      .groupBy(bucketOf(col("__fd")).as("bucket"))
      .agg(count(lit(1)).as("new_types"))
    val perBucket = docs
      .select(col(idCol).as("__id"),
        size(toks(col(textCol))).as("__ntok"))
      .crossJoin(broadcast(cuts))
      .groupBy(bucketOf(col("__id")).as("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__ntok")).as("n_tokens"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("bucket")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    perBucket.join(firstOcc, Seq("bucket"), "left")
      .withColumn("new_types", coalesce(col("new_types"), lit(0L)))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .withColumn("cum_types", sum(col("new_types")).over(w))
      .select(col("bucket"), col("n_docs"), col("n_tokens"),
        col("new_types"), col("cum_tokens"), col("cum_types"))
      .orderBy("bucket")
  }

  /**
   * Pairwise Jensen–Shannon divergence between per-source unigram
   * distributions — the symmetric, bounded (≤ ln 2) source-similarity
   * matrix the one-vs-reference KL drift (q101) can't give: "which
   * crawls are the same feed wearing different tags, and which are
   * genuinely distinct?" feeds dedup triage and mixture design.
   *
   * JS(P,Q) = ½·KL(P‖M) + ½·KL(Q‖M) with M = (P+Q)/2. Key identity
   * that keeps this vocab-bounded AND exact: for a token only in P,
   * p·ln(p/m) = p·ln 2 — so the pair needs ONLY the shared-token join
   * plus per-source totals: each one-sided tail contributes
   * (N₁ − C₁shared)·ln2 in integer micro-nats. Per shared token the
   * ratio p₁/m = 2c₁N₂/(c₁N₂ + c₂N₁) is one double division of exact
   * DECIMAL products, lnMicro'd once, weighted by the exact count —
   * the [[Eval.mutualInformation]] summation discipline (BIGINT·micro
   * terms in DECIMAL(38,0), one fixed-order double program at the
   * end, 6 dp).
   *
   * Output per source pair (s1 < s2): `n_shared` (tokens), `js`
   * (nats, 0 = identical, 0.693147 = disjoint).
   *
   * Scale shape: token counting is one map-side-combined aggregation;
   * the pair join is vocab-keyed (each token contributes its source
   * pairs — Σ over tokens of df(token)², bounded by sources²·vocab);
   * totals are a sources-sized broadcast. Corpus text never shuffles.
   */
  def jsSourceMatrix(docs: DataFrame, textCol: String,
                     sourceCol: String): DataFrame = {
    def lnMicro(x: Column): Column =
      floor(log(x) * 1e6d + 0.5d).cast("long")
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val ln2Micro = math.floor(math.log(2.0) * 1e6 + 0.5).toLong // 693147
    val tt = docs.select(col(sourceCol).as("__s"),
      explode(filter(split(lower(trim(col(textCol))), " "),
        t => t =!= "")).as("__t"))
    val c = tt.groupBy("__s", "__t").agg(count(lit(1)).as("__c"))
    val tot = c.groupBy("__s").agg(sum(col("__c")).as("__n"))
    val shared = c.alias("a")
      .join(c.alias("b"),
        col("a.__t") === col("b.__t") && col("a.__s") < col("b.__s"))
      .select(col("a.__s").as("s1"), col("b.__s").as("s2"),
        col("a.__c").as("__c1"), col("b.__c").as("__c2"))
      .join(broadcast(tot.select(col("__s").as("s1"),
        col("__n").as("__n1"))), "s1")
      .join(broadcast(tot.select(col("__s").as("s2"),
        col("__n").as("__n2"))), "s2")
      .withColumn("__r1",
        (dec(lit(2L)) * dec(col("__c1")) * dec(col("__n2"))).cast("double") /
          (dec(col("__c1")) * dec(col("__n2")) +
            dec(col("__c2")) * dec(col("__n1"))).cast("double"))
      .withColumn("__r2",
        (dec(lit(2L)) * dec(col("__c2")) * dec(col("__n1"))).cast("double") /
          (dec(col("__c1")) * dec(col("__n2")) +
            dec(col("__c2")) * dec(col("__n1"))).cast("double"))
      .groupBy("s1", "s2")
      .agg(count(lit(1)).as("n_shared"),
        sum(dec(col("__c1")) * lnMicro(col("__r1")))
          .cast("decimal(38,0)").as("__t1"),
        sum(dec(col("__c2")) * lnMicro(col("__r2")))
          .cast("decimal(38,0)").as("__t2"),
        sum(col("__c1")).as("__c1s"), sum(col("__c2")).as("__c2s"))
    val pairs = tot.select(col("__s").as("s1"), col("__n").as("__n1"))
      .crossJoin(broadcast(tot.select(col("__s").as("s2"),
        col("__n").as("__n2"))))
      .where(col("s1") < col("s2"))
      .join(shared, Seq("s1", "s2"), "left")
      .select(col("s1"), col("s2"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        (coalesce(col("__t1"), lit(0L).cast("decimal(38,0)")) +
          dec(col("__n1") - coalesce(col("__c1s"), lit(0L))) * ln2Micro)
          .as("__s1t"),
        (coalesce(col("__t2"), lit(0L).cast("decimal(38,0)")) +
          dec(col("__n2") - coalesce(col("__c2s"), lit(0L))) * ln2Micro)
          .as("__s2t"),
        col("__n1"), col("__n2"))
    pairs.select(col("s1"), col("s2"), col("n_shared"),
      round((col("__s1t").cast("double") / col("__n1") +
        col("__s2t").cast("double") / col("__n2")) / 2 / 1e6d, 6).as("js"))
  }

  /** Score a missing piece far below any real path: a single
    * out-of-vocab piece costs < −9.9·10¹¹ micro-nats while a whole
    * word spelled in single characters (always in vocab) costs a few
    * 10⁷ — Viterbi can never select OOV. */
  private val UnigramNeg = -1000000000000L

  /**
   * Viterbi segmentation of one word under a piece→micro-nat-score
   * map: the array of vocabulary pieces (reverse order — order-free
   * consumers count them) maximizing the summed quantized scores.
   * Standard max-sum DP with candidates of length ≤ `maxPieceLen`;
   * ties break lexicographically on (score, split point j) — larger j
   * (the SHORTER final piece) wins, identically in any engine that
   * orders structs field-first. Runs as higher-order-function folds
   * (one pass forward, one backtrack) — interpreted, not codegen'd,
   * which is the right trade on the VOCABULARY-bounded word table the
   * trainer feeds it (never the corpus).
   */
  private[graft] def viterbiPieces(w: Column, scoreMap: Column,
                                   maxPieceLen: Int): Column = {
    def s(piece: Column): Column =
      coalesce(element_at(scoreMap, piece), lit(UnigramNeg))
    val dp = aggregate(
      sequence(lit(1), length(w).cast("int")),
      array(struct(lit(0L).as("v"), lit(0).as("j"))),
      (acc, i) => concat(acc, array(array_max(transform(
        sequence(greatest(lit(0), i - maxPieceLen), i - 1,
          lit(1)),
        j => struct((element_at(acc, j + 1).getField("v") +
          s(w.substr(j + lit(1), i - j))).as("v"), j.as("j")))))))
    aggregate(
      sequence(lit(1), length(w).cast("int")),
      struct(length(w).cast("int").as("e"),
        array().cast("array<string>").as("ps")),
      (st, _) => {
        val e = st.getField("e")
        val j = element_at(dp, e + 1).getField("j")
        when(e > 0, struct(j.as("e"),
          concat(st.getField("ps"),
            array(w.substr(j + lit(1), e - j))).as("ps")))
          .otherwise(st)
      },
      st => st.getField("ps"))
  }

  /**
   * Unigram-LM tokenizer training (SentencePiece-style, Kudo 2018) as
   * deterministic hard-EM over the VOCABULARY-bounded word table —
   * the subword trainer beside BPE (q105–q107), trained the other way
   * around: BPE grows a vocabulary bottom-up by merging, unigram
   * starts from an overcomplete seed set and prunes.
   *
   * The deterministic variant this engine fixes (so an external SQL
   * oracle replays every round bit-for-bit):
   *  - SEED: all single characters (never pruned — closure) plus the
   *    top `seedTopK` multi-char substrings of length ≤ `maxPieceLen`
   *    by (occurrence-count·word-freq DESC, piece ASC); initial score
   *    = ⌊ln(cnt/total)·10⁶ + ½⌋ micro-nats (the house quantization).
   *  - E-step: per word type, the Viterbi segmentation under current
   *    scores ([[viterbiPieces]] — hard EM: the argmax path's counts
   *    stand in for posterior expectations, every decision integer).
   *  - M-step + PRUNE: pieces on no Viterbi path drop out (their
   *    quantized loss contribution is zero — disuse pruning); the
   *    kept set (used pieces ∪ single chars) rescores with add-one
   *    smoothing, score = ⌊ln((cnt+1)/(total+V))·10⁶ + ½⌋.
   *
   * Output after `rounds`: (`piece`, `cnt` — last E-step Viterbi
   * count, `score_micro`).
   *
   * Scale shape: ONE corpus scan builds the word table; every round
   * after is vocabulary-bounded (words × pieces never touches the
   * corpus), with the score map folded in as a 1-row broadcast — the
   * kmeans/q75 round discipline, each round's vocabulary a
   * `Share.once`.
   */
  def unigramTrain(docs: DataFrame, textCol: String, rounds: Int,
                   seedTopK: Int, maxPieceLen: Int = 4): DataFrame = {
    require(rounds >= 1, "unigramTrain: rounds must be >= 1")
    require(seedTopK >= 1 && maxPieceLen >= 2,
      "unigramTrain: need seedTopK >= 1 and maxPieceLen >= 2")
    def lnMicro(x: Column): Column =
      floor(log(x) * 1e6d + 0.5d).cast("long")
    val words = Share.once(docs
      .select(explode(toks(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n")), "unigramTrain.words")
    val subs = words
      .select(col("n"), explode(flatten(transform(
        sequence(lit(1), lit(maxPieceLen)), l => transform(
          when(length(col("word")) >= l,
            sequence(lit(1), length(col("word")).cast("int") - l + 1))
            .otherwise(array().cast("array<int>")),
          p => col("word").substr(p, l))))).as("piece"))
      .groupBy("piece").agg(sum(col("n")).as("cnt"))
    val singles = Share.once(subs.where(length(col("piece")) === 1)
      .select(col("piece")), "unigramTrain.singles")
    val seed = subs.where(length(col("piece")) === 1)
      .unionByName(subs.where(length(col("piece")) > 1)
        .orderBy(col("cnt").desc, col("piece")).limit(seedTopK))
    val t0 = seed.agg(sum(col("cnt")).as("__tot"))
    val vocab0 = seed.crossJoin(broadcast(t0))
      .select(col("piece"), col("cnt"),
        lnMicro(col("cnt").cast("double") / col("__tot").cast("double"))
          .as("score_micro"))
    (1 to rounds).foldLeft(vocab0) { case (vocab, _) =>
      val m = vocab.agg(map_from_entries(
        collect_list(struct(col("piece"), col("score_micro")))).as("__sm"))
      val used = words.crossJoin(broadcast(m))
        .select(col("n"),
          explode(viterbiPieces(col("word"), col("__sm"), maxPieceLen))
            .as("piece"))
        .groupBy("piece").agg(sum(col("n")).as("cnt"))
      val kept = used
        .unionByName(singles.select(col("piece"), lit(0L).as("cnt")))
        .groupBy("piece").agg(sum(col("cnt")).as("cnt"))
      val tv = kept.agg(sum(col("cnt")).as("__tot"),
        count(lit(1)).as("__v"))
      Share.once(kept.crossJoin(broadcast(tv))
        .select(col("piece"), col("cnt"),
          lnMicro((col("cnt") + 1L).cast("double") /
            (col("__tot") + col("__v")).cast("double")).as("score_micro")),
        "unigramTrain.vocab")
    }
  }

  /**
   * Tokenize with a TRAINED unigram vocabulary — the serving twin of
   * [[unigramTrain]], stateless and stream-safe (the
   * `bpeTokenizeStream` shape): the vocabulary collapses to one
   * broadcast score map and each document segments in-row via the
   * same Viterbi program the trainer used, so scoring the training
   * corpus reproduces the final round's counts exactly.
   *
   * Output: `idCol`, `keep`*, `n_words`, `n_unigram_tokens`.
   */
  def unigramTokenize(docs: DataFrame, idCol: String, textCol: String,
                      vocab: DataFrame, keep: Seq[String] = Nil,
                      maxPieceLen: Int = 4): DataFrame = {
    val out = (idCol +: keep).distinct
    val m = vocab.agg(map_from_entries(
      collect_list(struct(col("piece"), col("score_micro")))).as("__sm"))
    val ws = toks(col(textCol))
    docs.crossJoin(broadcast(m))
      .select(out.map(col) :+
        size(ws).cast("long").as("n_words") :+
        aggregate(transform(ws, w =>
          size(viterbiPieces(w, col("__sm"), maxPieceLen)).cast("long")),
          lit(0L), _ + _).as("n_unigram_tokens"): _*)
      .filter(col("n_words") > 0)
  }
}
