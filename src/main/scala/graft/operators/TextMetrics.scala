package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Share

/**
 * Pretraining-corpus quality operators beyond the reference's surface
 * (SURVEY §LLM-pipeline ops): Gopher/MassiveText-style repetition
 * metrics and eval-set n-gram decontamination. Both are standard stages
 * of a training-data pipeline; the reference (a streaming-ETL
 * deployment) has no equivalent, so these are first-party extensions in
 * the same gated-query regime as the dedup family.
 *
 * Scale shape: the repetition metrics are SCAN-LOCAL column programs —
 * per-row array ops, no shuffle, no state; the only corpus-wide
 * movement in decontamination is a broadcast of the (small) eval-set
 * gram dictionary. Document bodies never enter a shuffle (the payload
 * audit in PlanQualitySpec applies to these queries like any other).
 *
 * Two computation paths for the repetition counts, same results:
 * `repetitionStats` (the default; what q69 uses) explodes grams into
 * rows and counts through two codegen'd hash aggregations — one thin
 * shuffle of (doc, gram) pairs, linear work. The in-array Column
 * variants (`topGramCount`) are shuffle-free but O(grams²) interpreted
 * per row — measured 10× slower already at 50 k × ~50-word docs, so
 * they are only the right trade when a shuffle is genuinely
 * unaffordable and docs are short.
 */
object TextMetrics {

  /** ALL n-word shingles of a text column, duplicates preserved —
    * multiset counterpart of `Dedup.wordShingles` (which is
    * distinct-per-doc); same normalization (lower/trim, single-space
    * split) so the two compose. Texts with fewer than n tokens yield
    * an empty array. */
  def allWordShingles(text: Column, n: Int): Column =
    allWordShinglesOf(split(lower(trim(text)), " "), n)

  /** [[allWordShingles]] over an ALREADY-SPLIT token array column.
    * PERFORMANCE CONTRACT (the `Dedup.wordShinglesOf` one): pass a
    * projected attribute, not an expression — HOF lambdas re-evaluate
    * non-attribute operands per element, turning shingling into
    * O(words²) re-splits (measured 16× per-core on q113). */
  def allWordShinglesOf(w: Column, n: Int): Column = {
    require(n >= 1, "shingle width must be >= 1")
    val windows = transform(
      sequence(lit(0), size(w) - n),
      i => concat_ws(" ", (0 until n).map(k => element_at(w, i + k + 1)): _*))
    when(size(w) >= n, windows).otherwise(array().cast("array<string>"))
  }

  /** Total n-gram count of the text (multiset size). */
  def gramTotal(text: Column, n: Int): Column =
    size(allWordShingles(text, n)).cast("long")

  /** Distinct n-gram count. */
  def gramDistinct(text: Column, n: Int): Column =
    size(array_distinct(allWordShingles(text, n))).cast("long")

  /**
   * Per-document repetition counts via explode + two codegen'd hash
   * aggregations: one row per doc with
   * (gram_total, top_gram_count, gram_distinct) — the operands of
   * MassiveText's "top n-gram fraction" and "duplicate n-gram fraction"
   * rules. Documents shorter than n words produce no row (they have no
   * n-grams; filter upstream if they must appear).
   *
   * The only shuffle carries (doc, n-gram) pairs — bounded by the
   * corpus token count, partial-aggregated map-side; no full document
   * ever moves.
   */
  def repetitionStats(docs: DataFrame, idCol: String, textCol: String,
                      n: Int, keep: Seq[String] = Nil): DataFrame = {
    val out = (idCol +: keep).distinct
    // fan out single-split inputs: shingling cost dwarfs one exchange;
    // materialize the split first (the wordShinglesOf perf contract)
    graft.core.Tables.fanOut(docs)
      .select((out.map(col) :+
        split(lower(trim(col(textCol))), " ").as("__ws")): _*)
      .select((out.map(col) :+
        explode(allWordShinglesOf(col("__ws"), n)).as("__gram")): _*)
      .groupBy((out.map(col) :+ col("__gram")): _*)
      .agg(count(lit(1)).as("__cnt"))
      .groupBy(out.map(col): _*)
      .agg(sum(col("__cnt")).as("gram_total"),
        max(col("__cnt")).as("top_gram_count"),
        count(lit(1)).as("gram_distinct"))
  }

  /**
   * Streaming twin of [[repetitionStats]]: the same per-doc
   * (gram_total, top_gram_count, gram_distinct) computed entirely
   * IN-ROW — a document arrives whole in its row, so repetition is a
   * property of the row, not of the stream. No explode, no shuffle, no
   * state, no watermark: a stateless projection that runs identically
   * on a batch frame or an unbounded `readStream` in any output mode
   * (strictly stronger than a watermark-bounded stateful variant — a
   * late document can never change another document's stats).
   *
   * Linear per row AND codegen'd: the grams feed
   * [[graft.functions.GramRunStats]], a first-class Catalyst expression
   * whose generated loop copies, binary-sorts and run-length-scans the
   * array with zero per-element allocation — the higher-order-function
   * formulation (array_sort + `aggregate` lambda) was measured ~16×
   * slower at sf0.1 (interpreted lambda dispatch per gram). Matches
   * `repetitionStats` exactly, including dropping docs shorter than n
   * words.
   */
  def repetitionStatsInRow(docs: DataFrame, idCol: String, textCol: String,
                           n: Int, keep: Seq[String] = Nil): DataFrame = {
    val out = (idCol +: keep).distinct
    val stats = graft.functions.GramRunStats(allWordShinglesOf(col("__ws"), n))
    // the short-doc filter tests token count directly (cheap split)
    // instead of the computed stats, so FilterExec never evaluates
    // the stats expression — one evaluation per row, in the project;
    // the split materializes first (the wordShinglesOf perf contract)
    graft.core.Tables.fanOut(docs) // shingling cost dwarfs one exchange
      .select((out.map(col) :+
        split(lower(trim(col(textCol))), " ").as("__ws")): _*)
      .filter(size(col("__ws")) >= n)
      .select((out.map(col) :+ stats.as("__stats")): _*)
      .select((out.map(col) :+
        col("__stats.gram_total").as("gram_total") :+
        col("__stats.top_gram_count").as("top_gram_count") :+
        col("__stats.gram_distinct").as("gram_distinct")): _*)
  }

  /** Occurrence count of the single most frequent n-gram (0 for texts
    * shorter than n words) — the numerator of MassiveText's
    * "top n-gram fraction" quality rule. Scan-local but O(grams²)
    * interpreted: prefer `repetitionStats` unless a shuffle is
    * genuinely unaffordable and documents are short. */
  def topGramCount(text: Column, n: Int): Column = {
    val g = allWordShingles(text, n)
    coalesce(
      array_max(transform(array_distinct(g),
        x => size(filter(g, y => y === x)))),
      lit(0)).cast("long")
  }

  /**
   * Eval-set decontamination: flag every non-eval document that shares
   * at least one distinct n-gram with any eval document — the standard
   * "n-gram overlap" test-set leak check run before training.
   *
   * Returns the flagged documents as (keep columns), one row per doc.
   * The eval gram dictionary is broadcast (eval sets are small by
   * nature); the train side stays a scan + broadcast-hash semi-join,
   * so nothing corpus-sized shuffles.
   */
  def contaminatedDocs(docs: DataFrame, idCol: String, textCol: String,
                       isEval: Column, n: Int,
                       keep: Seq[String] = Nil): DataFrame =
    contaminatedAgainst(docs.filter(!isEval), idCol, textCol,
      docs.filter(isEval), textCol, n, keep)

  /** General form of [[contaminatedDocs]]: the eval set is its own
    * (static) DataFrame, so `train` may be a STREAM — the gram
    * explode, broadcast membership join, and per-doc `distinct` (a
    * streaming-safe Deduplicate, not an aggregation) all run
    * incrementally, flagging leaks as documents arrive. */
  def contaminatedAgainst(train: DataFrame, idCol: String, textCol: String,
                          evalDocs: DataFrame, evalTextCol: String, n: Int,
                          keep: Seq[String] = Nil): DataFrame = {
    val out = (idCol +: keep).distinct
    val gram = "__gram"
    // fan out single-split inputs: shingling cost dwarfs one exchange;
    // splits materialize first (the wordShinglesOf perf contract)
    val evalGrams = graft.core.Tables.fanOut(evalDocs)
      .select(split(Dedup.normText(col(evalTextCol)), " ").as("__ws"))
      .select(explode(Dedup.wordShinglesOf(col("__ws"), n)).as(gram))
      .distinct()
    graft.core.Tables.fanOut(train)
      .select((out.map(col) :+
        split(Dedup.normText(col(textCol)), " ").as("__ws")): _*)
      .select((out.map(col) :+
        explode(Dedup.wordShinglesOf(col("__ws"), n)).as(gram)): _*)
      .join(broadcast(evalGrams), gram)
      .select(out.map(col): _*)
      .distinct()
  }

  /**
   * Corpus-frequency document scoring: how common are this document's
   * n-grams in the WHOLE corpus? Per doc: (n_grams, freq_sum = Σ corpus
   * count of each gram occurrence, freq_min). High mean frequency
   * (freq_sum ≫ n_grams) marks boilerplate/template text; freq_min = 1
   * marks a hapax n-gram (text unique in the corpus) — the two tails a
   * corpus-statistics quality filter trims. All outputs are integer
   * counts, so thresholds compare exactly via cross-multiplication
   * (freq_sum > T·n_grams), never a float mean.
   *
   * Scale shape: gram counts are a vocabulary-bounded aggregation, and
   * the join back is gram-keyed on BOTH sides — the (doc, gram) shuffle
   * is the one exchange and Spark reuses it for the counts branch
   * (same subtree, same partitioning). The gram string is the join key,
   * never dead payload; at extreme scale swap the key for a 128-bit
   * hash exactly as `Dedup.exactSurvivors` does.
   */
  def corpusFreqStats(docs: DataFrame, idCol: String, textCol: String,
                      n: Int, keep: Seq[String] = Nil): DataFrame = {
    val out = (idCol +: keep).distinct
    val grams = graft.core.Tables.fanOut(docs)
      .select((out.map(col) :+
        split(lower(trim(col(textCol))), " ").as("__ws")): _*)
      .select((out.map(col) :+
        explode(allWordShinglesOf(col("__ws"), n)).as("__gram")): _*)
    val counts = grams.groupBy(col("__gram"))
      .agg(count(lit(1)).as("__cf"))
    grams.join(counts, "__gram")
      .groupBy(out.map(col): _*)
      .agg(count(lit(1)).as("n_grams"),
        sum(col("__cf")).as("freq_sum"),
        min(col("__cf")).as("freq_min"))
  }

  /**
   * TF-IDF keyword extraction — the per-document salience report a
   * corpus browser / topic labeler / retrieval index builds: each
   * doc's top-k terms by tf·idf with idf = ln(N/df) over the corpus
   * itself.
   *
   * Determinism: idf is the 6-dp-rounded ln of an IEEE-exact integer
   * ratio (the q99 convention) carried as DECIMAL(18,6), so
   * `score = tf · idf` is exact decimal arithmetic and the
   * (score desc, term asc) ranking replays in any engine.
   *
   * Scale shape: one map-side-combined (doc, term) count aggregation
   * (the exchange carries tokens, not documents), a term-keyed join
   * against the vocab-bounded df table (AQE broadcasts it when it
   * fits; at web-scale vocab it stays a thin co-partitioned shuffle —
   * both sides are already term-keyed rows of ~3 values), the 1-row
   * doc-count broadcast (no collect), and a per-doc top-k window over
   * k·docs candidate rows.
   *
   * Output: (idCol, keep, term, tf, score double, rank), rank 1..k.
   */
  def tfidfKeywords(docs: DataFrame, idCol: String, textCol: String,
                    k: Int, keep: Seq[String] = Nil): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val out = (idCol +: keep).distinct
    val tf = graft.core.Tables.fanOut(docs)
      .select((out.map(col) :+
        explode(split(lower(trim(col(textCol))), " ")).as("__term")): _*)
      .filter(col("__term") =!= "")
      .groupBy((out.map(col) :+ col("__term")): _*)
      .agg(count(lit(1)).as("tf"))
    val dfTab = tf.groupBy(col("__term")).agg(count(lit(1)).as("__df"))
    // N = docs with >= 1 non-empty token — counted from the doc scan
    // directly (one scan-local size() per doc), NOT from tf: deriving
    // it from tf re-ran the whole token-explode aggregate a third time
    // (r17; dfTab is inherently tf-derived, this count is not)
    val nDocs = docs
      .filter(size(filter(split(lower(trim(col(textCol))), " "),
        t => t =!= "")) > 0)
      .select(col(idCol)).distinct().agg(count(lit(1)).as("__n"))
    val scored = tf.join(dfTab, "__term")
      .crossJoin(broadcast(nDocs)) // 1-row total: the no-collect pattern
      .withColumn("__idf",
        round(log(col("__n").cast("double") / col("__df").cast("double")), 6)
          .cast("decimal(18,6)"))
      .withColumn("__score", col("tf") * col("__idf"))
    Relational.topKPerGroup(scored, Seq(idCol),
        Seq(col("__score").desc, col("__term").asc), k,
        rankCol = Some("rank"))
      .select((out.map(col) :+ col("__term").as("term") :+ col("tf") :+
        col("__score").cast("double").as("score") :+ col("rank")): _*)
  }

  /** Stream-static form of [[corpusFreqStats]]: score arriving
    * documents against a PRECOMPUTED frequency table (`(__gram, __cf)`
    * — e.g. yesterday's corpus statistics). Fully stateless per row:
    * the vocabulary collapses to one broadcast map row and the stats
    * are a per-row HOF over the document's own grams — no explode, no
    * shuffle, no streaming aggregation state, so it runs unchanged in
    * append mode on an unbounded stream (the `repetitionStatsInRow`
    * pattern). Grams absent from the table count 0 (out-of-corpus).
    * The broadcast map bounds this to vocabularies that fit an
    * executor; past that, use the batch join form. */
  def corpusFreqStatsAgainst(docs: DataFrame, idCol: String, textCol: String,
                             counts: DataFrame, n: Int,
                             keep: Seq[String] = Nil): DataFrame = {
    val out = (idCol +: keep).distinct
    val cmap = counts
      .agg(map_from_entries(collect_list(struct(col("__gram"), col("__cf"))))
        .as("__cfm"))
    // two materialization steps (the wordShinglesOf perf contract):
    // the split feeds the shingle lambda, the gram array feeds the
    // freq lambda — each must be an attribute where a lambda reads it
    val freqs = transform(col("__gs"),
      g => coalesce(element_at(col("__cfm"), g), lit(0L)))
    docs.crossJoin(broadcast(cmap))
      .withColumn("__ws", split(lower(trim(col(textCol))), " "))
      .withColumn("__gs", allWordShinglesOf(col("__ws"), n))
      .select((out.map(col) :+
        size(col("__gs")).cast("long").as("n_grams") :+
        aggregate(freqs, lit(0L), _ + _).as("freq_sum") :+
        array_min(freqs).as("freq_min")): _*)
      .filter(col("n_grams") > 0) // match corpusFreqStats: short docs drop
  }

  /**
   * Context-length splitting — the prep step for documents longer than
   * the model context: each doc becomes overlapping word-window pieces
   * of at most `maxWords`, starting every `strideWords` (overlap =
   * maxWords − stride, the sliding-window chunking every tokenizer
   * pipeline runs). Piece starts are 0, stride, 2·stride, … while they
   * fall inside the doc, so every non-empty doc yields at least one
   * piece and no piece is empty (wordless docs drop, like the other
   * per-token ops). Output: input columns + `piece_idx`, `piece`
   * (the piece text), `piece_words`.
   *
   * Scale shape: a pure narrow explode in the scan projection — no
   * shuffle, no state; output size is the stride-amplified corpus.
   */
  def splitLongDocs(docs: DataFrame, idCol: String, textCol: String,
                    maxWords: Int, strideWords: Int): DataFrame = {
    require(maxWords >= 1, "maxWords must be >= 1")
    require(strideWords >= 1 && strideWords <= maxWords,
      "strideWords must be in [1, maxWords]")
    val words = filter(split(lower(trim(col(textCol))), " "), t => t =!= "")
    val n = size(words)
    // number of starts strictly inside the doc, at least 1
    val pieces = greatest(lit(1L),
      ceil((n - lit(maxWords)).cast("double") / strideWords).cast("long") + 1)
    docs
      .withColumn("__ws", words)
      .withColumn("piece_idx", explode(sequence(lit(0L), pieces - 1)))
      .withColumn("piece", array_join(
        slice(col("__ws"), (col("piece_idx") * strideWords + 1).cast("int"),
          lit(maxWords)), " "))
      .withColumn("piece_words",
        least(lit(maxWords.toLong), size(col("__ws")) - col("piece_idx") * strideWords))
      .filter(col("piece_words") > 0)
      .drop("__ws")
  }

  /** The built-in PII pattern classes, shared with the `redact` SMT
    * (`core.Pipeline`): one source of truth for what counts as
    * email/ipv4/phone across scanning and scrubbing. Order matters to
    * REDACTION (email and ipv4 must run before the greedy phone rule);
    * scanning counts each class independently. */
  val PiiPatterns: Seq[(String, String)] = Seq(
    "email" -> """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}""",
    "ipv4" -> """(\d{1,3}\.){3}\d{1,3}""",
    "phone" -> """\+?\d[\d\s().-]{7,}\d""")

  /**
   * PII scan — the measurement half of the redaction story: per
   * document, non-overlapping match counts for each PII class
   * (`n_email`, `n_ipv4`, `n_phone`), the report a compliance pass
   * runs BEFORE deciding to scrub. Scan-local `regexp_count`
   * projections (codegen'd, no UDF, no shuffle); aggregate after.
   */
  def piiScan(docs: DataFrame, textCol: String,
              keep: Seq[String]): DataFrame =
    docs.select((keep.map(col) ++ PiiPatterns.map { case (name, re) =>
      regexp_count(col(textCol), lit(re)).cast("long").as(s"n_$name")
    }): _*)

  /**
   * Encoding-hygiene QA — the ingest gate that catches decode damage
   * BEFORE it trains: per document, counts of the three classic
   * corruption signatures in already-decoded text:
   *  - `n_repl`: U+FFFD replacement characters (a decoder already
   *    gave up on those bytes);
   *  - `n_ctrl`: C0 control characters other than tab/newline/CR
   *    (binary junk or transfer corruption; U+0001–U+0008, U+000B,
   *    U+000C, U+000E–U+001F — NUL excluded so the class is identical
   *    in engines that can't carry NUL in literals);
   *  - `n_moji`: Â/Ã followed by a Latin-1-supplement continuation
   *    (U+0080–U+00BF) — the signature of UTF-8 bytes re-decoded as
   *    Latin-1 ("Ã©" where "é" was meant), each match 2 chars wide.
   *
   * `bad_chars` = n_repl + n_ctrl + 2·n_moji, `badness_micro` =
   * bad_chars·10⁶ div n_chars (integer ppm, the q69 convention), and
   * docs with ANY signature flag `is_clean = false`.
   *
   * Scan-local codegen'd `regexp_count` projections — no shuffle, no
   * UDF; at 100 TB this is a pure map over the scan like `piiScan`.
   */
  def encodingQa(docs: DataFrame, idCol: String, textCol: String,
                 keep: Seq[String] = Nil): DataFrame = {
    val repl = regexp_count(col(textCol), lit("\uFFFD")).cast("long")
    val ctrl = regexp_count(col(textCol),
      lit("[\u0001-\u0008\u000B\u000C\u000E-\u001F]")).cast("long")
    val moji = regexp_count(col(textCol),
      lit("[\u00C2\u00C3][\u0080-\u00BF]")).cast("long")
    docs.select((col(idCol) +: keep.map(col)) ++ Seq(
        length(col(textCol)).cast("long").as("n_chars"),
        repl.as("n_repl"), ctrl.as("n_ctrl"), moji.as("n_moji")): _*)
      .withColumn("bad_chars",
        col("n_repl") + col("n_ctrl") + lit(2L) * col("n_moji"))
      .withColumn("badness_micro",
        when(col("n_chars") > 0L,
          expr("bad_chars * 1000000 div n_chars")).otherwise(lit(0L)))
      .withColumn("is_clean", col("bad_chars") === 0L)
  }

  /**
   * Character-level Shannon entropy — the gibberish/blob gate beside
   * [[encodingQa]]: natural text sits around 2.5–3.2 nats/char, while
   * base64 blobs, minified code, and key-mash spam land far outside
   * that band in either direction (uniform-random high, repeated-char
   * low). Entropy is computed in integer micro-nats, exactly:
   * H = Σ_c (count_c · round_micro(ln(n/count_c))) div n — each ln is
   * one IEEE-exact integer-ratio division rounded ONCE to an integer
   * micro value (the q99 convention), the weighted sum is pure BIGINT,
   * and the div is exact integer division, so any engine replays the
   * gate bit-for-bit.
   *
   * Scale shape: one (doc, char) map-side-combined count aggregation —
   * the exchange carries ≤ alphabet-size rows per doc (~100 for text),
   * never the text — then one per-doc collapse.
   *
   * Output: one row per doc with ≥ 1 char: idCol, keep...,
   * `n_chars`, `n_distinct`, `entropy_micro` (micro-nats/char).
   */
  def charEntropy(docs: DataFrame, idCol: String, textCol: String,
                  keep: Seq[String] = Nil): DataFrame = {
    val out = (idCol +: keep).distinct
    val counts = graft.core.Tables.fanOut(docs)
      .select((out.map(col) :+
        explode(split(col(textCol), "")).as("__ch")): _*)
      .filter(col("__ch") =!= "")
      .groupBy((out.map(col) :+ col("__ch")): _*)
      .agg(count(lit(1)).as("__c"))
    val withN = counts.withColumn("__n",
      sum(col("__c")).over(org.apache.spark.sql.expressions.Window
        .partitionBy(out.map(col): _*)))
    withN
      .withColumn("__lnmicro",
        round(log(col("__n").cast("double") / col("__c").cast("double"))
          * lit(1000000.0d)).cast("long"))
      .groupBy(out.map(col): _*)
      .agg(max(col("__n")).as("n_chars"),
        count(lit(1)).as("n_distinct"),
        sum(col("__c") * col("__lnmicro")).as("__t"))
      .withColumn("entropy_micro", expr("__t div n_chars"))
      .drop("__t")
  }

  /** Portable polynomial token hash (Rabin–Karp shape, h·31 + codepoint
    * mod 2³¹−1 over the token's chars) — the q40 fingerprint recurrence
    * applied per token, bit-identical in any engine. Computed by the
    * codegen'd [[graft.functions.TokenHash]] expression; the
    * higher-order-function formulation it replaced survives as the
    * reference implementation in TokenHashSpec. */
  /**
   * Per-document n-gram novelty against the corpus's own past — the
   * memorization-pressure scan run before mixing a new crawl in: for
   * each document (corpus order = ascending `idCol`), how many of its
   * DISTINCT n-grams were already emitted by an earlier document?
   * A doc whose grams are mostly old adds little new signal even when
   * no dedup rule fires on it; novelty profiles are the standard way
   * to spot that tail (and the per-source aggregate shows which feeds
   * have gone stale). "First occurrence" is exact: the corpus-wide
   * minimum `idCol` containing the gram, the same deterministic policy
   * as the dedup family.
   *
   * Returns one row per doc with ≥ 1 n-gram: `idCol`, `keep` columns,
   * `n_grams` (distinct), `n_repeated` (first seen in an EARLIER doc)
   * and `novelty_micro` = (n_grams − n_repeated)·10⁶ div n_grams
   * (integer-exact parts-per-million, the q69 micro convention —
   * never a float).
   *
   * Scale shape: grams explode to (id, 128-bit hash) rows — gram text
   * never leaves the scan projection; the first-occurrence aggregation
   * and the verdict join are co-partitioned on the same hash key, and
   * verdicts collapse map-side back to one row per doc. Identical
   * span ⇒ identical key, same collision budget as exact dedup.
   */
  def ngramNovelty(docs: DataFrame, idCol: String, textCol: String,
                   n: Int, keep: Seq[String] = Nil): DataFrame = {
    require(n >= 1, "n must be >= 1")
    val out = (idCol +: keep).distinct
    // materialize the split before the shingle lambda reads it (the
    // wordShinglesOf perf contract — this exact query measured the
    // 16× per-core cost of the inline form)
    val occ = docs
      .select((out.map(col) :+
        split(Dedup.normText(col(textCol)), " ").as("__ws")): _*)
      .select((out.map(col) :+
        explode(Dedup.wordShinglesOf(col("__ws"), n)).as("__g")): _*)
      .select((out.map(col) :+
        xxhash64(col("__g")).as("__h1") :+
        xxhash64(lit(0x9e3779b9L), col("__g")).as("__h2")): _*)
    // first-occurrence as a window min over the gram-hash partition:
    // one shuffle of the thin (id, 128-bit hash) stream and ONE scan
    // of the corpus — the agg-then-self-join form paid the explode
    // twice plus a second join shuffle for the same answer
    val w = org.apache.spark.sql.expressions.Window.partitionBy("__h1", "__h2")
    occ.withColumn("__first", min(col(idCol)).over(w))
      .groupBy(out.map(col): _*)
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("__first") < col(idCol), 1L).otherwise(0L)).as("n_repeated"))
      .withColumn("novelty_micro",
        expr("(n_grams - n_repeated) * 1000000 div n_grams"))
  }

  def tokenHash(token: Column): Column =
    graft.functions.TokenHash(token)

  /**
   * Hashed linear quality scorer — the fastText/DSIR-style shape every
   * corpus-quality gate at scale reduces to: each token feature-hashes
   * into one of `dims` buckets, each bucket carries a fixed integer
   * weight, and a document's score is the sum of its token weights.
   * The weight table is ARITHMETIC, not data: bucket j weighs
   * `((j·2654435761) mod 1e9+7) mod 2001 − 1000` (pseudo-random in
   * [−1000, 1000], the portable-selector mixing constant) — so an
   * external engine replays the exact model with no side channel, and
   * swapping in a trained table is one literal-array substitution.
   *
   * Returns one row per doc: `keep` cols, `n_toks`, integer `score`.
   *
   * Scale shape: scan-local hashing (the token explode collapses via
   * map-side partial aggregation to one row per doc before the only
   * shuffle, which carries (id, sum) — never tokens or text).
   */
  def hashedLinearScore(docs: DataFrame, idCol: String, textCol: String,
                        dims: Int = 64, keep: Seq[String] = Nil): DataFrame = {
    require(dims >= 1, "dims must be >= 1")
    val out = (idCol +: keep).distinct
    val toks = docs.select((out.map(col) :+
      explode(filter(split(lower(trim(col(textCol))), " "), t => t =!= ""))
        .as("__tok")): _*)
    val bucket = tokenHash(col("__tok")) % dims
    val weight = (bucket * 2654435761L) % 1000000007L % 2001L - 1000L
    toks
      .select((out.map(col) :+ weight.as("__w")): _*)
      .groupBy(out.map(col): _*)
      .agg(count(lit(1)).as("n_toks"), sum(col("__w")).as("score"))
  }

  /** Stateless in-row twin of [[hashedLinearScore]] (the
    * `repetitionStatsInRow` pattern): the token fold runs as a per-row
    * HOF — no explode, no shuffle, no aggregation state — so it scores
    * an unbounded append-mode stream unchanged. Same results, row for
    * row; docs with zero tokens drop in both paths. */
  def hashedLinearScoreInRow(docs: DataFrame, idCol: String, textCol: String,
                             dims: Int = 64, keep: Seq[String] = Nil): DataFrame = {
    require(dims >= 1, "dims must be >= 1")
    val out = (idCol +: keep).distinct
    val toks = filter(split(lower(trim(col(textCol))), " "), t => t =!= "")
    val weights = transform(toks,
      t => (tokenHash(t) % dims * 2654435761L) % 1000000007L % 2001L - 1000L)
    docs.select((out.map(col) :+
      size(toks).cast("long").as("n_toks") :+
      aggregate(weights, lit(0L), _ + _).as("score")): _*)
      .filter(col("n_toks") > 0)
  }

  /**
   * Top-k PMI collocations — the statistically-bound word pairs
   * ("new york", "et al") a tokenizer's merge list and a phrase-aware
   * dedup both want: pointwise mutual information of adjacent token
   * pairs, PMI(x,y) = ln( c_xy·N_t² / (N_b·c_x·c_y) ) — ONE exact
   * integer ratio (DECIMAL(38,0) products), one 6-dp-rounded ln.
   * Pairs below `minCount` are noise and drop before ranking
   * (rare-pair PMI explodes — the standard cutoff). Deterministic
   * top-k by (pmi desc, bigram asc). Tokens cannot contain the
   * space separator (they come from splitting on it), so the bigram
   * string is unambiguous.
   *
   * Output: (`bigram`, `n_pair`, `pmi`).
   *
   * Scale shape: bigrams assemble IN-ROW (a transform over the token
   * array — no self-join, no positional shuffle); unigram and bigram
   * counts are vocab-bounded aggregations; two vocab-keyed joins and
   * two 1-row total broadcasts; TakeOrdered top-k.
   */
  /**
   * RAKE keyword extraction (Rapid Automatic Keyword Extraction,
   * Rose et al. 2010) — multi-word keyphrases, corpus-wide: candidate
   * phrases are maximal runs of non-stopword tokens; each word scores
   * degree/frequency (degree = Σ length of phrases it appears in);
   * a phrase scores the sum of its words' scores. The stopword list
   * is CORPUS-DERIVED (the `stopK` most frequent tokens, ties
   * lexicographic) — language-agnostic and side-channel-free, where
   * a fixed English list would silently no-op on zh/de corpora.
   *
   * Phrases assemble IN-ROW by the mark-and-split device: stopwords
   * rewrite to a U+0001 sentinel, the token array re-joins on spaces
   * and splits on the sentinel — no positional explode, no doc-keyed
   * token shuffle (tokens must not contain U+0001 — they come from
   * whitespace splitting). Phrases longer than `maxPhraseLen` words
   * drop (the standard RAKE cutoff; unbounded runs are boilerplate,
   * not keyphrases).
   *
   * Exactness: word scores quantize by ONE integer division
   * (`degree·10⁶ div freq`, nonnegative), phrase scores are BIGINT
   * sums of those integers, and the top-k orders by
   * (score_micro desc, phrase asc) — every decision integer.
   *
   * Output: top-`k` rows of (`phrase`, `n`, `n_words`,
   * `score_micro`, `score`).
   *
   * Scale shape: one vocab-bounded frequency pass feeds a stopK-row
   * TakeOrdered whose collected array broadcasts back (stopK ≈ 20
   * strings — 1-row state, the kmeans-centroid precedent); ONE
   * corpus pass emits phrases (short strings, vocab-bounded
   * aggregations — the [[pmiCollocations]] posture); word stats,
   * phrase counts, and scores derive from shared phrase tables;
   * TakeOrdered top-k.
   */
  def rakeKeywords(docs: DataFrame, textCol: String, k: Int = 25,
                   stopK: Int = 20, maxPhraseLen: Int = 4): DataFrame = {
    require(k >= 1 && stopK >= 1 && maxPhraseLen >= 1,
      "rakeKeywords: k, stopK, maxPhraseLen must be >= 1")
    val phr = Share.once(rakePhrases(docs, textCol,
        rakeStopwords(docs, textCol, stopK), maxPhraseLen),
      "rakeKeywords.phr")
    val ws = rakeWordScoresFrom(phr)
    val pc = phr.groupBy("phrase").agg(count(lit(1)).as("n"))
    val pscore = pc.select(col("phrase"))
      .select(col("phrase"), explode(split(col("phrase"), " ")).as("wd"))
      .join(ws, "wd")
      .groupBy("phrase").agg(sum(col("score_micro")).as("score_micro"))
    pc.join(pscore, "phrase")
      .select(col("phrase"), col("n"),
        size(split(col("phrase"), " ")).cast("long").as("n_words"),
        col("score_micro"),
        (col("score_micro").cast("double") / 1e6d).as("score"))
      .orderBy(col("score_micro").desc, col("phrase").asc).limit(k)
  }

  /** The corpus-derived RAKE stoplist as a TABLE (`tok`): the `stopK`
    * most frequent tokens (count desc, token asc) — the persistable
    * half of the RAKE model [[rakeScoreAgainst]] serves against. */
  def rakeStopwords(docs: DataFrame, textCol: String,
                    stopK: Int = 20): DataFrame = {
    require(stopK >= 1, "rakeStopwords: stopK must be >= 1")
    val w = filter(split(lower(trim(col(textCol))), " "), t => t =!= "")
    docs.select(explode(w).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("__c"))
      .orderBy(col("__c").desc, col("tok").asc).limit(stopK)
      .select(col("tok"))
  }

  /** The trained RAKE word-score table (`wd`, `score_micro` =
    * degree·10⁶ div freq) — the other persistable model half. */
  def rakeWordScores(docs: DataFrame, textCol: String,
                     stopwords: DataFrame,
                     maxPhraseLen: Int = 4): DataFrame =
    rakeWordScoresFrom(rakePhrases(docs, textCol, stopwords, maxPhraseLen))

  /** Candidate-phrase rows via the mark-and-split device (see
    * [[rakeKeywords]]); `stopwords` is a (`tok`) table that collapses
    * to ONE broadcast row. */
  private def rakePhrases(docs: DataFrame, textCol: String,
                          stopwords: DataFrame,
                          maxPhraseLen: Int): DataFrame = {
    val stopArr = stopwords
      .agg(sort_array(collect_list(col("tok"))).as("__stops"))
    docs.crossJoin(broadcast(stopArr))
      .select(explode(rakePhraseArr(textCol, maxPhraseLen)).as("phrase"))
  }

  /** The in-row phrase array for one doc; requires the broadcast
    * stoplist row's `__stops` column in scope. */
  private def rakePhraseArr(textCol: String, maxPhraseLen: Int): Column = {
    val w = filter(split(lower(trim(col(textCol))), " "), t => t =!= "")
    val marked = concat_ws(" ", transform(w, t =>
      when(array_contains(col("__stops"), t), lit("\u0001")).otherwise(t)))
    filter(transform(split(marked, "\u0001"), p => trim(p)),
      p => p =!= "" && size(split(p, " ")) <= maxPhraseLen)
  }

  private def rakeWordScoresFrom(phr: DataFrame): DataFrame =
    phr.select(col("phrase"), size(split(col("phrase"), " ")).as("__plen"))
      .select(explode(split(col("phrase"), " ")).as("wd"), col("__plen"))
      .groupBy("wd")
      .agg(count(lit(1)).as("__freq"), sum(col("__plen")).as("__deg"))
      .select(col("wd"), expr("(__deg * 1000000) div __freq").as("score_micro"))

  /**
   * RAKE SERVING — score arriving documents against a PERSISTED
   * corpus-derived model (the [[rakeStopwords]] stoplist + the
   * [[rakeWordScores]] table), the stream-static posture of
   * `dropKnownBoilerplate`/`bigramNllAgainst`: the corpus trained
   * once, each new doc scored statelessly, so the SAME plan runs
   * batch or as an append-mode stream (StreamingSpec pins
   * stream == batch).
   *
   * Fully IN-ROW: both model tables collapse to one broadcast row
   * each (the stoplist array; the word-score MAP — vocab-bounded,
   * the BPE-merge-table precedent), phrase assembly is the
   * mark-and-split device, each phrase occurrence's score is an
   * in-row fold of the word map (words the model never saw score 0 —
   * the serving convention), and the per-doc top pick is a
   * lexicographic (score desc, phrase asc) fold. No shuffle, no
   * per-key state — the 100 TB serving shape is a map-only scan.
   *
   * Output per doc: (idCol, `n_phrases`, `top_phrase`,
   * `top_score_micro`, `sum_score_micro`) — NULL top for docs with
   * no candidate phrase (sum 0). A NULL text column counts as "no
   * candidate phrase" too (the phrase array coalesces to empty, so
   * n_phrases/sum report 0, not NULL — the oracle's COALESCE(..,0)
   * convention).
   */
  def rakeScoreAgainst(docs: DataFrame, idCol: String, textCol: String,
                       stopwords: DataFrame, wordScores: DataFrame,
                       maxPhraseLen: Int = 4): DataFrame = {
    require(maxPhraseLen >= 1, "rakeScoreAgainst: maxPhraseLen must be >= 1")
    val stopArr = stopwords
      .agg(sort_array(collect_list(col("tok"))).as("__stops"))
    val wmap = wordScores
      .agg(map_from_entries(collect_list(
        struct(col("wd"), col("score_micro")))).as("__wmap"))
    val phrases = coalesce(rakePhraseArr(textCol, maxPhraseLen),
      array().cast("array<string>"))
    val scored = transform(phrases, p => struct(
      aggregate(split(p, " "), lit(0L), (acc, wd) =>
        acc + coalesce(element_at(col("__wmap"), wd), lit(0L))).as("s"),
      p.as("p")))
    val sentinel = struct(lit(Long.MinValue).as("s"), lit("").as("p"))
    val best = aggregate(scored, sentinel, (acc, c) =>
      when(c.getField("s") > acc.getField("s") ||
        (c.getField("s") === acc.getField("s") &&
          c.getField("p") < acc.getField("p")), c).otherwise(acc))
    docs.crossJoin(broadcast(stopArr)).crossJoin(broadcast(wmap))
      .select(col(idCol),
        size(phrases).cast("long").as("n_phrases"),
        when(size(phrases) > 0, best.getField("p")).as("top_phrase"),
        when(size(phrases) > 0, best.getField("s")).as("top_score_micro"),
        aggregate(scored, lit(0L), (acc, c) => acc + c.getField("s"))
          .as("sum_score_micro"))
  }

  def pmiCollocations(docs: DataFrame, textCol: String, k: Int = 20,
                      minCount: Long = 5L): DataFrame = {
    require(k >= 1, "pmiCollocations: k must be >= 1")
    val w = filter(split(lower(trim(col(textCol))), " "), t => t =!= "")
    val bigrams = when(size(w) >= 2,
      transform(sequence(lit(1), size(w) - 1),
        i => concat_ws(" ", element_at(w, i), element_at(w, i + 1))))
      .otherwise(array().cast("array<string>"))
    // ONE corpus pass for unigrams AND bigrams (r17; the r16 shape ran
    // one tokenize+explode+aggregate pass per table): each doc emits
    // its tokens tagged 0 and its bigrams tagged 1 through a single
    // explode and one map-side-combined count per (tag, gram). Its four
    // consumers (totals, bigram table, two unigram probes) sit in one
    // plan: exchange reuse runs the count once.
    val grams = docs.select(explode(concat(
        transform(w, t => struct(lit(0).as("tag"), t.as("g"))),
        transform(bigrams, b => struct(lit(1).as("tag"), b.as("g")))))
        .as("__tg"))
      .groupBy(col("__tg.tag").as("__tag"), col("__tg.g").as("__g"))
      .agg(count(lit(1)).as("__c"))
    val uni = grams.filter(col("__tag") === 0)
      .select(col("__g").as("tok"), col("__c").as("__cu"))
    val biAll = grams.filter(col("__tag") === 1)
      .select(col("__g").as("bigram"), col("__c").as("n_pair"))
    val bi = biAll.filter(col("n_pair") >= minCount)
    val nt = uni.agg(sum(col("__cu")).as("__nt"))
    val nb = biAll.agg(sum(col("n_pair")).as("__nb"))
    val parts = split(col("bigram"), " ")
    val scored = bi
      .withColumn("__x", element_at(parts, 1))
      .withColumn("__y", element_at(parts, 2))
      .join(uni.select(col("tok").as("__x"), col("__cu").as("__cx")), "__x")
      .join(uni.select(col("tok").as("__y"), col("__cu").as("__cy")), "__y")
      .crossJoin(broadcast(nt))
      .crossJoin(broadcast(nb))
      .select(col("bigram"), col("n_pair"),
        round(log(
          (col("n_pair").cast("decimal(38,0)") *
            col("__nt").cast("decimal(38,0)") * col("__nt")).cast("double") /
          (col("__nb").cast("decimal(38,0)") *
            col("__cx").cast("decimal(38,0)") * col("__cy")).cast("double")),
          6).as("pmi"))
    scored.orderBy(col("pmi").desc, col("bigram").asc).limit(k)
  }

  /**
   * Zipf rank-frequency fit — the tokenizer-sizing diagnostic beside
   * Heaps-law vocab growth: per group, OLS of ln(freq) on ln(rank)
   * over the top-k terms of a (group, term, freq) table. Natural text
   * slopes ≈ −1; a flat or broken slope flags synthetic or garbled
   * feeds. Ranks are deterministic (freq desc, term asc); both lns
   * are 6-dp-rounded ONCE, then the DECIMAL-exact moment program.
   *
   * Determinism contract (two lessons this operator exists to encode):
   *  - inputs quantize to DECIMAL(15,6), NOT the house (28,6): a
   *    (28,6)×(28,6) product needs precision 56, which DuckDB
   *    silently routes through DOUBLE (measured 5e-6 moment drift)
   *    while Spark multiplies exactly; (15,6)×(15,6) → (31,12) stays
   *    an exact decimal in both engines.
   *  - the final slope/r2 round via the PORTABLE program
   *    floor(x·10⁶ + 0.5)/10⁶ — every op IEEE-identical anywhere —
   *    because Spark's string-based HALF_UP and a C engine's scaled
   *    rounding legitimately disagree within an ulp of a .5e-6
   *    boundary, and OLS over clustered ln values is a boundary
   *    magnet (hit twice on one corpus at different SFs).
   *
   * Output: `by`* + (n, slope, r2); zero-variance groups emit NULLs.
   * Scale shape: the fit runs over `by` × k rows — the corpus-sized
   * work is whatever produced the frequency table.
   */
  def zipfFit(freqs: DataFrame, by: Seq[String], termCol: String,
              freqCol: String, k: Int = 200): DataFrame = {
    require(k >= 2, "zipfFit: need k >= 2")
    // Rank ties break on xxhash64(term), NOT the term itself: the fit
    // only consumes (rank, freq) pairs and tied frequencies contribute
    // the SAME pair multiset under any tie order (including across the
    // k cutoff), so the output is tie-order-invariant — and the rank
    // exchange then carries an 8-byte hash instead of the term string
    // (the wide-payload audit's point). An oracle may use any
    // deterministic tie-break of its own.
    val thin = freqs.select((by.map(col) :+ col(freqCol) :+
      xxhash64(col(termCol)).as("__tb")): _*)
    val ranked = Relational.topKPerGroup(thin, by,
        Seq(col(freqCol).desc, col("__tb").asc), k, rankCol = Some("__r"))
      .select((by.map(col) :+
        round(log(col("__r").cast("double")), 6).as("__lnr") :+
        round(log(col(freqCol).cast("double")), 6).as("__lnf")): _*)
    def qz(c: String) = round(col(c).cast("double"), 6).cast("decimal(15,6)")
    val m = ranked.groupBy(by.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sum(qz("__lnr")).cast("double").as("__sx"),
        sum(qz("__lnf")).cast("double").as("__sy"),
        sum((qz("__lnr") * qz("__lnr")).cast("decimal(38,12)")).cast("double").as("__sxx"),
        sum((qz("__lnf") * qz("__lnf")).cast("decimal(38,12)")).cast("double").as("__syy"),
        sum((qz("__lnr") * qz("__lnf")).cast("decimal(38,12)")).cast("double").as("__sxy"))
    val nd = col("n").cast("double")
    val cov = nd * col("__sxy") - col("__sx") * col("__sy")
    val vx = nd * col("__sxx") - col("__sx") * col("__sx")
    val vy = nd * col("__syy") - col("__sy") * col("__sy")
    def pr6(c: Column): Column =
      floor(c * lit(1000000.0) + lit(0.5)).cast("long").cast("double") /
        lit(1000000.0)
    m.select((by.map(col) :+ col("n") :+
      when(vx > 0d, pr6(cov / vx)).otherwise(lit(null).cast("double"))
        .as("slope") :+
      when(vx > 0d && vy > 0d, pr6(cov * cov / (vx * vy)))
        .otherwise(lit(null).cast("double")).as("r2")): _*)
  }

  /**
   * Sparse TF-IDF cosine pairs — the inverted-index similarity join
   * the dense-embedding family can't replace: exact lexical cosine
   * over tf·idf weights, with candidate pairs generated ONLY through
   * shared rare terms (document frequency ≤ max(2, N·`maxDfPpm`/10⁶) — a RELATIVE cap: an absolute one silently empties as the corpus grows). The df cap is
   * the classic IR prune doing double duty: it drops stop-terms from
   * the geometry AND bounds the join fan-out to Σ df² over rare terms
   * — scale-safe by construction where an all-pairs cosine is not.
   * Cosine is computed in the pruned term space on BOTH sides (norms
   * too), so the score is exactly the model it claims.
   *
   * Exactness: tf counts are BIGINT, idf portable-floors to integer
   * micro-nats ONCE per term, weights w = tf·idf_µ stay BIGINT, and
   * dots/norms accumulate as DECIMAL(38,0) products of (19,0) casts
   * (never a long×long overflow, never a double route). The cosine
   * is ONE fixed-order double program rounded 6; top-k orders by
   * (cosine desc, id_a, id_b). Output: (id_a, id_b, cosine), k rows.
   *
   * Scale shape: one tokenize pass → (doc, term) tf aggregation;
   * vocab-bounded df; the pair join runs term-keyed over the PRUNED
   * postings (each term fans out df ≤ maxDf rows); norms join back
   * doc-keyed. No corpus×corpus anything.
   */
  def sparseCosinePairs(docs: DataFrame, idCol: String, textCol: String,
                        maxDfPpm: Long = 60000L, k: Int = 20): DataFrame = {
    require(maxDfPpm >= 1 && maxDfPpm <= 1000000L,
      "sparseCosinePairs: maxDfPpm must be in [1, 1e6]")
    require(k >= 1, "sparseCosinePairs: k must be >= 1")
    val toks = docs.where(col(textCol).isNotNull)
      .select(col(idCol).as("__id"),
        explode(filter(split(lower(trim(col(textCol))), " "),
          t => t =!= "")).as("tok"))
    val tf = toks.groupBy("__id", "tok").agg(count(lit(1)).as("__tf"))
    val nd = docs.where(col(textCol).isNotNull)
      .agg(count(lit(1)).as("__nd"))
    // Relative cap: df <= max(2, floor(N·ppm/1e6)) — an absolute cap
    // silently empties as the corpus grows (every term's df scales
    // with N); the ppm cap keeps the SAME tail of the df distribution
    // at every scale. Pure integer arithmetic, plan-side (no collect).
    val dfreq = tf.groupBy("tok").agg(count(lit(1)).as("__df"))
      .crossJoin(broadcast(nd))
      .where(col("__df") <=
        greatest(lit(2L), (col("__nd") * maxDfPpm) / lit(1000000L)))
      .select(col("tok"), col("__df"))
    val w = Share.once(tf.join(dfreq, "tok").crossJoin(broadcast(nd))
      .select(col("tok"), col("__id"),
        (col("__tf") * floor(log(col("__nd").cast("double") /
          col("__df").cast("double")) * 1e6d + 0.5d).cast("long"))
          .as("__w")), "sparseCosinePairs.w")
    def p(a: Column, b: Column): Column =
      (a.cast("decimal(19,0)") * b.cast("decimal(19,0)"))
        .cast("decimal(38,0)")
    val norms = w.groupBy("__id")
      .agg(sum(p(col("__w"), col("__w"))).as("__nrm"))
    val l = w.select(col("tok"), col("__id").as("__ia"),
      col("__w").as("__wa"))
    val r = w.select(col("tok"), col("__id").as("__ib"),
      col("__w").as("__wb"))
    val dots = l.join(r, "tok").where(col("__ia") < col("__ib"))
      .groupBy("__ia", "__ib")
      .agg(sum(p(col("__wa"), col("__wb"))).as("__dot"))
    dots
      .join(norms.select(col("__id").as("__ia"), col("__nrm").as("__na")),
        "__ia")
      .join(norms.select(col("__id").as("__ib"), col("__nrm").as("__nb")),
        "__ib")
      .select(col("__ia").as("id_a"), col("__ib").as("id_b"),
        round(col("__dot").cast("double") /
          (sqrt(col("__na").cast("double")) *
            sqrt(col("__nb").cast("double"))), 6).as("cosine"))
      .orderBy(col("cosine").desc, col("id_a").asc, col("id_b").asc)
      .limit(k)
  }

  /**
   * Hill tail-index estimator per group — the heavy-tail diagnostic
   * beside [[zipfFit]]'s rank-frequency slope: over the k largest
   * values, α̂ = k / Σᵢ(ln x₍ᵢ₎ − ln x₍ₖ₊₁₎). α̂ ≤ ~2 means the
   * length distribution has effectively unbounded variance — the
   * batch-assembly and shuffle-sizing warning a mean/p99 pair hides.
   *
   * Exactness: the top-(k+1) order statistics select by exact
   * (value desc, then a deterministic tie order that the SUM renders
   * irrelevant — any k duplicates of a value contribute the same ln
   * multiset); each ln portable-floors to integer micro-nats ONCE,
   * the excess sum is pure BIGINT, and α̂ is one portable-rounded
   * division. Groups with fewer than k+1 positive values emit NULL.
   * Output: `by`* + (n, alpha).
   *
   * Scale shape: one TakeOrdered-shaped per-group top-(k+1) window
   * over the value histogram... rows with rank > k+1 drop at the
   * scan-side filter; everything after is k-bounded per group.
   */
  def hillTailIndex(df: DataFrame, by: Seq[String], valueCol: String,
                    k: Int = 50): DataFrame = {
    require(k >= 2, "hillTailIndex: k must be >= 2")
    // ties order arbitrarily under row_number — duplicates of a value
    // are interchangeable, so the top-k ln MULTISET (and the k+1-th
    // value) is deterministic regardless of which duplicate ranks where
    val w = Window.partitionBy(by.map(col): _*).orderBy(col("__v").desc)
    val base = df.where(col(valueCol).isNotNull && col(valueCol) > 0L)
      .select((by.map(col) :+ col(valueCol).cast("long").as("__v")): _*)
      .withColumn("__rk", row_number().over(w))
      .where(col("__rk") <= k + 1)
      .withColumn("__ln",
        floor(log(col("__v").cast("double")) * 1e6d + 0.5d).cast("long"))
    val kth = base.where(col("__rk") === k + 1)
      .select((by.map(col) :+ col("__ln").as("__lnk")): _*)
    val n = df.where(col(valueCol).isNotNull && col(valueCol) > 0L)
      .groupBy(by.map(col): _*).agg(count(lit(1)).as("n"))
    val s = base.where(col("__rk") <= k).join(kth, by)
      .groupBy(by.map(col): _*)
      .agg(sum(col("__ln") - col("__lnk")).as("__excess"))
    n.join(s, by, "left")
      .select((by.map(col) :+ col("n") :+
        when(col("__excess").isNotNull && col("__excess") > 0L,
          floor(lit(k.toDouble) /
            (col("__excess").cast("double") / 1e6d) * 1e6d + 0.5d) / 1e6d)
          .otherwise(lit(null).cast("double")).as("alpha")): _*)
  }

  /**
   * Flesch reading-ease per document — the classic sentence-length ×
   * syllable-density readability score the length/punct heuristics
   * ([[qualitySignals]]) don't capture: 206.835 − 1.015·(W/S) −
   * 84.6·(Syl/W). Words are the house whitespace tokens; sentences
   * count [.!?]+ runs (min 1); syllables approximate as [aeiouy]+
   * vowel groups per word (min 1 per word — non-Latin words degrade
   * to the floor, scoring them "dense", which is the honest failure
   * mode for a Latin-alphabet formula). W, S, Syl are pure integers;
   * the score is ONE fixed-order double program rounded via the
   * portable floor(x·10⁶+0.5)/10⁶ (small-denominator rationals ARE
   * .5e-6 boundary magnets). Empty docs drop. Output: `out`* +
   * (n_words, n_sents, n_syll, flesch).
   *
   * Scale shape: entirely scan-local codegen'd string work — no
   * shuffle, no join; the caller's roll-up is the only exchange.
   */
  def readability(docs: DataFrame, textCol: String,
                  out: Seq[String]): DataFrame = {
    val w = filter(split(lower(trim(col(textCol))), " "), t => t =!= "")
    val nw = size(w).cast("long")
    val ns = greatest(
      size(regexp_extract_all(col(textCol), lit("[.!?]+"), lit(0)))
        .cast("long"), lit(1L))
    val syl = aggregate(w, lit(0L), (acc, t) => acc +
      greatest(size(regexp_extract_all(t, lit("[aeiouy]+"), lit(0)))
        .cast("long"), lit(1L)))
    val score = lit(206.835d) -
      lit(1.015d) * (col("n_words").cast("double") /
        col("n_sents").cast("double")) -
      lit(84.6d) * (col("n_syll").cast("double") /
        col("n_words").cast("double"))
    docs.where(col(textCol).isNotNull)
      .select((out.map(col) :+ nw.as("n_words") :+ ns.as("n_sents") :+
        syl.as("n_syll")): _*)
      .where(col("n_words") > 0L)
      .withColumn("flesch",
        floor(score * 1e6d + 0.5d) / 1e6d)
  }

  /**
   * Group-discriminative tokens by log-odds with an add-one Dirichlet
   * prior (Monroe et al. 2008, "Fightin' Words" — implemented from
   * the published z-scored log-odds-ratio): for each group, which
   * tokens are OVER-represented vs the rest of the corpus, scaled by
   * sampling variance so rare flukes don't outrank solid signals —
   * the corpus-comparison readout behind contamination triage ("what
   * vocabulary makes this source different?") and lang-ID feature
   * audits. Raw frequency ratios overweight rare tokens; the variance
   * term 1/(y_g+1) + 1/(y_rest+1) is what fixes that.
   *
   * δ = ln((y_g+1)/(n_g + V − y_g − 1)) − ln((y_r+1)/(n_r + V − y_r − 1)),
   * z = δ / √(1/(y_g+1) + 1/(y_r+1)), top-k per group by
   * (z desc, token asc).
   *
   * Determinism: counts are exact BIGINT; each ln takes ONE double
   * division of exact integers and portable-floors to integer
   * micro-nats (the house lnMicro), so δ is a BIGINT difference; z is
   * one fixed-order double program rounded 6 dp; the rank window runs
   * over the (z, token) pair so ties are total.
   *
   * Output: `group`, `token`, `y_in`, `y_rest`, `zscore` (top-k rows
   * per group).
   *
   * Scale shape: token counting is one map-side-combined aggregation;
   * everything after is vocab-bounded (the per-group rank window runs
   * over ≤ vocab rows per group, never the corpus).
   */
  def logOddsWords(docs: DataFrame, textCol: String, groupCol: String,
                   k: Int = 10): DataFrame = {
    require(k >= 1, "k must be >= 1")
    def lnMicro(x: Column): Column =
      floor(log(x) * 1e6d + 0.5d).cast("long")
    val g = col(groupCol)
    val tt = docs.select(g.as("__g"),
        explode(filter(split(lower(trim(col(textCol))), " "),
          t => t =!= "")).as("__t"))
    val c = tt.groupBy("__g", "__t").agg(count(lit(1)).as("__c"))
    val ng = c.groupBy("__g").agg(sum(col("__c")).as("__ng"))
    val yw = c.groupBy("__t").agg(sum(col("__c")).as("__y"))
    val gl = c.agg(sum(col("__c")).as("__nn"),
      countDistinct(col("__t")).as("__v"))
    val z = c.join(ng, "__g").join(yw, "__t").crossJoin(broadcast(gl))
      .withColumn("__yr", col("__y") - col("__c"))
      .withColumn("__nr", col("__nn") - col("__ng"))
      .where(col("__ng") + col("__v") - col("__c") - 1 > 0 &&
        col("__nr") + col("__v") - col("__yr") - 1 > 0)
      .withColumn("__d",
        lnMicro((col("__c") + 1).cast("double") /
          (col("__ng") + col("__v") - col("__c") - 1).cast("double")) -
        lnMicro((col("__yr") + 1).cast("double") /
          (col("__nr") + col("__v") - col("__yr") - 1).cast("double")))
      .withColumn("zscore",
        round(col("__d").cast("double") / 1e6d /
          sqrt(lit(1.0d) / (col("__c") + 1) +
            lit(1.0d) / (col("__yr") + 1)), 6))
    val w = Window.partitionBy("__g")
      .orderBy(col("zscore").desc, col("__t").asc)
    z.withColumn("__rk", row_number().over(w))
      .where(col("__rk") <= k)
      .select(col("__g").as(groupCol), col("__t").as("token"),
        col("__c").as("y_in"), col("__yr").as("y_rest"), col("zscore"))
  }

  /**
   * Overlapping passage chunking — the RAG/retrieval prep step: split
   * each document into `window`-token passages advancing by `stride`
   * tokens (overlap = window − stride keeps sentences that straddle a
   * boundary retrievable from at least one side). Chunk k covers
   * tokens [k·stride, k·stride + window); the chunk count is
   * 1 + ⌈(n − window)/stride⌉ (pure integer ceil), which covers every
   * token and never emits a degenerate tail that is a strict suffix
   * of the previous chunk — the failure mode of the naive
   * while-start<n loop.
   *
   * Output: (`doc_id`, `chunk_id`, `start_tok`, `n_toks`,
   * `chunk_text`) — one row per passage, deterministic ids so
   * re-chunking a grown corpus is incremental.
   *
   * Scale shape: entirely scan-local (tokenize, slice, join — no
   * shuffle at all until the caller aggregates); output size is
   * input·(window/stride) by construction.
   */
  def passageChunks(docs: DataFrame, idCol: String, textCol: String,
                    window: Int, stride: Int): DataFrame = {
    require(window >= 1 && stride >= 1 && window >= stride,
      "need window >= stride >= 1")
    val toks = filter(split(lower(trim(col(textCol))), " "), t => t =!= "")
    val base = docs.select(col(idCol).as("doc_id"), toks.as("__ws"))
      .withColumn("__n", size(col("__ws")))
      .where(col("__n") > 0)
    val nChunks = when(col("__n") > window,
      expr(s"(__n - $window + ${stride - 1}) div $stride")).otherwise(0L)
    base
      .withColumn("chunk_id",
        explode(sequence(lit(0L), nChunks.cast("long"))))
      .select(col("doc_id"), col("chunk_id"),
        (col("chunk_id") * stride).as("start_tok"),
        slice(col("__ws"), (col("chunk_id") * stride + 1).cast("int"),
          lit(window)).as("__c"))
      .select(col("doc_id"), col("chunk_id"), col("start_tok"),
        size(col("__c")).cast("long").as("n_toks"),
        array_join(col("__c"), " ").as("chunk_text"))
  }

  /**
   * Lognormal fit of a positive size column per group — the standard
   * model for document/sequence length distributions, and the
   * capacity-planning readout (batch assembly, shuffle sizing,
   * truncation budgets) a mean/p99 pair can't extrapolate from:
   * μ̂, σ̂ are the MLE moments of ln v, and the fit is judged by
   * comparing the model's predicted median e^μ and p90 e^(μ+z₀.₉σ)
   * against the EXACT empirical p90.
   *
   * Determinism: each ln v is portable-floored to integer micro-nats
   * ONCE (the q204 convention — 6-dp rounding absorbs libm last-ulp
   * drift); moment sums are BIGINT/DECIMAL(38,0); μ is one portable
   * division, σ one fixed-order sqrt program over exact operands; the
   * e^x predictions take the ALREADY-QUANTIZED μ/σ as input and round
   * to 4 dp, so both engines exponentiate identical operands.
   * z₀.₉ = 1.281552 (the 6-dp quantized normal quantile).
   *
   * Output per group: `n`, `mu` (nats, 6 dp), `sigma` (6 dp),
   * `median_pred`, `p90_pred`, `p90_actual` (4 dp).
   *
   * Scale shape: one map-side-combined moment aggregation (three
   * counters per group) + the shared exact-quantile program for the
   * empirical p90. Non-positive values drop (ln undefined).
   */
  def lognormalFit(df: DataFrame, by: Seq[String],
                   valueCol: String): DataFrame = {
    require(by.nonEmpty, "lognormalFit: need at least one group column")
    val pos = df.where(col(valueCol).isNotNull && col(valueCol) > 0L)
      .withColumn("__ln",
        floor(log(col(valueCol).cast("double")) * 1e6d + 0.5d).cast("long"))
    val m = pos.groupBy(by.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sum(col("__ln")).as("__s"),
        sum(col("__ln").cast("decimal(38,0)") * col("__ln"))
          .cast("decimal(38,0)").as("__s2"))
    val q = Relational.exactQuantiles(pos, by, valueCol,
      Seq("__p90a" -> 0.9))
    val mu = floor(col("__s").cast("double") / col("n") + 0.5d)
      .cast("long") / 1e6d
    val sigma = round(
      sqrt((col("n").cast("decimal(38,0)") * col("__s2") -
        col("__s").cast("decimal(38,0)") * col("__s")).cast("double")) /
        col("n") / 1e6d, 6)
    m.join(q, by)
      .withColumn("mu", mu).withColumn("sigma", sigma)
      .select((by.map(col) :+ col("n") :+ col("mu") :+ col("sigma") :+
        round(exp(col("mu")), 4).as("median_pred") :+
        round(exp(col("mu") + lit(1.281552d) * col("sigma")), 4)
          .as("p90_pred") :+
        round(col("__p90a"), 4).as("p90_actual")): _*)
  }

  /**
   * Lexical diversity per group — the vocabulary-richness panel a
   * corpus mix is tuned against: type–token ratio (ppm), Shannon
   * entropy of the token distribution (nats — the effective-vocabulary
   * readout e^H), and Simpson repeat probability (the chance two
   * random tokens coincide — high = templated/boilerplate-heavy
   * feed). Complements [[corpusFreqStats]] (which scores DOCS against
   * the corpus); this scores the GROUPS themselves.
   *
   * Exactness: token counts are exact BIGINTs; Σ c·ln c uses the
   * house micro-nat ln (ONE double division… none — ln of an exact
   * integer, portable-floored) weighted by exact DECIMAL products;
   * H = (N·lnµN − Σ c·lnµc) / N and Simpson = Σc(c−1) / (N(N−1)) are
   * each ONE fixed-order double division rounded 6 dp; TTR is integer
   * ppm.
   *
   * Output per group: `n_tokens`, `vocab`, `ttr_ppm`, `shannon_nats`,
   * `simpson`.
   *
   * Scale shape: one (group, token) count (map-side combined,
   * vocab-bounded exchange), one group fold. Text never shuffles.
   */
  def lexicalDiversity(docs: DataFrame, by: Seq[String],
                       textCol: String): DataFrame = {
    require(by.nonEmpty, "lexicalDiversity: need at least one group column")
    def lnMicro(x: Column): Column =
      floor(log(x) * 1e6d + 0.5d).cast("long")
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val toks = docs.select((by.map(col) :+
      explode(filter(split(lower(trim(col(textCol))), " "),
        t => t =!= "")).as("__t")): _*)
    val counts = toks.groupBy((by.map(col) :+ col("__t")): _*)
      .agg(count(lit(1)).as("__c"))
    counts.groupBy(by.map(col): _*)
      .agg(sum(col("__c")).as("n_tokens"), count(lit(1)).as("vocab"),
        sum(dec(col("__c")) * lnMicro(col("__c").cast("double")))
          .cast("decimal(38,0)").as("__cln"),
        sum(dec(col("__c")) * (col("__c") - 1L)).cast("decimal(38,0)")
          .as("__rep"))
      .select((by.map(col) :+ col("n_tokens") :+ col("vocab") :+
        expr("vocab * 1000000 div n_tokens").as("ttr_ppm") :+
        round((dec(col("n_tokens")) *
          lnMicro(col("n_tokens").cast("double")) - col("__cln"))
          .cast("double") / col("n_tokens").cast("double") / 1e6d, 6)
          .as("shannon_nats") :+
        when(col("n_tokens") > 1L,
          round(col("__rep").cast("double") /
            (dec(col("n_tokens")) * (col("n_tokens") - 1L))
              .cast("double"), 6)).as("simpson")): _*)
  }

  /**
   * BM25 top-k retrieval (Robertson–Spärck Jones; the Okapi BM25
   * ranking function, implemented from the published formula with
   * k₁ = 6/5, b = 3/4) — the lexical-retrieval companion to
   * [[passageChunks]] and the sparse baseline every embedding
   * retriever is graded against: for each query (a set of terms),
   * the k highest-scoring documents.
   *
   * Exactness — every ranking decision is integer/decimal:
   *  - idf(t) = ln((N − df + ½)/(df + ½) + 1) = ln((2N+2)/(2df+1)):
   *    ONE double division of exact BIGINTs, portable-floored to
   *    micro-nats (the house lnMicro).
   *  - The tf saturation term tf·(k₁+1)/(tf + k₁(1−b+b·dl/avgdl))
   *    with avgdl = A/N (A = Σdl, exact) scales by 20A into the exact
   *    rational 44·A·tf / (20·A·tf + 6·A + 18·N·dl): DECIMAL(38,0)
   *    operands, ONE double division, floored to micro-units.
   *  - Per-(query, doc) score = Σ idf_µ·tf_µ summed in DECIMAL(38,0);
   *    ranking orders by that EXACT micro-sum (desc, doc id asc), so
   *    ties are total; the reported score is the sum / 10¹² at 6 dp.
   *
   * Output: (`query_id`, `rank` 1..k, doc id, `n_terms_hit`, `score`).
   *
   * Scale shape: the corpus-sized stages are the tokenize scan and
   * one (doc, term) count; the query-term table, its df counts, and
   * the 1-row (N, A) aggregate are BROADCAST, so scoring is a
   * map-side join of the tf table — no corpus-sized shuffle carries
   * text, and top-k per query is a TakeOrdered-shaped window over
   * queries × matched docs.
   */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
               queryTerms: DataFrame, queryIdCol: String, termCol: String,
               k: Int): DataFrame = {
    require(k >= 1, "bm25TopK: k must be >= 1")
    def lnMicro(x: Column): Column =
      floor(log(x) * 1e6d + 0.5d).cast("long")
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val toks = docs.select(col(idCol).as("__id"),
      explode(filter(split(lower(trim(col(textCol))), " "),
        t => t =!= "")).as("__t"))
    val tf = toks.groupBy("__id", "__t").agg(count(lit(1)).as("__tf"))
    val dl = tf.groupBy("__id").agg(sum(col("__tf")).as("__dl"))
    val glob = dl.agg(count(lit(1)).as("__nd"), sum(col("__dl")).as("__a"))
    val qt = queryTerms.select(col(queryIdCol).as("__qid"),
      lower(trim(col(termCol))).as("__t")).distinct()
    // df over the corpus, for query terms only (tf rows are unique
    // per (doc, term), so a count is a distinct-doc count)
    val qdf = tf.join(broadcast(qt.select("__t").distinct()),
        Seq("__t"), "left_semi")
      .groupBy("__t").agg(count(lit(1)).as("__df"))
    val terms = tf.join(broadcast(qt), Seq("__t"))
      .join(broadcast(qdf), Seq("__t"))
      .join(dl, Seq("__id"))
      .crossJoin(broadcast(glob))
      .withColumn("__idf", lnMicro(
        (lit(2L) * col("__nd") + 2L).cast("double") /
          (lit(2L) * col("__df") + 1L).cast("double")))
      .withColumn("__tfc", floor(
        (dec(col("__tf")) * dec(col("__a")) * 44L).cast("double") /
          (dec(col("__tf")) * dec(col("__a")) * 20L +
            dec(col("__a")) * 6L +
            dec(col("__dl")) * dec(col("__nd")) * 18L).cast("double") *
          1e6d + 0.5d).cast("long"))
      .withColumn("__sm", (dec(col("__idf")) * dec(col("__tfc")))
        .cast("decimal(38,0)"))
    val perDoc = terms.groupBy("__qid", "__id")
      .agg(count(lit(1)).as("n_terms_hit"),
        sum(col("__sm")).cast("decimal(38,0)").as("__score"))
    Relational.topKPerGroup(perDoc, Seq("__qid"),
        Seq(col("__score").desc, col("__id").asc), k,
        rankCol = Some("rank"))
      .select(col("__qid").as("query_id"),
        col("rank").cast("long").as("rank"), col("__id").as(idCol),
        col("n_terms_hit"),
        round(col("__score").cast("double") / 1e12d, 6).as("score"))
  }
}
