package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Share

/**
 * Document deduplication operators (SURVEY.md §7 step 7, the LLM-pipeline
 * north star): exact dedup on a hashed key and MinHash/LSH near-duplicate
 * detection. Pure Catalyst column programs — no UDFs, fully codegen'd.
 *
 * 100 TB posture:
 *  - exact dedup shuffles a 128-bit hash pair, never the document body;
 *  - near-dup candidate generation shuffles (band_id, band_signature)
 *    keys — bytes per document ≈ bands × 16, independent of text size;
 *    only candidate pairs (a vanishing fraction of all pairs) ever see
 *    the shingle arrays again, via an equi-join on doc_id.
 */
object Dedup {

  /** Normalized text key used by exact dedup: `lower(trim(text))`. */
  def normText(text: Column): Column = lower(trim(text))

  /** 128-bit shuffle key for exact dedup: two independently-seeded
    * xxhash64 images of the normalized text. Collision probability for
    * n documents is ≈ n²/2^129 — at n = 10¹² (far beyond 100 TB of
    * documents) that is < 10⁻¹⁴, while the shuffle carries 16 bytes per
    * row instead of the full corpus body (the naive groupBy-on-text
    * shape shuffles the whole corpus twice). */
  def textHashKey(text: Column): Seq[Column] = {
    val n = normText(text)
    Seq(xxhash64(n), xxhash64(lit(0x9e3779b9L), n))
  }

  /**
   * Exact dedup survivors: per distinct normalized text, the row with the
   * minimum `idCol` survives. Returns a 1-column DataFrame of surviving
   * ids. One hash shuffle on the 128-bit key.
   */
  def exactSurvivors(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .groupBy(textHashKey(col(textCol)): _*)
      .agg(min(col(idCol)).as(idCol))
      .select(idCol)

  /** Fingerprint table of a corpus: one row per distinct 128-bit
    * normalized-text key (`fp_h1`, `fp_h2`) — the 16 B/doc artifact an
    * incremental pipeline persists BETWEEN refreshes instead of
    * re-reading history text. */
  def fingerprints(docs: DataFrame, textCol: String): DataFrame = {
    val Seq(h1, h2) = textHashKey(col(textCol))
    docs.select(h1.as("fp_h1"), h2.as("fp_h2")).distinct()
  }

  /**
   * Corpus snapshot diff — the crawl-refresh report run before any
   * re-train decision: given the previous and current snapshot of a
   * feed, classify every document id as `added` (new only), `removed`
   * (old only), `changed` (both, content differs) or `unchanged`.
   * Content compare goes through the 128-bit normalized-text key
   * ([[textHashKey]]), so the full-outer id join carries (id, keep,
   * 16 B fingerprint) rows — document text never crosses the wire, on
   * either side, at any history size. `keep` columns come from
   * whichever side has the row (new wins for changed docs).
   *
   * Output: (idCol, keep..., `status` string).
   */
  def corpusDiff(oldDocs: DataFrame, newDocs: DataFrame, idCol: String,
                 textCol: String, keep: Seq[String] = Nil): DataFrame = {
    def side(df: DataFrame, tag: String): DataFrame = {
      val Seq(h1, h2) = textHashKey(col(textCol))
      df.select((col(idCol).as(s"__id_$tag") +:
        keep.map(k => col(k).as(s"__${k}_$tag"))) :+
        h1.as(s"__h1_$tag") :+ h2.as(s"__h2_$tag"): _*)
    }
    val o = side(oldDocs, "o")
    val n = side(newDocs, "n")
    val joined = o.join(n, o("__id_o") === n("__id_n"), "full_outer")
    val status = when(col("__id_o").isNull, "added")
      .when(col("__id_n").isNull, "removed")
      .when(col("__h1_o") === col("__h1_n") &&
        col("__h2_o") === col("__h2_n"), "unchanged")
      .otherwise("changed")
    joined.select((coalesce(col("__id_n"), col("__id_o")).as(idCol) +:
      keep.map(k =>
        coalesce(col(s"__${k}_n"), col(s"__${k}_o")).as(k))) :+
      status.as("status"): _*)
  }

  /**
   * Incremental (cross-corpus) exact dedup — the daily-refresh shape:
   * a new batch's row survives only where (a) it is the batch-canonical
   * row for its text (minimum id, exactly [[exactSurvivors]]' rule) and
   * (b) the text does not already exist in the historical corpus,
   * consulted ONLY through its fingerprint table ([[fingerprints]]).
   * Returns the surviving ids.
   *
   * Scale shape: at 100 TB of history the fingerprint table is ~1 TB of
   * 16 B keys — far too big to broadcast, but the anti join is a plain
   * equi join on (fp_h1, fp_h2), bucketable/co-partitionable on the
   * same key the batch aggregation already shuffled on, so the join
   * adds no new exchange of the batch side and never touches history
   * text. Batch text likewise never shuffles: the batch side reduces
   * to (key, min id) before joining.
   */
  def survivorsAgainstHistory(newDocs: DataFrame, idCol: String,
                              textCol: String,
                              historyFps: DataFrame): DataFrame = {
    val Seq(h1, h2) = textHashKey(col(textCol))
    newDocs
      .groupBy(h1.as("fp_h1"), h2.as("fp_h2"))
      .agg(min(col(idCol)).as(idCol))
      .join(historyFps, Seq("fp_h1", "fp_h2"), "left_anti")
      .select(idCol)
  }

  /**
   * Sub-document (chunk-level) dedup — the C4/RefinedWeb step that
   * exact doc dedup misses: boilerplate repeated ACROSS different
   * documents. The corpus is cut into non-overlapping
   * `chunkWords`-word blocks; a block's text survives only in the
   * minimum-id document containing it (first-occurrence policy,
   * deterministic), every other occurrence is deleted, and each
   * document is rebuilt from its surviving blocks in original order.
   *
   * Returns the input columns plus `clean_text` (the rebuilt text),
   * `n_chunks` and `n_chunks_removed`.
   *
   * Scale shape: the chunk stream that shuffles is (id, idx,
   * 128-bit hash) — 28 B/row, never chunk text (the naive
   * groupBy-on-chunk shape shuffles the whole corpus). The keeper
   * resolution is one hash-key aggregation + one thin equi-join; the
   * verdicts collapse back to one row per doc (a surviving-index
   * array) before the single id-join that rebuilds text — the same
   * final-join shape as `exactSurvivors`/q25. Rebuild re-derives
   * block text from the doc's own words, so chunk strings never
   * materialize outside the scan projection.
   */
  /** The i-th non-overlapping `cw`-word block of token array `w`, as a
    * single space-joined string (the chunk-dedup unit). */
  private[graft] def chunkAt(w: Column, i: Column, cw: Int): Column =
    array_join(slice(w, (i * cw + 1).cast("int"), lit(cw)), " ")

  /** 128-bit chunk hash pair — the exact-dedup key shape applied to one
    * chunk. Shared verbatim by the batch operator and the streaming
    * twin so their banding decisions match bit-for-bit. */
  private[graft] def chunkHashStruct(w: Column, i: Column, cw: Int): Column = {
    val c = chunkAt(w, i, cw)
    struct(xxhash64(c).as("h1"), xxhash64(lit(0x9e3779b9L), c).as("h2"))
  }

  def chunkDedup(docs: DataFrame, idCol: String, textCol: String,
                 chunkWords: Int): DataFrame = {
    require(chunkWords >= 1, "chunkWords must be >= 1")
    val cw = chunkWords
    // ceil(|words| / cw) blocks; the tail block may be short. The
    // split materializes before the chunk lambda reads it (the
    // wordShinglesOf perf contract).
    val nChunks = ceil(size(col("__ws")).cast("double") / cw).cast("long")
    // both the keeper aggregate and the verdict join read the chunk
    // stream: materialize the 28 B/occurrence rows once instead of
    // re-running the tokenize + hash explode per consumer (r16)
    val hashes = Share.once(docs
      .select(col(idCol), split(normText(col(textCol)), " ").as("__ws"))
      .select(
        col(idCol),
        posexplode(transform(sequence(lit(0L), nChunks - 1),
          i => chunkHashStruct(col("__ws"), i, cw))).as(Seq("__idx", "__h"))),
      "chunkDedup.hashes")
    val keepers = hashes
      .groupBy(col("__h.h1"), col("__h.h2"))
      .agg(min(col(idCol)).as("__keeper"))
    val verdicts = hashes
      .join(keepers, hashes("__h.h1") === keepers("h1") &&
        hashes("__h.h2") === keepers("h2"))
      .select(col(idCol), col("__idx"),
        (col(idCol) === col("__keeper")).as("__keep"))
    rebuildFromChunkVerdicts(docs, idCol, textCol, cw,
      verdicts.select(col(idCol), col("__idx").as("chunk_idx"),
        col("__keep").as("kept")))
  }

  /**
   * Rebuild documents from per-chunk-occurrence verdicts — the shared
   * final stage of [[chunkDedup]] and the streaming twin
   * (`StreamingOps.chunkVerdictStream`): `verdicts` carries one row per
   * chunk occurrence (`idCol`, `chunk_idx`, `kept`); each document is
   * rebuilt from its kept blocks in original order, re-deriving block
   * text from the doc's own words (chunk strings never materialize
   * outside the scan projection). Output matches [[chunkDedup]]'s
   * contract: input columns + `clean_text`, `n_chunks`,
   * `n_chunks_removed`.
   */
  def rebuildFromChunkVerdicts(docs: DataFrame, idCol: String,
                               textCol: String, chunkWords: Int,
                               verdicts: DataFrame): DataFrame = {
    val cw = chunkWords
    val perDoc = verdicts.groupBy(idCol).agg(
      sort_array(collect_list(when(col("kept"), col("chunk_idx")))).as("__kept"),
      count(lit(1)).as("n_chunks"),
      sum(when(col("kept"), 0L).otherwise(1L)).as("n_chunks_removed"))
    docs.join(perDoc, idCol)
      // split materialized before the chunk lambda reads it (the
      // wordShinglesOf perf contract)
      .withColumn("__wsr", split(normText(col(textCol)), " "))
      .withColumn("clean_text",
        array_join(transform(col("__kept"), i => chunkAt(col("__wsr"), i, cw)), " "))
      .drop("__kept", "__wsr")
  }

  /** Chunk-fingerprint table of a corpus: one 16 B row per distinct
    * chunk hash — the persisted history artifact the incremental /
    * streaming chunk dedup consults instead of re-reading history text
    * (the chunk-level analogue of [[fingerprints]]). */
  def chunkFingerprints(docs: DataFrame, textCol: String,
                        chunkWords: Int): DataFrame = {
    require(chunkWords >= 1, "chunkWords must be >= 1")
    val cw = chunkWords
    // split materialized first (the wordShinglesOf perf contract)
    val nChunks = ceil(size(col("__ws")).cast("double") / cw).cast("long")
    docs.select(split(normText(col(textCol)), " ").as("__ws"))
      .select(explode(transform(sequence(lit(0L), nChunks - 1),
        i => chunkHashStruct(col("__ws"), i, cw))).as("__h"))
      .select(col("__h.h1").as("fp_h1"), col("__h.h2").as("fp_h2"))
      .distinct()
  }

  /**
   * [[chunkDedup]] over a bucketed staging of the corpus — the
   * 100 TB-safe rebuild. Plain `chunkDedup`'s final verdict join plans
   * BHJ at test scale but degrades to a sort-merge join at real scale,
   * shuffling `text` as non-key payload (the one plan family the r8
   * audit flagged). Staging the corpus as a catalog table bucketed on
   * `idCol` fixes the join's text side in place: a bucketed WRITE
   * inserts only a task-local sort (never an exchange), the bucketed
   * SCAN reports `HashPartitioning(idCol, buckets)`, so the rebuild
   * join moves ONLY the thin per-doc verdict rows (~28 B/doc) to the
   * text's partitioning — corpus text crosses the network zero times.
   * Pinned by ChunkDedupSpec (no text-side exchange, output identical
   * to plain chunkDedup) and PlanQualitySpec's no-broadcast audit.
   *
   * The staged table is also the layout every OTHER per-doc join in a
   * training pipeline wants (quality scores, dedup verdicts, split
   * labels all key on `idCol`): stage once, join many times
   * exchange-free.
   */
  def chunkDedupColocated(docs: DataFrame, idCol: String, textCol: String,
                          chunkWords: Int, stagingTable: String,
                          buckets: Int): DataFrame = {
    val spark = docs.sparkSession
    graft.core.Bucketing.writeBucketed(docs, stagingTable, Seq(idCol), buckets)
    chunkDedup(graft.core.Bucketing.readTable(spark, stagingTable),
      idCol, textCol, chunkWords)
  }

  /** The span of `sw` words of token array `w` starting at 0-based
    * position `i`, space-joined — the overlapping-window analogue of
    * [[chunkAt]] (which strides by the block width; this strides by 1). */
  private[graft] def spanAt(w: Column, i: Column, sw: Int): Column =
    array_join(slice(w, (i + 1).cast("int"), lit(sw)), " ")

  /**
   * Overlapping-window exact-substring dedup — the ExactSubstr step of
   * Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
   * Better"): any `windowWords`-word span that appears anywhere else in
   * the corpus (a different document, or an earlier position of the
   * SAME document) survives only at its lexicographically-first
   * occurrence (min `idCol`, then min start); every other occurrence
   * marks its `windowWords` covered word positions for deletion, and
   * each document is rebuilt from its surviving words in original
   * order. Non-overlapping [[chunkDedup]] misses duplicated passages
   * that straddle a block boundary or sit at a different offset; the
   * stride-1 window catches them at any alignment — the paper's reason
   * for preferring suffix-structure dedup over block hashing. Their
   * single-node suffix array becomes a distributed hash-keyed
   * aggregation here: identical span ⇒ identical 128-bit key.
   *
   * Documents shorter than `windowWords` have no windows and pass
   * through untouched. Returns the input columns plus `clean_text`,
   * `n_words` and `n_words_removed`.
   *
   * Scale shape: the exploded span stream shuffles (id, start, 128-bit
   * hash) ≈ 28 B/occurrence — never span text (span strings exist only
   * inside the scan projection). Duplicated spans are resolved by one
   * hash-key aggregation whose output is FILTERED to multiplicity > 1
   * before the occurrence join, so the join's build side is only the
   * duplicated fraction of the span table (broadcastable at typical
   * dup rates, plain equi-join co-partitioned with the aggregation
   * otherwise). Position coverage explodes ints only, collapses to one
   * row per AFFECTED doc, and the final rebuild join is the
   * exactSurvivors/q25 thin-side shape ([[substringDedupColocated]]
   * stages the corpus bucketed on `idCol` to keep the text side
   * exchange-free at real scale, exactly like [[chunkDedupColocated]]).
   */
  def substringDedup(docs: DataFrame, idCol: String, textCol: String,
                     windowWords: Int): DataFrame = {
    require(windowWords >= 2, "windowWords must be >= 2")
    val sw = windowWords
    val words = split(normText(col(textCol)), " ")
    val starts = when(size(words) >= sw, sequence(lit(0), size(words) - sw))
      .otherwise(array().cast("array<int>"))
    // the dup-keeper aggregate and the occurrence join both read the
    // span stream: materialize the 28 B/occurrence rows once instead
    // of re-running the stride-1 explode + span hashing twice (r16)
    val occ = Share.once(docs
      .select(col(idCol).as("__id"), words.as("__ws"),
        explode(starts).as("__start"))
      .select(col("__id"), col("__start"),
        xxhash64(spanAt(col("__ws"), col("__start"), sw)).as("__h1"),
        xxhash64(lit(0x9e3779b9L),
          spanAt(col("__ws"), col("__start"), sw)).as("__h2")),
      "substringDedup.occ")
    // Only spans seen more than once matter downstream: filtering the
    // aggregate here keeps the occurrence join's build side at the
    // duplicated fraction of the corpus, not all of it.
    val dupKeepers = occ
      .groupBy("__h1", "__h2")
      .agg(min(struct(col("__id"), col("__start"))).as("__k"),
        count(lit(1)).as("__n"))
      .filter(col("__n") > 1)
      .select(col("__h1"), col("__h2"), col("__k"))
    val verdicts = occ
      .join(dupKeepers, Seq("__h1", "__h2"))
      .filter(col("__id") =!= col("__k.__id") ||
        col("__start") =!= col("__k.__start"))
      .select(col("__id").as(idCol), col("__start").as("start"),
        lit(false).as("kept"))
    rebuildFromSpanVerdicts(docs, idCol, textCol, sw, verdicts)
  }

  /**
   * Rebuild documents from per-span-occurrence verdicts — the shared
   * final stage of [[substringDedup]] and the streaming twin
   * (`StreamingOps.spanVerdictStream`), mirroring
   * [[rebuildFromChunkVerdicts]]: `verdicts` carries (`idCol`, `start`,
   * `kept`) per span occurrence; each `kept = false` occurrence covers
   * word positions [start, start + windowWords); documents keep their
   * uncovered words in original order. Occurrences of non-duplicated
   * spans may be present (`kept = true`) or absent — only removals
   * matter. Output matches [[substringDedup]]'s contract: input
   * columns + `clean_text`, `n_words`, `n_words_removed`.
   */
  def rebuildFromSpanVerdicts(docs: DataFrame, idCol: String,
                              textCol: String, windowWords: Int,
                              verdicts: DataFrame): DataFrame = {
    val sw = windowWords
    val words = split(normText(col(textCol)), " ")
    // start may arrive int (batch) or long (stream wire rows); word
    // positions always fit an int
    val removedPos = verdicts.filter(!col("kept"))
      .select(col(idCol).as("__id"),
        explode(sequence(col("start").cast("long"),
          col("start").cast("long") + sw - 1)).as("__pos0"))
      .select(col("__id"), col("__pos0").cast("int").as("__pos"))
      .distinct()
    val perDoc = removedPos.groupBy("__id")
      .agg(sort_array(collect_list(col("__pos"))).as("__removed"))
    docs.join(perDoc, col(idCol) === col("__id"), "left")
      .withColumn("n_words", size(words).cast("long"))
      .withColumn("n_words_removed",
        coalesce(size(col("__removed")), lit(0)).cast("long"))
      .withColumn("clean_text", array_join(
        filter(words, (_, i) => !array_contains(
          coalesce(col("__removed"), array().cast("array<int>")), i)), " "))
      .drop("__id", "__removed")
  }

  /** Span-fingerprint table of a corpus: one 16 B row per distinct
    * overlapping-window span hash — the persisted history artifact the
    * incremental / streaming substring dedup consults instead of
    * re-reading history text (the span-level analogue of
    * [[chunkFingerprints]]). */
  def spanFingerprints(docs: DataFrame, textCol: String,
                       windowWords: Int): DataFrame = {
    require(windowWords >= 2, "windowWords must be >= 2")
    val sw = windowWords
    val words = split(normText(col(textCol)), " ")
    val starts = when(size(words) >= sw, sequence(lit(0), size(words) - sw))
      .otherwise(array().cast("array<int>"))
    docs.select(words.as("__ws"), explode(starts).as("__start"))
      .select(xxhash64(spanAt(col("__ws"), col("__start"), sw)).as("fp_h1"),
        xxhash64(lit(0x9e3779b9L),
          spanAt(col("__ws"), col("__start"), sw)).as("fp_h2"))
      .distinct()
  }

  /** [[substringDedup]] over a bucketed staging of the corpus — the
    * same 100 TB rebuild posture as [[chunkDedupColocated]]: the final
    * verdict join moves only the thin per-doc removal arrays to the
    * text's bucketed partitioning; corpus text never crosses the
    * network. */
  def substringDedupColocated(docs: DataFrame, idCol: String,
                              textCol: String, windowWords: Int,
                              stagingTable: String, buckets: Int): DataFrame = {
    val spark = docs.sparkSession
    graft.core.Bucketing.writeBucketed(docs, stagingTable, Seq(idCol), buckets)
    substringDedup(graft.core.Bucketing.readTable(spark, stagingTable),
      idCol, textCol, windowWords)
  }

  /**
   * Distinct n-word shingles of a text column: tokenize on single spaces
   * (after lower/trim, mirroring the exact-dedup normalization), then
   * slide an n-token window. Texts with fewer than n tokens yield an
   * empty array.
   */
  def wordShingles(text: Column, n: Int): Column =
    wordShinglesOf(split(normText(text), " "), n)

  /** [[wordShingles]] over an ALREADY-SPLIT token array column.
    * PERFORMANCE CONTRACT: pass an attribute (a projected `__ws`
    * column), not an expression — a HOF lambda re-evaluates any
    * non-attribute operand PER ELEMENT (Catalyst's subexpression
    * elimination does not cross LambdaFunction scopes), which turns
    * shingling O(words) texts into O(words²) re-splits. Measured on
    * q113 at sf0.1: 10.5 s → 0.6 s for the identical plan shape with
    * the words array materialized first. */
  def wordShinglesOf(w: Column, n: Int): Column = {
    require(n >= 1, "shingle width must be >= 1")
    val windows = transform(
      sequence(lit(0), size(w) - n),
      i => concat_ws(" ", (0 until n).map(k => element_at(w, i + k + 1)): _*))
    array_distinct(
      when(size(w) >= n, windows).otherwise(array().cast("array<string>")))
  }

  /**
   * 64-bit SimHash codes, one row per document: bit b of the code is
   * set iff the sum over tokens of (bit b of xxhash64(token) ? +1 : −1)
   * is positive. Near-identical documents differ in few bits; Hamming
   * distance on the codes approximates token-set divergence.
   *
   * Computed as token rows → one hash-aggregate with 64 codegen'd
   * vote sums → packed projection. (The equivalent single-expression
   * `aggregate()` over the token array is a CodegenFallback lambda and
   * runs interpreted — measured ~8× slower.) Output: (idCol, __code).
   */
  def simhashCodes(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = graft.core.Tables.fanOut(docs).select(col(idCol),
      explode(split(normText(col(textCol)), " ")).as("__t"))
    val h = xxhash64(col("__t"))
    val votes = (0 until 64).map { b =>
      sum(when(shiftright(h, b).bitwiseAND(1) === 1, 1L).otherwise(-1L)).as(s"__v$b")
    }
    toks.groupBy(idCol)
      .agg(votes.head, votes.tail: _*)
      .select(col(idCol),
        (0 until 64).map(b => when(col(s"__v$b") > 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ + _).as("__code"))
  }

  /**
   * The portable per-token hash family behind `portableSimhashCodes`:
   * a char-level polynomial hash (h = h·33 + code mod P, the q40
   * rolling-hash shape) expanded to per-bit decisions via the NONLINEAR
   * family g_b(h) = (((h + b·2654435761) mod P)² mod P) mod 2. The
   * squaring matters: any linear-in-h family makes bit b and bit b'
   * differ by a function independent of the token for same-length
   * tokens, which on a small-vocabulary corpus collapses the Hamming
   * spectrum (measured: 22 660 spurious pairs at Hamming ≤ 3 vs 16 with
   * the quadratic family on the same corpus). All intermediates stay
   * under 2^60 — bit-identical integer arithmetic in any engine, so an
   * external oracle can replay the exact simhash codes (which xxhash64
   * cannot). */
  val PortableHashP = 1000000007L
  val PortableHashSeed = 5381L

  /** Portable `bits`-wide SimHash codes (same vote semantics as
    * `simhashCodes`, engine-independent hash basis). 60 bits by default:
    * bit 63 would need unsigned shifts an external SQL engine may lack,
    * and 60 splits evenly into the pigeonhole chunks for maxHamming ≤ 3.
    * Output: (idCol, __code). */
  def portableSimhashCodes(docs: DataFrame, idCol: String, textCol: String,
                           bits: Int = 60): DataFrame = {
    require(bits >= 1 && bits <= 62, "bits must be in [1, 62]")
    // fan under-split inputs out: the 60-column vote partial-aggregate
    // below otherwise runs on the scan's single core (test fixtures are
    // single-row-group parquet; no-op on real multi-split layouts)
    // the char fold is the codegen'd TokenHash expression (one fused
    // loop per token occurrence) — this used to be an interpreted HOF
    // lambda, amortized through a distinct()+join memo; hashing per
    // occurrence is now cheaper than the extra shuffle and join were
    val toks = graft.core.Tables.fanOut(docs).select(col(idCol),
      explode(filter(split(normText(col(textCol)), " "), t => t =!= "")).as("__t"))
    val hashed = toks.select(col(idCol),
      graft.functions.TokenHash(col("__t"), PortableHashSeed, 33L, PortableHashP)
        .as("__h"))
    val votes = (0 until bits).map { b =>
      val s = (col("__h") + lit(b * 2654435761L)) % PortableHashP
      val bit = (s * s) % PortableHashP % 2
      sum(when(bit === 1, 1L).otherwise(-1L)).as(s"__v$b")
    }
    hashed
      .groupBy(idCol)
      .agg(votes.head, votes.tail: _*)
      .select(col(idCol),
        (0 until bits).map(b => when(col(s"__v$b") > 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ + _).as("__code"))
  }

  /**
   * Near-duplicate pairs from precomputed `bits`-wide codes with EXACT
   * pigeonhole banding: split the code into `maxHamming + 1` chunks —
   * two codes within `maxHamming` Hamming bits must agree exactly on at
   * least one chunk (pigeonhole), so the chunk equi-join is a lossless
   * candidate generator, unlike MinHash's probabilistic S-curve.
   * Residual: exact `bit_count(xor)`.
   *
   * Output: (d1, d2, hamming) with d1 < d2, hamming <= maxHamming.
   * Scale shape mirrors `nearDupPairs`: the all-rows shuffle carries
   * (chunk index, chunk bits) — 16 bytes per doc per chunk.
   */
  def simhashPairsFromCodes(codes: DataFrame, idCol: String,
                            maxHamming: Int, bits: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 16, "maxHamming must be in [0, 16)")
    require(bits > maxHamming, "need more code bits than maxHamming")
    val nChunks = maxHamming + 1
    val width = bits / nChunks // last chunk also takes the remainder bits
    val c = codes.select(col(idCol).as("__id"), col("__code").as("__sh"))
    val chunkCols = (0 until nChunks).map { i =>
      val lo = i * width
      val chunkBits =
        if (i == nChunks - 1) shiftrightunsigned(col("__sh"), lo)
        else shiftrightunsigned(col("__sh"), lo).bitwiseAND((1L << width) - 1)
      struct(lit(i).as("i"), chunkBits.as("bits"))
    }
    val buckets = c.select(col("__id"), col("__sh"),
      explode(array(chunkCols: _*)).as("__ck"))
    buckets.alias("a")
      .join(buckets.alias("b"),
        col("a.__ck") === col("b.__ck") && col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("d1"), col("b.__id").as("d2"),
        bit_count(col("a.__sh").bitwiseXOR(col("b.__sh"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** SimHash near-dup pairs over the 64-bit xxhash64 code basis (fast;
    * in-Spark reproducible only). */
  def simhashNearDupPairs(docs: DataFrame, idCol: String, textCol: String,
                          maxHamming: Int = 3): DataFrame =
    simhashPairsFromCodes(simhashCodes(docs, idCol, textCol), idCol, maxHamming, 64)

  /** SimHash near-dup pairs over the portable polynomial code basis —
    * same banding, engine-independent codes, so the result is exactly
    * replayable by an external SQL oracle. */
  def portableSimhashNearDupPairs(docs: DataFrame, idCol: String, textCol: String,
                                  maxHamming: Int = 3, bits: Int = 60): DataFrame =
    simhashPairsFromCodes(portableSimhashCodes(docs, idCol, textCol, bits),
      idCol, maxHamming, bits)

  /**
   * Embedding-cosine near-duplicate pairs with deterministic sign-LSH
   * blocking: pairs whose quantized sign-LSH codes differ in at most
   * `codeRadius` bits (exact pigeonhole banding on the code chunks, as
   * in `simhashNearDupPairs`) and whose exact cosine ≥ `threshold`.
   * The code filter is part of the contract — with integer-quantized
   * projections it is engine-independent, so an external oracle can
   * replicate the result exactly.
   *
   * OUTPUT-SIZE caveat (bounded corpora only): the threshold-only pair
   * list is itself super-linear — cosine ≥ 0.3 in 64 dims holds for
   * ~1% of RANDOM pairs, so the answer is Ω(N²/100) regardless of how
   * good the blocking is (the r14 perturbed-replica sweep measured
   * 106× pair growth on 10× data). At 100 TB use
   * [[embeddingNearDupTopK]], whose per-doc top-k cap bounds the
   * output (and every exchange) at N·k; this form is retained for the
   * exact-threshold semantics on corpora small enough to hold the
   * full pair list.
   */
  def embeddingNearDupPairs(emb: DataFrame, idCol: String, vecCol: String,
                            planes: Array[Array[Int]], codeRadius: Int,
                            threshold: Double): DataFrame = {
    // both self-join sides reference this subtree: materialize it once
    // instead of running the scan + sign-coding twice (r16 — the
    // coding pass is the family's per-row hot loop)
    val buckets = Share.once(
      signCodeBuckets(emb, idCol, vecCol, planes, codeRadius),
      "embeddingNearDupPairs.buckets")
    val pairs = buckets.alias("a")
      .join(buckets.alias("b"),
        col("a.__ck") === col("b.__ck") && col("a.__id") < col("b.__id"))
      .filter(bit_count(col("a.__c").bitwiseXOR(col("b.__c"))) <= codeRadius)
      .select(col("a.__id").as("d1"), col("b.__id").as("d2"))
      .distinct()
    exactCosineResidual(pairs, emb, idCol, vecCol, threshold)
  }

  /**
   * Cross-split embedding near-dup pairs — semantic eval-set
   * decontamination: [[crossNearDupPairs]] catches paraphrase leaks the
   * lexical way (shared shingles), this catches them in embedding
   * space (shared meaning under a different surface form). Same
   * sign-LSH pigeonhole blocking + exact-cosine residual as
   * [[embeddingNearDupPairs]], codes computed ONCE over the whole
   * table, candidates restricted to pairs straddling `isLeftId`.
   * Output: (d1 ∈ left/eval, d2 ∈ right/train, exact cosine ≥
   * threshold).
   */
  def crossEmbeddingNearDupPairs(emb: DataFrame, idCol: String, vecCol: String,
                                 planes: Array[Array[Int]], codeRadius: Int,
                                 threshold: Double,
                                 isLeftId: Column => Column): DataFrame = {
    // codes computed ONCE: both split filters
    // read the materialized rows instead of re-coding the corpus (r16)
    val buckets = Share.once(
      signCodeBuckets(emb, idCol, vecCol, planes, codeRadius),
      "crossEmbeddingNearDupPairs.buckets")
    val pairs = buckets.filter(isLeftId(col("__id"))).alias("a")
      .join(buckets.filter(!isLeftId(col("__id"))).alias("b"),
        col("a.__ck") === col("b.__ck"))
      .filter(bit_count(col("a.__c").bitwiseXOR(col("b.__c"))) <= codeRadius)
      .select(col("a.__id").as("d1"), col("b.__id").as("d2"))
      .distinct()
    exactCosineResidual(pairs, emb, idCol, vecCol, threshold)
  }

  /**
   * Per-document TOP-K embedding near-dup neighbors — the BOUNDED
   * output contract beside [[embeddingNearDupPairs]]'s threshold
   * semantics. Threshold-only near-dup emits every qualifying pair,
   * and a collision-prone threshold makes that answer itself
   * super-linear (cosine ≥ 0.3 in 64 dims holds for ~1% of RANDOM
   * pairs, so the pair list is Ω(N²/100) no matter how good the
   * plan is — the r14 perturbed-replica sweep measured 106× pair
   * growth on 10× data). At 100 TB the pair list IS the job, so the
   * profile-grade operator caps it: each document reports its k best
   * neighbors above the threshold, both directions, output ≤ N·k.
   *
   * `k` < 0 (the default) derives ⌈log₂N⌉ from the corpus — the
   * [[graft.operators.Similarity.sqrtStride]] precedent: derive,
   * don't pin — so the cap scales with the corpus and an external
   * oracle can re-derive it. The derivation costs one count() job;
   * callers that already know the corpus size pass `knownN` and the
   * default path costs ZERO extra passes over the corpus (the r15
   * derived-parameter-scan finding).
   *
   * The cap is HIERARCHICAL and exact: candidates are first capped
   * per (pigeonhole bucket, doc) and only then globally per doc. No
   * candidate in a doc's true top-k is lost — within any bucket
   * containing the pair, the neighbors outranking it are global
   * outrankers too, so it sits within that bucket's top-k as well.
   * This bounds EVERY exchange: the per-bucket join output is capped
   * before the dedup/global-rank shuffles see it (≤ chunks·N·k rows),
   * so an adversarial corpus can clog one bucket's local sort but
   * never an exchange. Ranking uses the 4-dp-rounded cosine
   * (neighbor-id tie-break) — a replayable grid decision where raw
   * doubles could flip on their last ulp between engines.
   *
   * Output: (`doc_id`, `neighbor_id`, `cosine` 4 dp, `rank` 1..k).
   */
  def embeddingNearDupTopK(emb: DataFrame, idCol: String, vecCol: String,
                           planes: Array[Array[Int]], codeRadius: Int,
                           threshold: Double, k: Int = -1,
                           knownN: Long = -1L): DataFrame = {
    val kEff =
      if (k >= 1) k
      else { // ceil(log2(N)) via bit length: integer-exact at any N
        val n = math.max(2L, if (knownN >= 0) knownN else emb.count())
        64 - java.lang.Long.numberOfLeadingZeros(n - 1L)
      }
    // vectors + norms attach to the LINEAR bucket rows (id-keyed join),
    // so the quadratic in-bucket pair stream computes cosine in-row and
    // caps before any further exchange
    val vecs = emb.select(col(idCol).as("__id"), col(vecCol).as("__v"),
      sqrt(Similarity.dot(col(vecCol), col(vecCol))).as("__n"))
    // both self-join sides reference this subtree: materialize once
    // instead of coding + vector-joining twice
    val buckets = Share.once(
      signCodeBuckets(emb, idCol, vecCol, planes, codeRadius)
        .join(vecs, Seq("__id")), "embeddingNearDupTopK.buckets")
    val bucketPairs = buckets.alias("a")
      .join(buckets.alias("b"),
        col("a.__ck") === col("b.__ck") && col("a.__id") =!= col("b.__id"))
      .filter(bit_count(col("a.__c").bitwiseXOR(col("b.__c"))) <= codeRadius)
      .select(col("a.__ck").as("__ck"), col("a.__id").as("doc_id"),
        col("b.__id").as("neighbor_id"),
        round(Similarity.dot(col("a.__v"), col("b.__v")) /
          (col("a.__n") * col("b.__n")), 4).as("cosine"))
      .filter(col("cosine") >= threshold)
    // stage 1: per-(bucket, doc) cap — rides the bucket join's existing
    // hash partitioning (window keys ⊇ join key), no new exchange
    val perBucket = Relational.topKPerGroup(bucketPairs,
        Seq("__ck", "doc_id"),
        Seq(col("cosine").desc, col("neighbor_id").asc), kEff)
      .drop("__ck")
    // stage 2: dedupe multi-bucket survivors (≤ chunks·N·k rows), then
    // the global per-doc cap
    Relational.topKPerGroup(perBucket.distinct(), Seq("doc_id"),
        Seq(col("cosine").desc, col("neighbor_id").asc), kEff,
        rankCol = Some("rank"))
      .select(col("doc_id"), col("neighbor_id"), col("cosine"), col("rank"))
  }

  /**
   * Shared sign-LSH blocking backbone: per-id code + exploded
   * pigeonhole chunk keys. Bucket joins over this carry only
   * (id, code) — 16 bytes/row.
   */
  /**
   * PERSISTABLE sign-LSH code table — the embedding family's index
   * asset (the [[shingleHashRows]] analog for vectors): one row per
   * vector with its packed sign-LSH code, the raw vector, and its
   * precomputed norm (the exact operand `exactCosineResidual` uses,
   * frozen at index time — IEEE-identical to recomputing it). Store
   * this ONCE (parquet); [[embeddingNearDupAgainstIndex]] /
   * [[embeddingNearDupAgainstIndexInRow]] then score every arriving
   * batch against it without re-coding or re-scanning the history
   * corpus — the serving posture the text side already had
   * ([[shingleHashRows]] → [[containmentAgainstIndex]]), closed for
   * embedding space.
   *
   * Columns: (`__id`, `__c` packed code, `__v` vector, `__n` norm).
   */
  def embeddingCodeRows(emb: DataFrame, idCol: String, vecCol: String,
                        planes: Array[Array[Int]]): DataFrame =
    emb.select(col(idCol).as("__id"),
      Similarity.signCode(col(vecCol), planes).as("__c"),
      col(vecCol).as("__v"),
      sqrt(Similarity.dot(col(vecCol), col(vecCol))).as("__n"))

  /** Pigeonhole chunk keys of a packed code, LONG-encoded as
    * chunkIdx·2^nBits + chunkBits (unique across chunks, map-key and
    * equi-join friendly — the [[signCodeBuckets]] chunking with a flat
    * key). Two codes within `codeRadius` Hamming bits share at least
    * one key (pigeonhole over codeRadius+1 chunks). */
  private def flatChunkKeys(codeCol: Column, nBits: Int,
                            codeRadius: Int): Seq[Column] = {
    val nChunks = codeRadius + 1
    require(nBits >= nChunks, "need at least codeRadius+1 code bits")
    require(nBits <= 56, "flat chunk keys need nBits <= 56")
    val width = nBits / nChunks
    (0 until nChunks).map { i =>
      val lo = i * width
      val bits =
        if (i == nChunks - 1) shiftrightunsigned(codeCol, lo)
        else shiftrightunsigned(codeCol, lo).bitwiseAND((1L << width) - 1)
      lit(i.toLong * (1L << nBits)) + bits
    }
  }

  /**
   * Incremental embedding near-dup against a PERSISTED code table —
   * the [[containmentAgainstIndex]] posture for embedding space:
   * the history corpus's [[embeddingCodeRows]] are stored once; each
   * arriving batch codes ITSELF in-row (same planes — config is the
   * geometry), equi-joins its pigeonhole chunk keys against the
   * index's, and emits every (arriving, history) pair whose codes
   * differ in at most `codeRadius` bits AND whose exact cosine ≥
   * `threshold`. History vectors are read from the index — the
   * history corpus is never re-coded, re-projected, or re-scanned.
   *
   * Output: (`d1` = arriving id, `d2` = history id, `cosine` 4 dp).
   *
   * Scale shape: the chunk join carries (id, code) rows only
   * (16 B/row); candidate pairs dedup BEFORE vectors rejoin
   * (id-keyed), so each surviving pair pays exactly one dot product
   * and vectors never ride a pair-sized exchange. Caller contract:
   * arriving ids are disjoint from history ids (the
   * survivorsAgainstHistory contract).
   */
  def embeddingNearDupAgainstIndex(newEmb: DataFrame, idCol: String,
                                   vecCol: String, index: DataFrame,
                                   planes: Array[Array[Int]], codeRadius: Int,
                                   threshold: Double): DataFrame = {
    val nBits = planes.length
    val newCoded = Share.once(embeddingCodeRows(newEmb, idCol, vecCol, planes),
      "embeddingNearDupAgainstIndex.newCoded") // coded once: chunks + residual
    def chunked(coded: DataFrame): DataFrame =
      coded.select(col("__id"), col("__c"),
        explode(array(flatChunkKeys(col("__c"), nBits, codeRadius): _*))
          .as("__ck"))
    val pairs = chunked(newCoded).alias("a")
      .join(chunked(index).alias("b"), col("a.__ck") === col("b.__ck"))
      .filter(bit_count(col("a.__c").bitwiseXOR(col("b.__c"))) <= codeRadius)
      .select(col("a.__id").as("d1"), col("b.__id").as("d2"))
      .distinct()
    val nv = newCoded.select(col("__id").as("d1"),
      col("__v").as("__v1"), col("__n").as("__n1"))
    val hv = index.select(col("__id").as("d2"),
      col("__v").as("__v2"), col("__n").as("__n2"))
    pairs.join(nv, Seq("d1")).join(hv, Seq("d2"))
      .withColumn("__cs", Similarity.dot(col("__v1"), col("__v2")) /
        (col("__n1") * col("__n2")))
      .filter(col("__cs") >= threshold)
      .select(col("d1"), col("d2"), round(col("__cs"), 4).as("cosine"))
  }

  /**
   * STREAM-SERVING twin of [[embeddingNearDupAgainstIndex]] — the
   * [[containmentAgainstIndexInRow]] shape for embedding space: the
   * persisted code table folds to ONE broadcast posting map
   * (chunk key → members with code, vector, norm), each ARRIVING
   * vector codes itself in-row, looks up its own codeRadius+1 chunk
   * keys, filters candidates by Hamming radius and exact cosine
   * in-row, and explodes the hits. No stream-side aggregation, no
   * shuffle, no per-key state — map + explode over one broadcast
   * model row, so it runs unchanged in append mode on an unbounded
   * stream. Result-identical to the batch join gear on the same
   * inputs (spec-pinned).
   *
   * The broadcast map bounds this to indexes that fit an executor —
   * past that, use the batch join form (the `bigramNllAgainst`
   * caveat verbatim). Per-doc serving cost scales with how many
   * near-neighbors the arriving doc actually has, not with the
   * corpus.
   */
  def embeddingNearDupAgainstIndexInRow(newEmb: DataFrame, idCol: String,
                                        vecCol: String, index: DataFrame,
                                        planes: Array[Array[Int]],
                                        codeRadius: Int,
                                        threshold: Double): DataFrame = {
    val nBits = planes.length
    val postings = index
      .select(col("__id"), col("__c"), col("__v"), col("__n"),
        explode(array(flatChunkKeys(col("__c"), nBits, codeRadius): _*))
          .as("__ck"))
      .groupBy("__ck")
      .agg(collect_list(struct(col("__id"), col("__c"), col("__v"),
        col("__n"))).as("__pl"))
      .agg(map_from_entries(collect_list(struct(col("__ck"), col("__pl"))))
        .as("__post"))
    val myKeys = array(flatChunkKeys(col("__nc"), nBits, codeRadius): _*)
    // candidate dedup: the same member struct rides every shared chunk
    // list, so array_distinct on full structs is exact
    val cands = array_distinct(flatten(filter(
      transform(myKeys, k => element_at(col("__post"), k)),
      l => l.isNotNull)))
    val matched = filter(cands, c =>
      bit_count(c.getField("__c").bitwiseXOR(col("__nc"))) <= codeRadius)
    val scored = transform(matched, c => struct(
      c.getField("__id").as("d2"),
      (Similarity.dot(col("__nv"), c.getField("__v")) /
        (col("__nn") * c.getField("__n"))).as("cs")))
    newEmb
      .select(col(idCol).as("__nid"), col(vecCol).as("__nv"),
        Similarity.signCode(col(vecCol), planes).as("__nc"))
      .withColumn("__nn", sqrt(Similarity.dot(col("__nv"), col("__nv"))))
      .crossJoin(broadcast(postings))
      .select(col("__nid").as("d1"),
        explode(filter(scored, s => s.getField("cs") >= threshold)).as("__h"))
      .select(col("d1"), col("__h.d2").as("d2"),
        round(col("__h.cs"), 4).as("cosine"))
  }

  /**
   * BOUNDED serving twin of [[embeddingNearDupAgainstIndex]] — the
   * [[embeddingNearDupTopK]] posture applied to the incremental gear:
   * each ARRIVING doc keeps only its `k` best history matches
   * (rounded-cosine desc, history id asc — the replayable 4-dp grid),
   * so output is ≤ |batch|·k REGARDLESS of history density. The r16
   * perturbed-replica sweep measured the threshold form's output
   * growing ~100× on 10× data (every copy of a vector stays within
   * cosine 0.3 of every copy of its neighbors — the q37 semantics,
   * inherited by serving); a dedup-serving caller almost always wants
   * "the closest existing doc(s)", which THIS bounds by contract.
   * The threshold form stays beside it as the exact-semantics gear.
   *
   * Output: (`d1`, `d2`, `cosine` 4 dp, `rank` 1..k).
   */
  def embeddingNearDupAgainstIndexTopK(newEmb: DataFrame, idCol: String,
                                       vecCol: String, index: DataFrame,
                                       planes: Array[Array[Int]],
                                       codeRadius: Int, threshold: Double,
                                       k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    Relational.topKPerGroup(
      embeddingNearDupAgainstIndex(newEmb, idCol, vecCol, index, planes,
        codeRadius, threshold),
      Seq("d1"), Seq(col("cosine").desc, col("d2").asc), k,
      rankCol = Some("rank"))
  }

  private def signCodeBuckets(emb: DataFrame, idCol: String, vecCol: String,
                              planes: Array[Array[Int]],
                              codeRadius: Int): DataFrame = {
    val nChunks = codeRadius + 1
    val nBits = planes.length
    require(nBits >= nChunks, "need at least codeRadius+1 code bits")
    val width = nBits / nChunks
    val codes = emb.select(col(idCol).as("__id"),
      Similarity.signCode(col(vecCol), planes).as("__c"))
    val chunkCols = (0 until nChunks).map { i =>
      val lo = i * width
      val bits =
        if (i == nChunks - 1) shiftrightunsigned(col("__c"), lo)
        else shiftrightunsigned(col("__c"), lo).bitwiseAND((1L << width) - 1)
      struct(lit(i).as("i"), bits.as("bits"))
    }
    codes.select(col("__id"), col("__c"),
      explode(array(chunkCols: _*)).as("__ck"))
  }

  /**
   * SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
   * deduplication with trained k-means cells as the blocking stage —
   * each vector assigns to its nearest centroid (the same in-scan
   * argmin fold as `Similarity.ivfTopKWith`: one broadcast centroid
   * row, the corpus never shuffles for assignment), candidate pairs
   * form ONLY within a cell, and the exact-cosine residual keeps
   * pairs at `threshold` or above. A vector is dropped when it is
   * semantically duplicate of ANY smaller-id cell-mate — the dedup
   * family's first-occurrence policy (the paper keeps the member
   * farthest from the centroid; min-id is deterministic and
   * replayable, which is what the gates need). Cross-cell near-dups
   * are missed BY CONSTRUCTION — that is SemDeDup's documented
   * approximation, traded for never forming all-pairs.
   *
   * Output: one verdict row per input vector — (`idCol`, `cell`,
   * `kept`).
   *
   * Scale shape: assignment is scan-local against the broadcast
   * centroids; the pair join shuffles (cell, id) rows — 16 B each —
   * and only surviving candidate pairs rejoin the vectors (once per
   * pair, norms precomputed per id). Cell sizes bound the quadratic
   * term: pairs ≈ Σ|cell|², controlled by the centroid count exactly
   * as in the paper.
   */
  def semanticDedup(emb: DataFrame, idCol: String, vecCol: String,
                    centroids: DataFrame, threshold: Double): DataFrame = {
    import Similarity.{dot, quantize}
    // loop-invariant hoist (the kmeansCentroids trick, r17): one
    // d-wide dot per (row, centroid) in the assignment fold
    val q = emb.select(col(idCol).as("__id"), quantize(col(vecCol)).as("__q"))
      .withColumn("__qq", dot(col("__q"), col("__q")))
    val centArr = centroids
      .agg(collect_list(struct(col("__cid"), col("__cv"),
        dot(col("__cv"), col("__cv")).as("__cvv"))).as("__cents"))
    val far = struct(lit(Double.MaxValue).as("d2"), lit(Long.MaxValue).as("cid"))
    val best = aggregate(col("__cents"), far, (acc, c) => {
      val cv = c.getField("__cv")
      val d2 = col("__qq") -
        lit(2.0) * dot(col("__q"), cv) + c.getField("__cvv")
      val cand = struct(d2.as("d2"), c.getField("__cid").as("cid"))
      when(cand < acc, cand).otherwise(acc)
    })
    val asg = q.crossJoin(broadcast(centArr))
      .select(col("__id"), best.getField("cid").as("__cell"))
    val pairs = asg.alias("a")
      .join(asg.alias("b"),
        col("a.__cell") === col("b.__cell") && col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("d1"), col("b.__id").as("d2"))
    val dropped = exactCosineResidual(pairs, emb, idCol, vecCol, threshold)
      .select(col("d2").as("__id")).distinct()
      .withColumn("__dup", lit(true))
    asg.join(dropped, Seq("__id"), "left")
      .select(col("__id").as(idCol), col("__cell").as("cell"),
        coalesce(col("__dup").unary_!, lit(true)).as("kept"))
  }

  /**
   * Exact-cosine residual over a candidate pair set: the vectors
   * rejoin AFTER pair dedup so each surviving pair pays exactly one
   * (interpreted — higher-order fns don't codegen) dot product, with
   * per-id norms precomputed once.
   */
  private def exactCosineResidual(pairs: DataFrame, emb: DataFrame,
                                  idCol: String, vecCol: String,
                                  threshold: Double): DataFrame = {
    val vecs = emb.select(col(idCol).as("__vid"), col(vecCol).as("__v"),
      sqrt(Similarity.dot(col(vecCol), col(vecCol))).as("__n"))
    pairs
      .join(vecs.alias("v1"), col("d1") === col("v1.__vid"))
      .join(vecs.alias("v2"), col("d2") === col("v2.__vid"))
      // same operand tree as dot/(sqrt(dot aa)·sqrt(dot bb)): the norms
      // are those sqrt values, computed once per id
      .select(col("d1"), col("d2"),
        (Similarity.dot(col("v1.__v"), col("v2.__v")) /
          (col("v1.__n") * col("v2.__n"))).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /**
   * Duplicate-cluster assignment from a pair list: connected components
   * of the (undirected) duplicate graph via min-label propagation, so a
   * chain a~b, b~c lands all three in ONE cluster — the step that turns
   * near-dup PAIRS (`nearDupPairs` et al.) into the thing a training-data
   * pipeline actually needs: one canonical representative per duplicate
   * group (the cluster id IS the minimum member id).
   *
   * Output: (id, cluster_id), one row per distinct id appearing in
   * `pairs`; singleton documents never enter the pair list and keep
   * themselves by construction.
   *
   * Iterates label = min(label, min over neighbors' labels) to fixpoint —
   * the standard Pregel-style CC. Rounds = graph diameter; duplicate
   * clusters are near-cliques (diameter 2–3), so convergence is fast
   * regardless of corpus size. Each round is one equi-join + one
   * hash-aggregate on the EDGE list (a vanishing fraction of the corpus),
   * never the corpus itself; each round's labels are a `Share.once`, so
   * round N's plan is a leaf over round N−1's rows, not rounds 1..N−1.
   *
   * The convergence check is FUSED into the round's single job: each
   * label row travels with its previous label through the min-aggregate,
   * and a streaming `mapPartitions` pass bumps a LongAccumulator for
   * every changed label while stripping the carried column — so the
   * stage that materializes the next labels also delivers the
   * changed-count, where the unfused form spent a second join+isEmpty
   * job per round re-shuffling both label sets. (Accumulators can
   * overcount on task retry; here a false non-zero only buys one extra
   * round — convergence itself stays exact because a converged round
   * genuinely adds nothing.)
   */
  def dupClusters(pairs: DataFrame, aCol: String, bCol: String,
                  maxIters: Int = 50): DataFrame = {
    val spark = pairs.sparkSession
    val edges = Share.once(
      pairs.select(col(aCol).as("__src"), col(bCol).as("__dst"))
        .union(pairs.select(col(bCol).as("__src"), col(aCol).as("__dst")))
        .distinct(), "dupClusters.edges")
    var labels = Share.once(edges.select(col("__src").as("id")).distinct()
      .select(col("id"), col("id").as("cluster_id")), "dupClusters.labels")
    val outEnc = org.apache.spark.sql.Encoders.row(labels.schema)
    var converged = false
    var i = 0
    while (!converged && i < maxIters) {
      val prop = edges.join(labels, edges("__dst") === labels("id"))
        .select(edges("__src").as("id"), col("cluster_id"))
      // every merged id also has a labels row (edge sources are seeded),
      // so min(__old) is exactly its previous label
      val merged = labels
        .withColumn("__old", col("cluster_id"))
        .unionByName(prop.withColumn("__old", lit(null)
          .cast(labels.schema("cluster_id").dataType)))
        .groupBy("id")
        .agg(min("cluster_id").as("cluster_id"), min("__old").as("__old"))
      val changed = spark.sparkContext.longAccumulator(s"graft-cc-changed-$i")
      labels = Share.once(merged.mapPartitions { rows =>
        rows.map { r =>
          if (r.get(1) != r.get(2)) changed.add(1L)
          org.apache.spark.sql.Row(r.get(0), r.get(1))
        }
      }(outEnc), "dupClusters.labels")
      labels.rdd.count() // one job: fills the share and `changed`
      converged = changed.value == 0L
      i += 1
    }
    require(converged, s"dupClusters did not converge in $maxIters rounds — " +
      "graph diameter exceeds the bound; raise maxIters")
    labels
  }

  /**
   * Distinct hashed shingle rows: (doc id, 64-bit shingle hash), one
   * row per distinct n-token window per document. The codegen-friendly
   * backbone of near-dup detection: `posexplode` the tokens, slide the
   * window with `lead()` (one shuffle-sort on the id), hash the window
   * tokens directly with `xxhash64` — no string concatenation, no
   * higher-order array lambdas (those are CodegenFallback in Spark and
   * run interpreted, measured ~7 s for 5 k docs the lambda way).
   * Hashing loses nothing for set arithmetic: intersect/union counts on
   * 64-bit shingle hashes equal the counts on shingle strings unless
   * xxhash64 collides within one comparison (~10⁻¹⁵ per doc pair).
   */
  def shingleHashRows(docs: DataFrame, idCol: String, textCol: String,
                      shingleWidth: Int, charLevel: Boolean = false): DataFrame = {
    require(shingleWidth >= 1, "shingle width must be >= 1")
    if (charLevel) {
      // Byte-level sliding windows over the normalized text as BINARY:
      // `substring` on BinaryType slices bytes in O(width) (unlike
      // VARCHAR substr, which rescans codepoints from the start — O(n)
      // per call), so each window is one cheap codegen'd slice and the
      // whole computation needs NO shuffle before the final distinct.
      // The previous shape (posexplode chars + 9× lead() over a per-doc
      // window) paid a full sort-shuffle of one row PER CHARACTER —
      // measured 6.7 s → 2.6 s at sf0.1 for q52. On ASCII corpora
      // (asserted by the corpus invariant test) byte windows ARE char
      // windows; on multi-byte text this is byte-n-gram Jaccard — the
      // standard bytes-level fingerprint, and documented as such.
      val bin = normText(col(textCol)).cast("binary")
      val nWin = octet_length(bin) - (shingleWidth - 1)
      // under-split inputs serialize the whole slice+hash pipeline on one
      // core (single-row-group test fixtures); no-op on real layouts
      graft.core.Tables.fanOut(docs)
        .select(col(idCol).as("__id"), bin.as("__b"),
          explode(when(nWin >= 1, sequence(lit(1), nWin))
            .otherwise(array().cast("array<int>"))).as("__pos"))
        .select(col("__id"),
          xxhash64(col("__b").substr(col("__pos"), lit(shingleWidth))).as("__sh"))
        .distinct()
    } else {
      // word-level: shingles slide over space tokens via lead() — token
      // counts per doc are ~10× smaller than char counts, and the
      // window shuffle doubles as the distinct's partitioning
      val units = split(normText(col(textCol)), " ")
      val toks = docs.select(col(idCol).as("__id"),
          posexplode(units).as(Seq("__pos", "__t0")))
      val w = Window.partitionBy("__id").orderBy("__pos")
      val leads = (1 until shingleWidth)
        .map(k => lead(col("__t0"), k).over(w).as(s"__t$k"))
      val withW = toks.select(col("__id") +: col("__t0") +: leads: _*)
      val lastTok = col(s"__t${shingleWidth - 1}")
      withW
        .filter(lastTok.isNotNull) // windows running off the end
        .select(col("__id"),
          xxhash64((0 until shingleWidth).map(k => col(s"__t$k")): _*).as("__sh"))
        .distinct()
    }
  }

  /**
   * Near-duplicate pairs by MinHash/LSH banding with an exact residual:
   *
   *   shingle hash rows → per-doc minhash signature (one codegen'd
   *   hash-aggregate with bands×rows min() columns) → band buckets →
   *   bucket equi-join → exact Jaccard on candidate pairs → threshold.
   *
   * The residual check makes false positives impossible; false negatives
   * are bounded by the banding S-curve (defaults 16×3: a pair at
   * Jaccard 0.8 is missed with probability (1−0.8³)^16 ≈ 3·10⁻⁵, at
   * 0.9 with 10⁻⁸). rowsPerBand tunes the knee: r=2 admits ~j² of
   * random pairs per band as candidates — measured 20× more residual
   * work than r=3 on vocabulary-overlapping corpora — while r=4 starts
   * missing borderline pairs. Output: (d1, d2, jaccard) with d1 < d2,
   * exact Jaccard ≥ threshold.
   *
   * Scale shape: two shuffles on the doc id (shingle window + signature
   * aggregate) carrying (id, 8 B hash) rows, then a bucket-key shuffle
   * of bands×16 B per doc. Candidate pairs travel as bare id pairs; the
   * Jaccard counts come from a hash-equi-join on the shingle rows —
   * the corpus text itself never crosses the wire. Skewed buckets
   * (boilerplate-heavy corpora) are AQE's skew-join case.
   */
  def nearDupPairs(docs: DataFrame, idCol: String, textCol: String,
                   threshold: Double, shingleWidth: Int = 3,
                   bands: Int = 16, rowsPerBand: Int = 3,
                   charLevel: Boolean = false): DataFrame = {
    val (sh, sig, buckets) =
      lshBackbone(docs, idCol, textCol, shingleWidth, bands, rowsPerBand, charLevel)

    val candidates = buckets.alias("a")
      .join(buckets.alias("b"),
        col("a.__bk") === col("b.__bk") && col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("d1"), col("b.__id").as("d2"))
      .distinct()

    exactJaccardResidual(candidates, sh, sig, threshold)
  }

  /**
   * Cross-split near-duplicate pairs — the fuzzy half of eval-set
   * decontamination (q70 catches verbatim n-gram leaks; this catches
   * paraphrase-level leaks that survive light edits). Same
   * MinHash/LSH + exact-residual machinery as [[nearDupPairs]], but the
   * corpus is shingled and minhashed ONCE and only candidates that
   * CROSS the split are generated: buckets are partitioned by
   * `isLeftId` (a predicate on the id column, so the side is computed
   * inline and never joined in) and the band equi-join pairs left
   * buckets against right buckets only. Within-split duplicates —
   * the overwhelming majority in a replicated corpus — never become
   * candidates, so the residual work tracks the cross-split hit count,
   * not the total duplicate count. Output: (d1 ∈ left, d2 ∈ right,
   * exact jaccard ≥ threshold).
   */
  def crossNearDupPairs(docs: DataFrame, idCol: String, textCol: String,
                        isLeftId: Column => Column, threshold: Double,
                        shingleWidth: Int = 3, bands: Int = 16,
                        rowsPerBand: Int = 3,
                        charLevel: Boolean = false): DataFrame = {
    val (sh, sig, buckets) =
      lshBackbone(docs, idCol, textCol, shingleWidth, bands, rowsPerBand, charLevel)

    // sides are disjoint by construction, so no id-ordering tie-break
    // is needed; d1 is always the left (eval) doc
    val candidates = buckets.filter(isLeftId(col("__id"))).alias("a")
      .join(buckets.filter(!isLeftId(col("__id"))).alias("b"),
        col("a.__bk") === col("b.__bk"))
      .select(col("a.__id").as("d1"), col("b.__id").as("d2"))
      .distinct()

    exactJaccardResidual(candidates, sh, sig, threshold)
  }

  /**
   * Shared LSH backbone: shared-once shingle hash rows, the
   * per-doc minhash signature (+ distinct-shingle count `__n`), and
   * the exploded band buckets `(__id, __bk)`.
   */
  private def lshBackbone(docs: DataFrame, idCol: String, textCol: String,
                          shingleWidth: Int, bands: Int, rowsPerBand: Int,
                          charLevel: Boolean): (DataFrame, DataFrame, DataFrame) = {
    val k = bands * rowsPerBand
    // The shingle rows feed THREE consumers (signature aggregate + both
    // sides of the intersection join); the share materializes them once
    // instead of recomputing the shingle pipeline per consumer. At scale
    // this is the standard persist point — the materialized rows are
    // (id, 8 B hash), not text.
    val sh = Share.once(
      shingleHashRows(docs, idCol, textCol, shingleWidth, charLevel),
      "lshBackbone.sh")

    // one codegen'd aggregate: k min-hash columns + the distinct count
    val sigCols = (0 until k).map(j => min(xxhash64(lit(j.toLong), col("__sh"))).as(s"__m$j"))
    val sig = sh.groupBy("__id")
      .agg(sigCols.head, sigCols.tail :+ count(lit(1)).as("__n"): _*)

    val bandCols = (0 until bands).map { i =>
      struct(lit(i).as("band"),
        struct((0 until rowsPerBand).map(r =>
          col(s"__m${i * rowsPerBand + r}").as(s"h$r")): _*).as("sig"))
    }
    val buckets = sig.select(col("__id"), explode(array(bandCols: _*)).as("__bk"))
    (sh, sig, buckets)
  }

  /**
   * Size-ratio prune + exact-Jaccard residual over a candidate pair
   * set `(d1, d2)`: false positives are impossible downstream of this,
   * whatever generated the candidates.
   */
  private def exactJaccardResidual(candidates: DataFrame, sh: DataFrame,
                                   sig: DataFrame, threshold: Double): DataFrame = {
    // size-ratio prune BEFORE the expensive intersection: J(A,B) ≤
    // min(|A|,|B|)/max(|A|,|B|), so a qualifying pair must have
    // min ≥ t·max. The 1e-9 slack keeps the bound sound under float
    // rounding (the exact threshold is re-applied on the true Jaccard).
    val counts = sig.select(col("__id"), col("__n"))
    val sized = candidates
      .join(counts.alias("c1"), col("d1") === col("c1.__id"))
      .join(counts.alias("c2"), col("d2") === col("c2.__id"))
      .select(col("d1"), col("d2"),
        col("c1.__n").as("__n1"), col("c2.__n").as("__n2"))
      .filter(least(col("__n1"), col("__n2")).cast("double") >=
        lit(threshold) * greatest(col("__n1"), col("__n2")) - lit(1e-9))

    // exact |intersection| per surviving pair, computed IN-ROW (r16):
    // each doc's distinct hash set rides as one array row and the
    // codegen'd array_intersect (hash-set build, O(|A|+|B|)) counts the
    // overlap — where the previous shape exploded candidates × |A|
    // rows through two equi-joins and a count aggregate (three
    // pair-fan-out exchanges). Same integer |A∩B| (both arrays are
    // distinct hash sets), same |union| from the carried counts; pairs
    // with an empty intersection never joined before, so the __i > 0
    // guard keeps the output set identical at any threshold. Per-row
    // payload is bounded by the two docs' shingle-set sizes.
    val docArr = sh.groupBy("__id").agg(collect_list(col("__sh")).as("__arr"))
    sized
      .join(docArr.select(col("__id").as("d1"), col("__arr").as("__a1")),
        Seq("d1"))
      .join(docArr.select(col("__id").as("d2"), col("__arr").as("__a2")),
        Seq("d2"))
      .select(col("d1"), col("d2"), col("__n1"), col("__n2"),
        size(array_intersect(col("__a1"), col("__a2"))).cast("long").as("__i"))
      .where(col("__i") > 0L)
      .select(col("d1"), col("d2"),
        (col("__i").cast("double") /
          (col("__n1") + col("__n2") - col("__i"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /**
   * Subset-document pairs: documents whose ENTIRE shingle set occurs
   * inside another document's — the true-containment case Jaccard
   * banding structurally misses (a paragraph quoted inside a long doc
   * has |A∩B|/|A| = 1 but tiny Jaccard, so [[nearDupPairs]]' S-curve
   * never surfaces it; eval-side verbatim leaks are q70's broadcast
   * dictionary — this is the corpus-internal variant).
   *
   * EXACT, with a guaranteed candidate generator: if A ⊆ B then A's
   * MINIMUM shingle hash is in B, so pairing each doc's min-shingle
   * row against the corpus shingle table recalls every subset pair by
   * construction; the residual then checks |A∩B| = |A| exactly.
   * Output: (contained_id, container_id, n_contained, n_container),
   * strict-or-tie direction (smaller set contained; equal sets — the
   * exact-duplicate case — ordered by id).
   *
   * Scale shape: the candidate join keys on ONE 8-byte shingle hash
   * per doc against the distinct (doc, shingle) relation — block size
   * is that shingle's document frequency, so a boilerplate-heavy
   * min-shingle is the skew case (AQE skew-join; or raise
   * shingleWidth so windows individuate). Residual intersections run
   * on hash rows only; text never crosses the wire.
   */
  def subsetDocPairs(docs: DataFrame, idCol: String, textCol: String,
                     shingleWidth: Int = 3): DataFrame = {
    // three consumers (counts, candidate probe, doc arrays) — one
    // materialization of the shingle pipeline (the lshBackbone posture)
    val sh = Share.once(shingleHashRows(docs, idCol, textCol, shingleWidth),
      "subsetDocPairs.sh")
    val counts = sh.groupBy("__id")
      .agg(count(lit(1)).as("__n"), min(col("__sh")).as("__min"))
    val cand = counts
      .select(col("__id").as("__a"), col("__n").as("__na"), col("__min"))
      .join(sh.select(col("__id").as("__b"), col("__sh")),
        col("__min") === col("__sh"))
      .filter(col("__a") =!= col("__b"))
      .select(col("__a"), col("__na"), col("__b"))
    // in-row exact intersection (r17, the containmentJoin shape): the
    // candidates × |A| double-join + count aggregate exploded every
    // (candidate, shingle) row through two pair-fan-out exchanges;
    // array_intersect over the two docs' distinct hash-set rows counts
    // |A∩B| in one codegen'd pass. |A∩B| = |A| keeps exactly the pairs
    // the inner join + count filter kept (a zero-intersection pair
    // can't reach |A| ≥ 1).
    val docArr = sh.groupBy("__id").agg(collect_list(col("__sh")).as("__arr"))
    cand
      .join(counts.select(col("__id").as("__b"), col("__n").as("__nb")), "__b")
      .filter(col("__na") < col("__nb") ||
        (col("__na") === col("__nb") && col("__a") < col("__b")))
      .join(docArr.select(col("__id").as("__a"), col("__arr").as("__a1")),
        Seq("__a"))
      .join(docArr.select(col("__id").as("__b"), col("__arr").as("__a2")),
        Seq("__b"))
      .select(col("__a"), col("__na"), col("__b"), col("__nb"),
        size(array_intersect(col("__a1"), col("__a2"))).cast("long").as("__i"))
      .filter(col("__i") === col("__na"))
      .select(col("__a").as("contained_id"), col("__b").as("container_id"),
        col("__na").as("n_contained"), col("__nb").as("n_container"))
  }

  /**
   * EXACT shingle-set similarity join by prefix filtering (the
   * PPJoin-family principle: Bayardo et al., WWW'07; Xiao et al.,
   * WWW'08 — implemented from the published method): every pair with
   * shingle-set Jaccard ≥ t = tNum/tDen is emitted, with NO false
   * negatives — the deterministic complement to [[nearDupPairs]]'
   * probabilistic MinHash banding (whose S-curve misses borderline
   * pairs with small but nonzero probability).
   *
   * Prefix-filter theorem: order each doc's element set by one global
   * canonical order and keep only the first |x| − ⌈t·|x|⌉ + 1 elements
   * (the "prefix"). If J(x,y) ≥ t, the prefixes of x and y must share
   * at least one element — so an equi-join on prefix elements generates
   * a candidate superset, and the exact-Jaccard residual makes the
   * output exactly the qualifying pairs. The canonical order here is
   * (global document frequency ASC, element hash ASC): rarest-first
   * prefixes index each doc under its most selective shingles, which
   * is what bounds the candidate blow-up.
   *
   * The prefix length is computed in pure integers — ⌈t·n⌉ =
   * (tNum·n + tDen − 1) div tDen — because a float ceil that rounds UP
   * would shorten the prefix and silently break the no-false-negative
   * guarantee.
   *
   * Output: (d1, d2, jaccard) with d1 < d2, exact Jaccard ≥ t, 6 dp.
   *
   * Scale shape: the df table is one map-side-combined aggregate
   * (shingle-vocab-bounded, ~16 B per distinct shingle hash); the
   * per-doc sort runs inside a doc-sized `sort_array` (no window over
   * the corpus); the only pair-generating exchange carries prefix rows
   * — at t = 0.6 a 100-shingle doc indexes its RAREST 41 shingles, so
   * bucket skew concentrates on selective elements, not boilerplate.
   * Candidates travel as bare id pairs into the shared size-ratio +
   * exact-intersection residual; text never crosses the wire.
   */
  def prefixFilterJaccardJoin(docs: DataFrame, idCol: String,
                              textCol: String, tNum: Int, tDen: Int,
                              shingleWidth: Int = 3): DataFrame = {
    require(tNum >= 1 && tDen >= tNum, "threshold must be in (0, 1]")
    // set elements = distinct word shingles, as 64-bit hashes (the q37
    // convention: set arithmetic on hashes equals set arithmetic on
    // shingles up to a ~10⁻¹⁵ collision); feeds three consumers, so
    // materialize once like lshBackbone does
    val sh = Share.once(shingleHashRows(docs, idCol, textCol, shingleWidth),
      "prefixFilterJaccardJoin.sh")
    val df = sh.groupBy("__sh").agg(count(lit(1)).as("__df"))
    // doc-sized canonical sort: (df asc, element hash asc)
    val ordered = sh.join(df, "__sh")
      .groupBy("__id")
      .agg(sort_array(collect_list(struct(col("__df"), col("__sh"))))
        .as("__ord"))
      .select(col("__id"), col("__ord"), size(col("__ord")).as("__n"))
    // integer prefix length: n − ceil(t·n) + 1, ceil via integer div
    val p = (col("__n") -
      expr(s"(__n * $tNum + ${tDen - 1}) div $tDen") + 1).cast("int")
    val prefix = ordered
      .select(col("__id"), explode(slice(col("__ord"), lit(1), p)).as("__s"))
      .select(col("__id"), col("__s.__sh").as("__sh"))
    val candidates = prefix.alias("a")
      .join(prefix.alias("b"),
        col("a.__sh") === col("b.__sh") && col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("d1"), col("b.__id").as("d2"))
      .distinct()
    val sig = ordered.select(col("__id"), col("__n"))
    exactJaccardResidual(candidates, sh, sig, tNum.toDouble / tDen)
      .withColumn("jaccard", round(col("jaccard"), 6))
  }

  /**
   * Quality-based canonical selection over duplicate clusters — the
   * KEEPER step after clustering: min-id survivorship
   * ([[exactSurvivors]], [[dupClusters]]' convention) is arbitrary;
   * real pipelines keep the highest-QUALITY copy per cluster (the
   * cleanest crawl of a page, the longest of the mirrored docs).
   * Picks per cluster by (score desc, id asc) — one exact argmin via
   * min(struct(−score, id)) over the score's NATIVE numeric type (no
   * cast, so fractional score distinctions survive) and the id's
   * native orderable type (string ids work; no id negation), so ties
   * are total and any engine replays the same keeper. The score must
   * be numeric (checked); a score at its integral type's MinValue is
   * the one unrepresentable negation. NULL-score members are excluded
   * before the pick (struct ordering sorts nulls smallest, so a null
   * score would otherwise win) and do not count toward `n_members`.
   *
   * Output per cluster: `cluster_id`, `n_members`, `keeper_id`,
   * `keeper_score` — members minus the keeper are the drop list.
   *
   * Scale shape: one id-keyed join of the cluster table (16 B/doc)
   * against the score table, one map-side-combined argmax per
   * cluster. Text never appears.
   */
  def qualityCanonical(clusters: DataFrame, idCol: String,
                       clusterCol: String, scored: DataFrame,
                       scoreIdCol: String, scoreCol: String): DataFrame = {
    require(scored.schema(scoreCol).dataType
        .isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"qualityCanonical: score column '$scoreCol' must be numeric")
    // NULL scores are excluded OUTRIGHT: struct ordering sorts a null
    // field smallest, so min(struct(-score, id)) would otherwise crown
    // a null-score member the keeper — a member with no score can
    // never win (nor count toward n_members, which counts SCORED
    // members by contract)
    val sc = scored.select(col(scoreIdCol).as("__sid"),
      col(scoreCol).as("__q"))
      .where(col("__q").isNotNull)
    clusters.select(col(idCol).as("__sid"), col(clusterCol).as("cluster_id"))
      .join(sc, "__sid")
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_members"),
        min(struct((-col("__q")).as("__negq"), col("__sid"))).as("__pick"))
      .select(col("cluster_id"), col("n_members"),
        col("__pick.__sid").as("keeper_id"),
        (-col("__pick.__negq")).as("keeper_score"))
  }

  /**
   * Incremental EXACT set-similarity against a PERSISTED shingle
   * index — the q87 incremental posture for [[prefixFilterJaccardJoin]]:
   * the corpus's distinct shingle-hash rows (`shingleHashRows` output,
   * 16 B/shingle — the same asset class as `fingerprints`) are stored
   * once; each incoming batch joins its prefixes against the index's
   * prefixes and emits every (new, history) pair at Jaccard ≥ t,
   * with no false negatives — the corpus is never re-shingled.
   *
   * The canonical order FREEZES at the index: elements rank by
   * (history df ASC, hash ASC), and shingles the history has never
   * seen take df 0 (rarest — they index first, which only ADDS
   * candidates; the prefix theorem needs one shared TOTAL order, not
   * a current one). Caller contract: new ids are disjoint from
   * history ids (the survivorsAgainstHistory contract).
   *
   * Output: (d1 = new id, d2 = history id, jaccard ≥ t, 6 dp).
   *
   * Scale shape: the history prefix rows are computed from the index
   * once per batch (index-bounded, hash-only); the batch side is
   * batch-sized; the residual intersection joins hash rows only.
   */
  def prefixJaccardAgainstIndex(newDocs: DataFrame, idCol: String,
                                textCol: String, index: DataFrame,
                                tNum: Int, tDen: Int,
                                shingleWidth: Int = 3): DataFrame = {
    require(tNum >= 1 && tDen >= tNum, "threshold must be in (0, 1]")
    val histSh = Share.once(index.select(col("__id"), col("__sh")),
      "prefixJaccardAgainstIndex.histSh")
    val dfH = histSh.groupBy("__sh").agg(count(lit(1)).as("__df"))
    val newSh = Share.once(
      shingleHashRows(newDocs, idCol, textCol, shingleWidth),
      "prefixJaccardAgainstIndex.newSh")

    def prefixOf(sh: DataFrame): DataFrame = {
      val ordered = sh.join(dfH, Seq("__sh"), "left")
        .withColumn("__df", coalesce(col("__df"), lit(0L)))
        .groupBy("__id")
        .agg(sort_array(collect_list(struct(col("__df"), col("__sh"))))
          .as("__ord"))
        .select(col("__id"), col("__ord"), size(col("__ord")).as("__n"))
      val p = (col("__n") -
        expr(s"(__n * $tNum + ${tDen - 1}) div $tDen") + 1).cast("int")
      ordered.select(col("__id"), col("__n"),
        explode(slice(col("__ord"), lit(1), p)).as("__s"))
        .select(col("__id"), col("__n"), col("__s.__sh").as("__sh"))
    }

    val candidates = prefixOf(newSh).alias("a")
      .join(prefixOf(histSh).alias("b"), col("a.__sh") === col("b.__sh"))
      .select(col("a.__id").as("d1"), col("b.__id").as("d2"))
      .distinct()
    val sh = newSh.unionByName(histSh)
    val sig = sh.groupBy("__id").agg(count(lit(1)).as("__n"))
    exactJaccardResidual(candidates, sh, sig, tNum.toDouble / tDen)
      .withColumn("jaccard", round(col("jaccard"), 6))
  }

  /**
   * EXACT containment join — every ordered pair (A, B) with
   * C(A, B) = |A ∩ B| / |A| ≥ t, the ASYMMETRIC threshold Jaccard
   * ([[prefixFilterJaccardJoin]]) and full-subset detection
   * ([[subsetDocPairs]], the t = 1 special case) both miss: "is doc A
   * mostly contained in B" at partial t — quote/excerpt detection,
   * near-subset dedup where the smaller doc should defer to the
   * superset. Same zero-false-negative prefix principle, containment
   * form: if |A ∩ B| ≥ k = ⌈t·n_A⌉ then A's (df asc, hash asc)-first
   * n_A − k + 1 elements must intersect B (pigeonhole over the shared
   * total order is not even needed — ANY k-intersection hits a length
   * n_A − k + 1 prefix of A), so A-side prefixes equi-join against
   * ALL of B's elements, and the exact-intersection residual divides
   * by n_A only. The threshold is a pure-integer rational tNum/tDen
   * (a float ceil that rounds up would break the guarantee).
   *
   * Output: (d1, d2, n1, n_inter, containment ≥ t, 6 dp), d1 ≠ d2,
   * directed (A = d1 contained in B = d2).
   *
   * Scale shape: hash-only shuffles throughout (16 B shingle rows);
   * the probe side ships only prefix elements (the (1−t) fraction);
   * candidate dedup + the intersection join are both bounded by true
   * shared-shingle pairs, not the corpus square. Document text never
   * leaves the initial scan.
   */
  def containmentJoin(docs: DataFrame, idCol: String, textCol: String,
                      tNum: Int, tDen: Int,
                      shingleWidth: Int = 3): DataFrame = {
    require(tNum >= 1 && tDen >= tNum, "threshold must be in (0, 1]")
    val sh = Share.once(shingleHashRows(docs, idCol, textCol, shingleWidth),
      "containmentJoin.sh")
    val dfc = sh.groupBy("__sh").agg(count(lit(1)).as("__df"))
    val ordered = sh.join(dfc, Seq("__sh"))
      .groupBy("__id")
      .agg(sort_array(collect_list(struct(col("__df"), col("__sh"))))
        .as("__ord"))
      .select(col("__id"), col("__ord"), size(col("__ord")).as("__n"))
    val p = (col("__n") -
      expr(s"(__n * $tNum + ${tDen - 1}) div $tDen") + 1).cast("int")
    val prefix = ordered
      .select(col("__id"), col("__n"),
        explode(slice(col("__ord"), lit(1), p)).as("__s"))
      .select(col("__id"), col("__n"), col("__s.__sh").as("__sh"))
    val candidates = prefix.alias("a")
      .join(sh.alias("b"),
        col("a.__sh") === col("b.__sh") && col("a.__id") =!= col("b.__id"))
      .select(col("a.__id").as("d1"), col("a.__n").cast("long").as("n1"),
        col("b.__id").as("d2"))
      .distinct()
    // in-row exact intersection (r16, the exactJaccardResidual shape):
    // doc hash sets ride as one array row each; the codegen'd
    // array_intersect counts |A∩B| without exploding candidates × |A|
    // rows through two joins and a count aggregate. n_inter ≥ ⌈t·n1⌉ ≥ 1
    // keeps zero-intersection pairs out exactly as the inner join did.
    val docArr = sh.groupBy("__id").agg(collect_list(col("__sh")).as("__arr"))
    candidates
      .join(docArr.select(col("__id").as("d1"), col("__arr").as("__a1")),
        Seq("d1"))
      .join(docArr.select(col("__id").as("d2"), col("__arr").as("__a2")),
        Seq("d2"))
      .select(col("d1"), col("d2"), col("n1"),
        size(array_intersect(col("__a1"), col("__a2"))).cast("long")
          .as("n_inter"))
      .where(col("n_inter") * tDen >= col("n1") * tNum)
      .select(col("d1"), col("d2"), col("n1"), col("n_inter"),
        round(col("n_inter").cast("double") / col("n1"), 6)
          .as("containment"))
  }

  /**
   * Incremental EXACT containment against a PERSISTED shingle index —
   * the [[prefixJaccardAgainstIndex]] posture for [[containmentJoin]]:
   * the corpus's distinct shingle-hash rows are stored once; each
   * arriving batch emits every DIRECTED cross-split containment pair
   * at C(A, B) = |A ∩ B| / |A| ≥ t, in BOTH directions (new doc
   * contained in history, history doc contained in new), with no
   * false negatives and without re-shingling the corpus.
   *
   * The containment prefix theorem is ORDER-FREE (any k-intersection
   * hits a length n_A − k + 1 prefix of A under ANY fixed ordering of
   * A's elements), so correctness never depends on a frozen order;
   * ranking prefixes by (history df ASC, hash ASC) — batch shingles
   * the history has never seen take df 0 — just keeps candidate
   * blocks small, exactly the [[prefixJaccardAgainstIndex]]
   * discipline. Caller contract: new ids are disjoint from history
   * ids (the survivorsAgainstHistory contract).
   *
   * Output: (d1, d2, n1, n_inter, containment ≥ t, 6 dp), directed
   * (d1 contained in d2), every pair crossing the split.
   *
   * Scale shape: direction new⊂hist joins batch-sized prefixes
   * against the index; direction hist⊂new joins index-bounded
   * prefixes against the batch's (small) shingle table — both
   * hash-only, both bounded by true shared-shingle pairs. History
   * text is never touched; batch text never leaves its scan.
   */
  def containmentAgainstIndex(newDocs: DataFrame, idCol: String,
                              textCol: String, index: DataFrame,
                              tNum: Int, tDen: Int,
                              shingleWidth: Int = 3): DataFrame = {
    require(tNum >= 1 && tDen >= tNum, "threshold must be in (0, 1]")
    val histSh = Share.once(index.select(col("__id"), col("__sh")),
      "containmentAgainstIndex.histSh")
    val dfH = histSh.groupBy("__sh").agg(count(lit(1)).as("__df"))
    val newSh = Share.once(
      shingleHashRows(newDocs, idCol, textCol, shingleWidth),
      "containmentAgainstIndex.newSh")

    def prefixOf(sh: DataFrame): DataFrame = {
      val ordered = sh.join(dfH, Seq("__sh"), "left")
        .withColumn("__df", coalesce(col("__df"), lit(0L)))
        .groupBy("__id")
        .agg(sort_array(collect_list(struct(col("__df"), col("__sh"))))
          .as("__ord"))
        .select(col("__id"), col("__ord"), size(col("__ord")).as("__n"))
      // containment prefix: n − ⌈t·n⌉ + 1 elements (longer than the
      // Jaccard prefix — the divisor is n_A alone)
      val p = (col("__n") -
        expr(s"(__n * $tNum + ${tDen - 1}) div $tDen") + 1).cast("int")
      ordered.select(col("__id"), col("__n"),
        explode(slice(col("__ord"), lit(1), p)).as("__s"))
        .select(col("__id"), col("__n"), col("__s.__sh").as("__sh"))
    }

    // direction 1: new docs contained in history (A = batch, B = index)
    val newInHist = prefixOf(newSh).alias("a")
      .join(histSh.alias("b"), col("a.__sh") === col("b.__sh"))
      .select(col("a.__id").as("d1"), col("a.__n").cast("long").as("n1"),
        col("b.__id").as("d2"))
    // direction 2: history docs contained in new (A = index, B = batch)
    val histInNew = prefixOf(histSh).alias("a")
      .join(newSh.alias("b"), col("a.__sh") === col("b.__sh"))
      .select(col("a.__id").as("d1"), col("a.__n").cast("long").as("n1"),
        col("b.__id").as("d2"))
    val candidates = newInHist.unionByName(histInNew).distinct()

    val sh = newSh.unionByName(histSh)
    // in-row exact intersection (r16, the containmentJoin shape): see
    // the batch operator — array_intersect over the two docs' hash-set
    // rows replaces the candidates × |A| double-join + count aggregate.
    val docArr = sh.groupBy("__id").agg(collect_list(col("__sh")).as("__arr"))
    candidates
      .join(docArr.select(col("__id").as("d1"), col("__arr").as("__a1")),
        Seq("d1"))
      .join(docArr.select(col("__id").as("d2"), col("__arr").as("__a2")),
        Seq("d2"))
      .select(col("d1"), col("d2"), col("n1"),
        size(array_intersect(col("__a1"), col("__a2"))).cast("long")
          .as("n_inter"))
      .where(col("n_inter") * tDen >= col("n1") * tNum)
      .select(col("d1"), col("d2"), col("n1"), col("n_inter"),
        round(col("n_inter").cast("double") / col("n1"), 6)
          .as("containment"))
  }

  /**
   * STREAM-SERVING twin of [[containmentAgainstIndex]] — the
   * `bigramNllAgainst` stream-static posture applied to incremental
   * near-dup: the persisted shingle index ([[shingleHashRows]] output)
   * folds to TWO one-row broadcasts (shingle → sorted posting list of
   * history ids; history id → shingle count), each ARRIVING document
   * shingles and scores fully IN-ROW (the same `xxhash64(t₀..tₖ)`
   * values the index holds), and every directed containment pair
   * ≥ tNum/tDen is emitted in BOTH directions. No stream-side
   * aggregation, no shuffle, no per-key state — the plan is map +
   * explode over two broadcast model rows, so it runs unchanged in
   * append mode on an unbounded stream, scoring each micro-batch
   * against the index without ever re-shingling history.
   *
   * Result-identical to [[containmentAgainstIndex]] on the same
   * inputs (the batch prefix filter is exact, so both compute "all
   * cross pairs at threshold"); gated against the same oracle.
   *
   * The broadcast maps bound this to indexes that fit an executor —
   * past that, use the batch join form (the `bigramNllAgainst`
   * caveat verbatim). Per-doc candidate counting is a fold over the
   * doc's own posting lists: serving cost scales with how duplicated
   * the arriving doc actually is, not with the corpus.
   *
   * Output: (`d1`, `d2`, `n1`, `n_inter`, `containment`) — d1 ⊆ d2
   * directed pairs, n1 = |shingles(d1)|.
   */
  def containmentAgainstIndexInRow(newDocs: DataFrame, idCol: String,
                                   textCol: String, index: DataFrame,
                                   tNum: Int, tDen: Int,
                                   shingleWidth: Int = 3): DataFrame = {
    require(tNum >= 1 && tDen >= tNum, "threshold must be in (0, 1]")
    require(shingleWidth >= 1, "shingle width must be >= 1")
    val sizes = index.groupBy("__id").agg(count(lit(1)).as("__n"))
      .agg(map_from_entries(collect_list(struct(col("__id"), col("__n"))))
        .as("__sizes"))
    val postings = index.groupBy("__sh")
      .agg(sort_array(collect_list(col("__id"))).as("__pl"))
      .agg(map_from_entries(collect_list(struct(col("__sh"), col("__pl"))))
        .as("__post"))

    // in-row distinct shingle hashes: the same windows and the same
    // multi-arg xxhash64 recurrence shingleHashRows computes
    val w = split(normText(col(textCol)), " ")
    val windows = transform(
      sequence(lit(0), size(w) - shingleWidth),
      i => xxhash64((0 until shingleWidth)
        .map(k => element_at(w, i + k + 1)): _*))
    val shings = array_distinct(
      when(size(w) >= shingleWidth, windows)
        .otherwise(array().cast("array<bigint>")))

    // candidate history ids with multiplicity = |A ∩ B|: flatten the
    // doc's own posting lists, then count per distinct id in-row
    val scored = newDocs
      .select(col(idCol).as("__nid"), shings.as("__shs"))
      .crossJoin(broadcast(postings))
      .crossJoin(broadcast(sizes))
      .withColumn("__na", size(col("__shs")).cast("long"))
      .withColumn("__ids", flatten(transform(col("__shs"),
        s => coalesce(element_at(col("__post"), s),
          array().cast("array<bigint>")))))
      .select(col("__nid"), col("__na"),
        explode(transform(array_distinct(col("__ids")), d => struct(
          d.as("hid"),
          size(filter(col("__ids"), x => x === d)).cast("long").as("ni"),
          element_at(col("__sizes"), d).as("nb")))).as("__v"))
    val newInHist = scored
      .filter(col("__v.ni") * tDen >= col("__na") * tNum)
      .select(col("__nid").as("d1"), col("__v.hid").as("d2"),
        col("__na").as("n1"), col("__v.ni").as("n_inter"))
    val histInNew = scored
      .filter(col("__v.ni") * tDen >= col("__v.nb") * tNum)
      .select(col("__v.hid").as("d1"), col("__nid").as("d2"),
        col("__v.nb").as("n1"), col("__v.ni").as("n_inter"))
    newInHist.unionByName(histInNew)
      .select(col("d1"), col("d2"), col("n1"), col("n_inter"),
        round(col("n_inter").cast("double") / col("n1"), 6)
          .as("containment"))
  }
}
