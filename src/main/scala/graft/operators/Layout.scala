package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Share

/**
 * Data-layout engineering for multi-dimensional file skipping: at
 * 100 TB the dominant cost of a selective query is which files its
 * min/max footer stats let the scan SKIP, and that is a property of
 * the write-time row order. Z-ordering (bit-interleaving the
 * dimensions' bucket ranks) keeps EVERY interleaved dimension's
 * values locally clustered, where a lexicographic sort clusters only
 * its leading column and smears the rest across the whole range —
 * the difference between pruning 15/16 files on either predicate and
 * pruning on one predicate only. The reference has no layout surface
 * (its sink appends in arrival order); this extends the engine along
 * the training-data-at-scale axis the builder's brief adds.
 *
 * Everything here is exact integer arithmetic so an external engine
 * replays the audit bit-for-bit.
 */
object Layout {

  /**
   * Interleave the low `bits` bits of two non-negative integer
   * columns into one Morton (z-curve) key: x's bit i lands at output
   * bit 2i, y's at 2i+1. Pure shift/mask/add column program — one
   * codegen'd expression, no UDF.
   */
  def interleaveBits(x: Column, y: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, "bits must be in [1, 31]")
    (0 until bits).map { i =>
      shiftright(x, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i)) +
        shiftright(y, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i + 1))
    }.reduce(_ + _)
  }

  /**
   * Layout audit — "would min/max file skipping work on BOTH
   * dimensions?": buckets the table into `files` equal-row z-ordered
   * files and `files` equal-row lexicographically-ordered files, and
   * reports each file's per-dimension value span as ppm of the global
   * span. A selective predicate on a dimension skips a file iff the
   * file's span excludes the predicate's range — so mean span ppm ≈
   * the fraction of files a point query must READ. Under z-order both
   * dims sit near files^(-1/2); under lex order the leading dim is
   * near 1/files and the trailing dim near 10⁶ (no skipping at all).
   *
   * File boundaries are the exact type-7 quantiles of the layout key
   * (the [[Eval.decileLift]] cut program), so both engines assign
   * identical files. Output: (`layout` ∈ {zorder, lex}, `file` 1-based,
   * `n`, `x_span_ppm`, `y_span_ppm`).
   *
   * Scale shape: one 1-row stats broadcast, then per layout one
   * exact-quantile program over the integer key + one map-side-
   * combined per-file aggregation — the audit never sorts the data;
   * it measures what the sort WOULD yield. Writing the layout itself
   * is `df.repartitionByRange(files, zkey)` + sortWithinPartitions.
   */
  def layoutAudit(df: DataFrame, xCol: String, yCol: String,
                  bits: Int = 16, files: Int = 16): DataFrame = {
    require(files >= 2, "files must be >= 2")
    val base = Share.once(df.select(col(xCol).cast("long").as("__x"),
        col(yCol).cast("long").as("__y"))
      .where(col("__x").isNotNull && col("__y").isNotNull), "layoutAudit.base")
    val stats = base.agg(min("__x").as("__xmin"), max("__x").as("__xmax"),
      min("__y").as("__ymin"), max("__y").as("__ymax"))
    // min/max-normalized integer grid ranks: (v − min)·2^bits div
    // (max − min + 1) — the `div` operator keeps this pure BIGINT (a
    // double division + floor misbuckets once span·rank crosses 2^53)
    val keyed = Share.once(base.crossJoin(broadcast(stats))
      .withColumn("__bx",
        expr(s"((__x - __xmin) * ${1L << bits}) div (__xmax - __xmin + 1)"))
      .withColumn("__by",
        expr(s"((__y - __ymin) * ${1L << bits}) div (__ymax - __ymin + 1)"))
      .withColumn("__zkey", interleaveBits(col("__bx"), col("__by"), bits))
      .withColumn("__lkey",
        col("__bx") * lit(1L << bits) + col("__by")), "layoutAudit.keyed")

    def audit(name: String, keyCol: String): DataFrame = {
      val cuts = Relational.exactQuantiles(keyed, Nil, keyCol,
        (1 until files).map(i => s"__c$i" -> i.toDouble / files))
      val fileId = (1 until files).map(i =>
        when(col(keyCol).cast("double") > col(s"__c$i"), 1)
          .otherwise(0)).reduce(_ + _) + 1
      keyed.crossJoin(broadcast(cuts))
        .withColumn("file", fileId)
        .groupBy("file")
        .agg(count(lit(1)).as("n"),
          min("__x").as("__fxmin"), max("__x").as("__fxmax"),
          min("__y").as("__fymin"), max("__y").as("__fymax"))
        .crossJoin(broadcast(stats))
        .select(lit(name).as("layout"), col("file"), col("n"),
          when(col("__xmax") > col("__xmin"),
            expr("(__fxmax - __fxmin) * 1000000 div (__xmax - __xmin)"))
            .otherwise(0L).as("x_span_ppm"),
          when(col("__ymax") > col("__ymin"),
            expr("(__fymax - __fymin) * 1000000 div (__ymax - __ymin)"))
            .otherwise(0L).as("y_span_ppm"))
    }

    audit("zorder", "__zkey").unionByName(audit("lex", "__lkey"))
  }

  /**
   * Append a Hilbert-curve key over two bucketed non-negative integer
   * columns (each in [0, 2^bits)): the classic bit-level walk — per
   * level s = 2^(bits−1)..1, quadrant digit (3·rx) XOR ry scales by
   * s², then the frame reflects/transposes for the next level. The
   * Hilbert curve never jumps (consecutive keys are always grid
   * neighbors), so file spans cluster strictly tighter than Morton's
   * quadrant seams — the layout the Delta/Iceberg clustering papers
   * reach for when both dimensions carry selective predicates.
   *
   * Each level lands as ONE chained projection (named columns, not
   * nested expressions — the naive fold doubles the expression tree
   * per level and detonates codegen at 4^bits nodes). Pure integer
   * shift/mask/branch arithmetic: an external engine replays the key
   * bit-for-bit with `bits` chained CTEs.
   */
  def hilbertAppend(df: DataFrame, xCol: String, yCol: String,
                    bits: Int, outCol: String): DataFrame = {
    require(bits >= 1 && bits <= 31, "bits must be in [1, 31]")
    val start = df.withColumn("__hx", col(xCol).cast("long"))
      .withColumn("__hy", col(yCol).cast("long"))
      .withColumn("__hd", lit(0L))
    val walked = (bits - 1 to 0 by -1).foldLeft(start) { (acc, i) =>
      val s = 1L << i
      val rx = when(col("__hx").bitwiseAND(lit(s)) > 0L, 1L).otherwise(0L)
      val ry = when(col("__hy").bitwiseAND(lit(s)) > 0L, 1L).otherwise(0L)
      acc.withColumn("__hd",
          col("__hd") + lit(s) * lit(s) *
            (lit(3L) * rx).bitwiseXOR(ry))
        .withColumn("__nx",
          when(ry === 0L,
            when(rx === 1L, lit(s - 1) - col("__hy")).otherwise(col("__hy")))
            .otherwise(col("__hx")))
        .withColumn("__ny",
          when(ry === 0L,
            when(rx === 1L, lit(s - 1) - col("__hx")).otherwise(col("__hx")))
            .otherwise(col("__hy")))
        .withColumn("__hx", col("__nx")).withColumn("__hy", col("__ny"))
        .drop("__nx", "__ny")
    }
    walked.withColumn(outCol, col("__hd")).drop("__hx", "__hy", "__hd")
  }

  /**
   * [[layoutAudit]] for the Hilbert key vs the Morton key: same
   * bucketing, same exact-quantile file cuts, same per-file span ppm
   * — so the two curves' locality reads off one table. Output:
   * (`layout` ∈ {hilbert, zorder}, `file`, `n`, `x_span_ppm`,
   * `y_span_ppm`).
   *
   * Scale shape: identical to [[layoutAudit]] — the audit never
   * sorts the data. Writing the layout is
   * `repartitionByRange(files, hkey)` + sortWithinPartitions.
   */
  def hilbertAudit(df: DataFrame, xCol: String, yCol: String,
                   bits: Int = 16, files: Int = 16): DataFrame = {
    require(files >= 2, "files must be >= 2")
    val base = Share.once(df.select(col(xCol).cast("long").as("__x"),
        col(yCol).cast("long").as("__y"))
      .where(col("__x").isNotNull && col("__y").isNotNull), "hilbertAudit.base")
    val stats = base.agg(min("__x").as("__xmin"), max("__x").as("__xmax"),
      min("__y").as("__ymin"), max("__y").as("__ymax"))
    val bucketed = base.crossJoin(broadcast(stats))
      .withColumn("__bx",
        expr(s"((__x - __xmin) * ${1L << bits}) div (__xmax - __xmin + 1)"))
      .withColumn("__by",
        expr(s"((__y - __ymin) * ${1L << bits}) div (__ymax - __ymin + 1)"))
      .withColumn("__zkey", interleaveBits(col("__bx"), col("__by"), bits))
    val keyed = Share.once(
      hilbertAppend(bucketed, "__bx", "__by", bits, "__hkey"),
      "hilbertAudit.keyed")

    def audit(name: String, keyCol: String): DataFrame = {
      val cuts = Relational.exactQuantiles(keyed, Nil, keyCol,
        (1 until files).map(i => s"__c$i" -> i.toDouble / files))
      val fileId = (1 until files).map(i =>
        when(col(keyCol).cast("double") > col(s"__c$i"), 1)
          .otherwise(0)).reduce(_ + _) + 1
      keyed.crossJoin(broadcast(cuts))
        .withColumn("file", fileId)
        .groupBy("file")
        .agg(count(lit(1)).as("n"),
          min("__x").as("__fxmin"), max("__x").as("__fxmax"),
          min("__y").as("__fymin"), max("__y").as("__fymax"))
        .crossJoin(broadcast(stats))
        .select(lit(name).as("layout"), col("file"), col("n"),
          when(col("__xmax") > col("__xmin"),
            expr("(__fxmax - __fxmin) * 1000000 div (__xmax - __xmin)"))
            .otherwise(0L).as("x_span_ppm"),
          when(col("__ymax") > col("__ymin"),
            expr("(__fymax - __fymin) * 1000000 div (__ymax - __ymin)"))
            .otherwise(0L).as("y_span_ppm"))
    }

    audit("hilbert", "__hkey").unionByName(audit("zorder", "__zkey"))
  }
}
