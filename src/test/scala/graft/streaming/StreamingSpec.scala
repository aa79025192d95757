package graft.streaming

import java.nio.file.Files
import java.time.LocalDateTime

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

import graft.{Queries, SparkTestBase}
import graft.core.{Share, Tables}
import graft.operators.{Dedup, Similarity}

/** The sf0.001 events row as a typed streaming record (ts is NTZ →
  * LocalDateTime). */
case class Ev(event_id: Long, ts: LocalDateTime, user_id: Long,
              event_type: String, value: Double)

/** A documents row arriving on a stream (arrival time attached). */
case class Doc(doc_id: Long, text: String, lang: String, ts: Long)

/** An embeddings row arriving on a stream. */
case class EmbRow(vec_id: Long, e: Seq[Double])

/**
 * The streaming t1 smoke the SURVEY §2.11 footnote demands: MemoryStream
 * variants of Q22 (watermark + tumbling window) and Q24 (latest state via
 * mapGroupsWithState), each with a checkpoint, asserted equal to the
 * batch results over the same sf0.001 rows.
 */
class StreamingSpec extends SparkTestBase with Matchers {

  private def ckpt(): String =
    Files.createTempDirectory("graft-ckpt").toString

  /** Total-order key for NTZ timestamps (LocalDateTime lacks an implicit
    * Scala Ordering). */
  private def tsKey(t: LocalDateTime): (Long, Int) =
    (t.toEpochSecond(java.time.ZoneOffset.UTC), t.getNano)

  private def eventRows: Array[Ev] = {
    val ss = spark
    import ss.implicits._
    Tables.events(spark, sf0001)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[Ev].collect().sortBy(e => (tsKey(e.ts), e.event_id))
  }

  test("streaming tumblingAgg (complete mode, 2 micro-batches) equals batch q22") {
    val ss = spark
    import ss.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val rows = eventRows
    val input = MemoryStream[Ev]
    val query = StreamingOps.tumblingAgg(input.toDF(), "ts", "1 hour",
        "10 minutes", Seq("event_type"), "value")
      .writeStream.format("memory").queryName("t22_complete")
      .outputMode("complete")
      .option("checkpointLocation", ckpt())
      .start()
    try {
      input.addData(rows.take(rows.length / 2))
      query.processAllAvailable()
      input.addData(rows.drop(rows.length / 2))
      query.processAllAvailable()
    } finally query.stop()

    val got = spark.table("t22_complete")
      .orderBy("wstart", "event_type")
      .collect().map(r => (r.getAs[LocalDateTime]("wstart"), r.getString(1), r.getLong(2), r.getDouble(3)))
    val want = Queries.q22(spark, sf0001)
      .collect().map(r => (r.getAs[LocalDateTime]("wstart"), r.getString(1), r.getLong(2), r.getDouble(3)))
    got should contain theSameElementsInOrderAs want
    got.length should be > 0
  }

  test("streaming slidingAgg (complete mode, 2 micro-batches) equals batch q53") {
    val ss = spark
    import ss.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val rows = eventRows
    val input = MemoryStream[Ev]
    val query = StreamingOps.slidingAgg(input.toDF(), "ts", "1 hour",
        "30 minutes", "10 minutes", Seq("event_type"), "value")
      .writeStream.format("memory").queryName("t53_complete")
      .outputMode("complete")
      .option("checkpointLocation", ckpt())
      .start()
    try {
      input.addData(rows.take(rows.length / 2))
      query.processAllAvailable()
      input.addData(rows.drop(rows.length / 2))
      query.processAllAvailable()
    } finally query.stop()

    val got = spark.table("t53_complete")
      .orderBy("wstart", "event_type")
      .collect().map(r => (r.getAs[LocalDateTime]("wstart"), r.getString(1), r.getLong(2), r.getDouble(3)))
    val want = Queries.q53(spark, sf0001)
      .collect().map(r => (r.getAs[LocalDateTime]("wstart"), r.getString(1), r.getLong(2), r.getDouble(3)))
    got should contain theSameElementsInOrderAs want
    got.length should be > 0
  }

  test("dedupStream drops replayed keys across micro-batches, keeps first arrival") {
    val ss = spark
    import ss.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val rows = eventRows
    // simulate at-least-once delivery: batch 2 replays half of batch 1
    // plus genuinely new rows
    val b1 = rows.take(40)
    val b2 = rows.slice(20, 80) // 20 replays + 40 new
    val input = MemoryStream[Ev]
    // delay wider than the fixture's whole time span: no state expiry in
    // play, so every replay is inside its original's dedup horizon
    val query = StreamingOps.dedupStream(input.toDF(), "ts", "30 days",
        Seq("event_id"))
      .writeStream.format("memory").queryName("t_dedup")
      .outputMode("append")
      .option("checkpointLocation", ckpt())
      .start()
    try {
      input.addData(b1)
      query.processAllAvailable()
      input.addData(b2)
      query.processAllAvailable()
    } finally query.stop()

    val got = spark.table("t_dedup")
      .select("event_id").collect().map(_.getLong(0)).sorted
    // exactly-once output: each of the 80 distinct ids exactly once
    got shouldBe rows.take(80).map(_.event_id).sorted
  }

  test("streaming tumblingAgg (append mode) emits exactly the watermark-finalized windows") {
    val ss = spark
    import ss.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val rows = eventRows
    val input = MemoryStream[Ev]
    val query = StreamingOps.tumblingAgg(input.toDF(), "ts", "1 hour",
        "10 minutes", Seq("event_type"), "value")
      .writeStream.format("memory").queryName("t22_append")
      .outputMode("append")
      .option("checkpointLocation", ckpt())
      .start()
    try {
      input.addData(rows.take(rows.length / 2))
      query.processAllAvailable()
      input.addData(rows.drop(rows.length / 2))
      query.processAllAvailable()
    } finally query.stop()

    // Final watermark: max event time − 10 min delay. Append mode emits a
    // window once window.end <= watermark — i.e. everything except the
    // still-open tail windows.
    val maxTs = rows.map(_.ts).maxBy(tsKey)
    val wm = maxTs.minusMinutes(10)
    val want = Queries.q22(spark, sf0001)
      .collect()
      .map(r => (r.getAs[LocalDateTime]("wstart"), r.getString(1), r.getLong(2), r.getDouble(3)))
      .filter { case (wstart, _, _, _) => !wstart.plusHours(1).isAfter(wm) }
    val got = spark.table("t22_append")
      .orderBy("wstart", "event_type")
      .collect().map(r => (r.getAs[LocalDateTime]("wstart"), r.getString(1), r.getLong(2), r.getDouble(3)))
    got should contain theSameElementsInOrderAs want
    got.length should be > 0
    // the open tail windows were genuinely held back
    got.length should be < Queries.q22(spark, sf0001).count().toInt
  }

  test("dedupStream under the RocksDB state store matches the default-store result") {
    // The 100 TB state posture: HDFS-backed in-memory state caps at the
    // executor heap; RocksDB spills keyed state to local disk. Same
    // query, same semantics — only the provider changes.
    val ss = spark
    import ss.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val rows = eventRows
      val b1 = rows.take(40)
      val b2 = rows.slice(20, 80)
      val input = MemoryStream[Ev]
      val query = StreamingOps.dedupStream(input.toDF(), "ts", "30 days",
          Seq("event_id"))
        .writeStream.format("memory").queryName("t_dedup_rocks")
        .outputMode("append")
        .option("checkpointLocation", ckpt())
        .start()
      try {
        input.addData(b1)
        query.processAllAvailable()
        input.addData(b2)
        query.processAllAvailable()
      } finally query.stop()

      val got = spark.table("t_dedup_rocks")
        .select("event_id").collect().map(_.getLong(0)).sorted
      got shouldBe rows.take(80).map(_.event_id).sorted
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("latestStateStream (mapGroupsWithState, 3 micro-batches) equals batch q24") {
    val ss = spark
    import ss.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val rows = eventRows
    val input = MemoryStream[Ev]
    val query = StreamingOps.latestStateStream(input.toDS())(_.user_id) {
        (a, b) => (a.ts.compareTo(b.ts), a.event_id.compareTo(b.event_id)) match {
          case (c, _) if c != 0 => c > 0
          case (_, c) => c > 0
        }
      }
      .writeStream.format("memory").queryName("t24_update")
      .outputMode("update")
      .option("checkpointLocation", ckpt())
      .start()
    try {
      val third = rows.length / 3
      input.addData(rows.take(third))
      query.processAllAvailable()
      input.addData(rows.slice(third, 2 * third))
      query.processAllAvailable()
      input.addData(rows.drop(2 * third))
      query.processAllAvailable()
    } finally query.stop()

    // One emission per touched key per micro-batch; the per-key emission
    // that ranks newest IS the final state.
    val finalState = spark.table("t24_update").as[Ev].collect()
      .groupBy(_.user_id)
      .map { case (_, es) => es.maxBy(e => (tsKey(e.ts), e.event_id)) }
      .toSeq.sortBy(_.user_id)
    val want = Queries.q24(spark, sf0001)
      .select("user_id", "event_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    finalState.map(e => (e.user_id, e.event_id)) should contain theSameElementsInOrderAs want
    finalState.length should be > 0
  }

  test("streaming sessionAgg (append mode) emits exactly the watermark-closed sessions of batch q23") {
    val ss = spark
    import ss.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val rows = eventRows
    val input = MemoryStream[Ev]
    val query = StreamingOps.sessionAgg(input.toDF(), "ts", "30 minutes",
        "10 minutes", Seq("user_id"))
      .writeStream.format("memory").queryName("t23_append")
      .outputMode("append")
      .option("checkpointLocation", ckpt())
      .start()
    try {
      input.addData(rows.take(rows.length / 2))
      query.processAllAvailable()
      input.addData(rows.drop(rows.length / 2))
      query.processAllAvailable()
    } finally query.stop()

    val wm = rows.map(_.ts).maxBy(tsKey).minusMinutes(10)
    // batch twin with session end, restricted to watermark-closed sessions
    val batch = StreamingOps.sessionAgg(
        graft.core.Tables.events(spark, sf0001), "ts", "30 minutes",
        "10 minutes", Seq("user_id"))
      .collect()
      .map(r => (r.getLong(0), r.getAs[LocalDateTime](1), r.getAs[LocalDateTime](2), r.getLong(3)))
      .filter { case (_, _, end, _) => end.isBefore(wm) }
      .sortBy { case (u, s, _, _) => (u, tsKey(s)) }
    val got = spark.table("t23_append")
      .orderBy("user_id", "session_start")
      .collect()
      .map(r => (r.getLong(0), r.getAs[LocalDateTime](1), r.getAs[LocalDateTime](2), r.getLong(3)))
    got should contain theSameElementsInOrderAs batch
    got.length should be > 0
  }

  test("scd2Stream (flatMapGroupsWithState, 3 micro-batches) closed versions equal batch scd2") {
    val ss = spark
    import ss.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val rows = eventRows // globally (ts, event_id)-sorted ⇒ per-key in order
    // composite change-order: millis ⧺ event_id (unique, matches the batch
    // operator's tieBreak = event_id); event_id must fit the low 20 bits
    all(rows.map(_.event_id)) should be < (1L << 20)
    def millis(t: LocalDateTime): Long =
      t.toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    def ordKey(e: Ev): Long = (millis(e.ts) << 20) | e.event_id

    val input = MemoryStream[Ev]
    val query = StreamingOps.scd2Stream(input.toDS())(_.user_id)(ordKey)
      .writeStream.format("memory").queryName("t86_scd2")
      .outputMode("append")
      .option("checkpointLocation", ckpt())
      .start()
    try {
      val third = rows.length / 3
      input.addData(rows.take(third))
      query.processAllAvailable()
      input.addData(rows.slice(third, 2 * third))
      query.processAllAvailable()
      input.addData(rows.drop(2 * third))
      query.processAllAvailable()
    } finally query.stop()

    // stream: (closed version, successor's order) → (event_id, valid_to ms)
    val got = spark.table("t86_scd2").as[(Ev, Long)].collect()
      .map { case (e, toOrd) => (e.event_id, toOrd >>> 20) }
      .sortBy(_._1)
    // batch twin: every non-current version, valid_to = successor's ts
    val want = graft.operators.Relational.scd2(
        Tables.events(spark, sf0001)
          .select("event_id", "ts", "user_id", "event_type", "value"),
        keys = Seq("user_id"), tsCol = "ts", tieBreak = Seq("event_id"))
      .filter(col("valid_to").isNotNull)
      .select("event_id", "valid_to")
      .collect()
      .map(r => (r.getLong(0), millis(r.getAs[LocalDateTime](1))))
      .sortBy(_._1)
    got should contain theSameElementsInOrderAs want
    got.length should be > 0
    // exactly one open (unemitted, in-state) version per key
    rows.length - got.length shouldBe rows.map(_.user_id).distinct.length
  }

  test("dedupAgainstHistoryStream drops history texts and in-stream replays; matches batch survivors") {
    val ss = spark
    import ss.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val all = Tables.documents(spark, sf0001)
    val hist = all.filter(col("doc_id") % 31 === 0)
    val batch = all.filter(col("doc_id") % 31 =!= 0)
    val fps = Dedup.fingerprints(hist, "text")

    // id-ordered delivery: first arrival == min id == the batch canonical.
    // sf0.001 texts are all-distinct and disjoint from history, so inject
    // both drop classes: re-texted arrivals (in-stream dups) and arrivals
    // whose text already sits in history.
    val base = batch.select("doc_id", "text", "lang").collect()
      .map(r => Doc(r.getLong(0), r.getString(1), r.getString(2),
        1700000000000L))
      .sortBy(_.doc_id)
    val histTexts = hist.select("text", "lang").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val rows = (base ++
      base.take(5).zipWithIndex.map { case (d, i) =>
        d.copy(doc_id = 1000000L + i) } ++
      histTexts.take(5).zipWithIndex.map { case ((t, l), i) =>
        Doc(2000000L + i, t, l, 1700000000000L) })
      .sortBy(_.doc_id)
    val input = MemoryStream[Doc]
    val query = StreamingOps.dedupAgainstHistoryStream(input.toDF(), "text",
        fps, "ts", "30 days")
      .writeStream.format("memory").queryName("t_hist_dedup")
      .outputMode("append")
      .option("checkpointLocation", ckpt())
      .start()
    try {
      val half = rows.length / 2
      input.addData(rows.take(half))
      query.processAllAvailable()
      // batch 2 replays a slice of batch 1 plus the remainder
      input.addData(rows.slice(half / 2, rows.length))
      query.processAllAvailable()
    } finally query.stop()

    val got = spark.table("t_hist_dedup")
      .select("doc_id").as[Long].collect().sorted
    val want = Dedup.survivorsAgainstHistory(
        rows.toSeq.toDF().select("doc_id", "text", "lang"),
        "doc_id", "text", fps)
      .as[Long].collect().sorted
    got should contain theSameElementsInOrderAs want
    got.length should be > 0
    got.length should be < rows.length // history hits + dups really dropped
  }

  test("crossNearDupStream equals batch crossNearDupPairs across micro-batches") {
    val ss = spark
    import ss.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val all = Tables.documents(spark, sf0001)
    // eval side guaranteed to have near-dup partners on the train side
    val evalIds = Dedup.nearDupPairs(all, "doc_id", "text", threshold = 0.8)
      .select("d1").distinct().as[Long].collect().sorted.take(3).toSet
    val evalDocs = all.filter(col("doc_id").isInCollection(evalIds))
    val trainRows = all.filter(!col("doc_id").isInCollection(evalIds))
      .select("doc_id", "text", "lang").collect()
      .map(r => Doc(r.getLong(0), r.getString(1), r.getString(2),
        1700000000000L))
      .sortBy(_.doc_id)

    val input = MemoryStream[Doc]
    val query = StreamingOps.crossNearDupStream(input.toDF(), "doc_id", "text",
        evalDocs, "doc_id", "text", threshold = 0.8)
      .writeStream.format("memory").queryName("t_cross_neardup")
      .outputMode("append")
      .option("checkpointLocation", ckpt())
      .start()
    try {
      val half = trainRows.length / 2
      input.addData(trainRows.take(half))
      query.processAllAvailable()
      input.addData(trainRows.drop(half))
      query.processAllAvailable()
    } finally query.stop()

    // stream emits (train, eval, jaccard); batch emits (eval, train, j)
    val got = spark.table("t_cross_neardup")
      .collect().map(r => (r.getLong(1), r.getLong(0), r.getDouble(2))).sorted
    val want = Dedup.crossNearDupPairs(all, "doc_id", "text",
        id => id.isInCollection(evalIds), threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
    got should contain theSameElementsInOrderAs want
    got.length should be > 0
  }

  test("crossEmbeddingNearDupStream equals batch crossEmbeddingNearDupPairs") {
    val ss = spark
    import ss.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val planes = Similarity.hyperplanes(planes = 8, dim = 64, seed = 42L)
    val all = Tables.embeddings(spark, sf0001)
      .withColumn("e", col("embedding").cast("array<double>"))
      .select("vec_id", "e")
    val evalIds = Dedup.embeddingNearDupPairs(all, "vec_id", "e",
        planes, codeRadius = 2, threshold = 0.3)
      .select("d1").distinct().as[Long].collect().sorted.take(3).toSet
    val evalEmb = all.filter(col("vec_id").isInCollection(evalIds))
    val trainRows = all.filter(!col("vec_id").isInCollection(evalIds))
      .collect().map(r => EmbRow(r.getLong(0), r.getSeq[Double](1)))
      .sortBy(_.vec_id)

    val input = MemoryStream[EmbRow]
    val query = StreamingOps.crossEmbeddingNearDupStream(input.toDF(),
        "vec_id", "e", evalEmb, "vec_id", "e",
        planes, codeRadius = 2, threshold = 0.3)
      .writeStream.format("memory").queryName("t_cross_emb")
      .outputMode("append")
      .option("checkpointLocation", ckpt())
      .start()
    try {
      val half = trainRows.length / 2
      input.addData(trainRows.take(half))
      query.processAllAvailable()
      input.addData(trainRows.drop(half))
      query.processAllAvailable()
    } finally query.stop()

    // stream emits (train, eval, cosine); batch emits (eval, train, c)
    val got = spark.table("t_cross_emb")
      .collect().map(r => (r.getLong(1), r.getLong(0), r.getDouble(2))).sorted
    val want = Dedup.crossEmbeddingNearDupPairs(all, "vec_id", "e",
        planes, codeRadius = 2, threshold = 0.3,
        isLeftId = id => id.isInCollection(evalIds))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
    got should contain theSameElementsInOrderAs want
    got.length should be > 0
  }

  test("scd2Stream fails loudly on an out-of-order change across micro-batches") {
    val ss = spark
    import ss.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val t0 = LocalDateTime.of(2024, 1, 1, 0, 0)
    def millisOf(t: LocalDateTime): Long =
      t.toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    val input = MemoryStream[Ev]
    val query = StreamingOps.scd2Stream(input.toDS())(_.user_id)(
        e => millisOf(e.ts))
      .writeStream.format("memory").queryName("t86_ooo")
      .outputMode("append")
      .option("checkpointLocation", ckpt())
      .start()
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      try {
        input.addData(Ev(1L, t0.plusHours(2), 7L, "signup", 1.0))
        query.processAllAvailable()
        // older than the key's open version: negative interval — must fail,
        // not silently emit
        input.addData(Ev(2L, t0.plusHours(1), 7L, "purchase", 2.0))
        query.processAllAvailable()
      } finally query.stop()
    }
    val chain = Iterator.iterate(ex: Throwable)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse(""))
      .mkString("\n")
    chain should include("out-of-order")
  }

  test("driftMonitorStream closed windows equal batch sliceDivergence row for row") {
    val ss = spark
    import ss.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val W = 60000L
    val base = java.time.Instant.parse("2024-01-01T10:00:00Z").toEpochMilli
    val texts = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "text", "lang").orderBy("doc_id").limit(40)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    // two full windows of 20 docs each + one far-future flush doc that
    // advances the watermark past both window ends (its own window
    // stays open and must NOT emit)
    val docs = texts.zipWithIndex.map { case ((id, tx, lg), i) =>
      Doc(id, tx, lg, base + (i / 20) * W + (i % 20) * 1000L)
    }
    val flush = Doc(9999L, "flush doc", "en", base + 30 * W)

    // the static marginal: token counts over EVERYTHING the stream will
    // carry (so sliceDivergence over the same rows sees the identical
    // corpus marginal and the batch report must match row for row)
    val all = (docs :+ flush).toSeq.toDF()
    val marginal = all
      .select(explode(filter(split(lower(trim(col("text"))), " "), t => t =!= ""))
        .as("t"))
      .groupBy("t").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

    val input = MemoryStream[Doc]
    val query = StreamingOps.driftMonitorStream(
        input.toDF().withColumn("tsx", timestamp_millis(col("ts"))),
        "tsx", "text", marginal, W, "0 seconds")
      .writeStream.format("memory").queryName("t_drift")
      .outputMode("append")
      .option("checkpointLocation", ckpt())
      .start()
    try {
      val (w1, w2) = docs.splitAt(20)
      input.addData(w1.toSeq: _*)
      query.processAllAvailable()
      input.addData(w2.toSeq: _*)
      query.processAllAvailable()
      input.addData(flush)
      query.processAllAvailable()
      // timeouts fire on the batch AFTER the watermark advances
      input.addData(Doc(10000L, "flush again", "en", base + 31 * W))
      query.processAllAvailable()
    } finally query.stop()

    val got = spark.table("t_drift")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).sortBy(_._1)

    val want = graft.operators.CorpusLM.sliceDivergence(
        all.withColumn("w", (col("ts") / W).cast("long") * W), "w", "text")
      .filter(col("w") < base + 2 * W)
      .orderBy("w")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))

    got.length shouldBe 2
    got.map(g => (g._1, g._2, g._3, g._5)) shouldBe want
    got.map(_._4) shouldBe Array(0L, 0L) // every stream token is in the marginal
  }

  test("driftMonitorStream counts out-of-marginal tokens as oov and excludes them from KL") {
    val ss = spark
    import ss.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val W = 60000L
    val input = MemoryStream[Doc]
    val query = StreamingOps.driftMonitorStream(
        input.toDF().withColumn("tsx", timestamp_millis(col("ts"))),
        "tsx", "text", Map("a" -> 2L, "b" -> 2L), W, "0 seconds")
      .writeStream.format("memory").queryName("t_drift_oov")
      .outputMode("append")
      .option("checkpointLocation", ckpt())
      .start()
    try {
      // ts strictly above 0: the initial watermark is 0 and a stateful
      // op drops rows at or below it as late
      input.addData(Doc(1L, "a b", "en", 1000L), Doc(2L, "a zz", "en", 2000L))
      query.processAllAvailable()
      input.addData(Doc(3L, "flush", "en", 30 * W))
      query.processAllAvailable()
      input.addData(Doc(4L, "flush again", "en", 31 * W))
      query.processAllAvailable()
    } finally query.stop()

    val got = spark.table("t_drift_oov")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getLong(5)))
    got.length shouldBe 1
    // counts a:2 b:1 zz:1 -> 4 tokens, 2 in-marginal types, 1 oov
    // occurrence (1 distinct oov type); KL over {a,b}:
    // (2/3)·ln(2·4/(2·3)) + (1/3)·ln(1·4/(2·3)) = 0.191788 − 0.135155 → 0.0566
    got.head shouldBe ((0L, 4L, 2L, 1L, 0.0566, 1L))
  }

  test("profileStream's final emissions equal batch activityProfiles across micro-batches") {
    val ss = spark
    import ss.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val rows = eventRows
    val input = MemoryStream[Ev]
    val query = StreamingOps.profileStream(
        input.toDF().withColumn("tsx", col("ts").cast("timestamp")),
        "user_id", "tsx", "value")
      .writeStream.format("memory").queryName("t_prof")
      .outputMode("update")
      .option("checkpointLocation", ckpt())
      .start()
    try {
      val (b1, rest) = rows.splitAt(rows.length / 3)
      val (b2, b3) = rest.splitAt(rest.length / 2)
      Seq(b1, b2, b3).foreach { b =>
        input.addData(b.toSeq: _*); query.processAllAvailable()
      }
    } finally query.stop()

    // latest emission per user = the row with its max cumulative count
    val got = spark.table("t_prof")
      .groupByKey(_.getLong(0))
      .reduceGroups((a, b) => if (a.getLong(2) >= b.getLong(2)) a else b)
      .map(_._2)(org.apache.spark.sql.Encoders.row(spark.table("t_prof").schema))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
      .sortBy(_._1)

    val want = graft.operators.Similarity.activityProfiles(
        rows.toSeq.toDF().withColumn("tsx", col("ts").cast("timestamp")),
        "user_id", "tsx", "value")
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
      .sortBy(_._1)

    got shouldBe want
    got.length should be > 0
  }

  test("dropKnownBoilerplate on a stream equals the batch one-pass operator") {
    val ss = spark
    import ss.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.operators.Web

    val docs = Seq(
      (1L, "a", "HEAD\nbody one\nFOOT"),
      (2L, "a", "HEAD\nbody two\nFOOT"),
      (3L, "a", "HEAD\nbody three\nFOOT"),
      (4L, "b", "HEAD\nother body"))
    val batchDf = docs.toDF("id", "dom", "text")
    // templates learned OFFLINE on the batch corpus; the stream applies
    // them statelessly as pages arrive (stream-static broadcast join)
    val templates = Web.boilerplateTemplates(batchDf, "id", "dom", "text", 3)

    val input = MemoryStream[(Long, String, String)]
    val query = Web.dropKnownBoilerplate(
        input.toDF().toDF("id", "dom", "text"), "dom", "text", templates)
      .select("id", "clean_text", "n_lines", "n_lines_removed")
      .writeStream.format("memory").queryName("t_boiler")
      .outputMode("append")
      .option("checkpointLocation", ckpt())
      .start()
    try {
      val (b1, b2) = docs.splitAt(2)
      Seq(b1, b2).foreach { b => input.addData(b: _*); query.processAllAvailable() }
    } finally query.stop()

    val got = spark.table("t_boiler")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    val want = Web.dropBoilerplateLines(batchDf, "id", "dom", "text", 3)
      .select("id", "clean_text", "n_lines", "n_lines_removed")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    got shouldBe want
    got.length shouldBe 4
  }

  test("hllStream: last emission per key equals the batch " +
    "hllSketch -> hllEstimate bit for bit, state carries across batches") {
    val ss = spark
    import ss.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // 2 keys × overlapping ids (dups must not bump the estimate);
    // split mid-key so register state must carry across micro-batches.
    val rows = (0L until 600L).map(i => (s"k${i % 2}", i % 450)) // dups past 450
    val input = MemoryStream[(String, Long)]
    val query = StreamingOps.hllStream(
        input.toDF().toDF("k", "v"), "k", "v")
      .writeStream.format("memory").queryName("t_hll")
      .outputMode("update")
      .option("checkpointLocation", ckpt())
      .start()
    try {
      val (b1, b2) = rows.splitAt(250)
      Seq(b1, b2).foreach { b =>
        input.addData(b.toSeq: _*); query.processAllAvailable()
      }
    } finally query.stop()

    // last emission per key (second micro-batch overwrote the first)
    val got = spark.table("t_hll")
      .groupBy("key").agg(last("est_distinct").as("est"),
        last("n_regs").as("nr"))
      .collect().map(r => r.getString(0) ->
        ((r.getAs[Double]("est"), r.getAs[Int]("nr")))).toMap

    val want = graft.operators.Sketch.hllEstimate(
        graft.operators.Sketch.hllSketch(rows.toDF("k", "v"), Seq("k"), "v"),
        Seq("k"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val wantRegs = graft.operators.Sketch.hllSketch(
        rows.toDF("k", "v"), Seq("k"), "v")
      .groupBy("k").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

    got.keySet shouldBe want.keySet
    for (k <- want.keys) {
      got(k)._1 shouldBe want(k)
      got(k)._2.toLong shouldBe wantRegs(k)
    }
  }

  test("touchAttributionStream: verdicts aggregate to the batch report, " +
    "state carries across a mid-journey batch split") {
    val ss = spark
    import ss.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // the BehaviorSpec scenario: u1 view->click->purchase; u2 purchase
    // (touchless), view, purchase; u3 click, purchase, purchase
    val rows = Seq(
      ("u1", 10L, "view"), ("u1", 11L, "click"), ("u1", 12L, "purchase"),
      ("u2", 20L, "purchase"), ("u2", 21L, "view"), ("u2", 22L, "purchase"),
      ("u3", 30L, "click"), ("u3", 31L, "purchase"), ("u3", 32L, "purchase")
    )
    val input = MemoryStream[(String, Long, String)]
    val query = StreamingOps.touchAttributionStream(
        input.toDF().toDF("u", "o", "typ"), "u", "o", "typ", "purchase")
      .writeStream.format("memory").queryName("t_attr")
      .outputMode("append")
      .option("checkpointLocation", ckpt())
      .start()
    try {
      // split mid-journey: u1's purchase and u3's second purchase land
      // in batch 2, their touches in batch 1
      val (b1, b2) = rows.splitAt(4)
      Seq(b1, b2).foreach { b =>
        input.addData(b: _*); query.processAllAvailable()
      }
    } finally query.stop()

    val got = spark.table("t_attr")
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getString(2), r.getString(3)))).toMap
    got(("u1", 12L)) shouldBe (("view", "click"))
    got(("u2", 20L)) shouldBe (("(none)", "(none)"))
    got(("u2", 22L)) shouldBe (("view", "view"))
    got(("u3", 31L)) shouldBe (("click", "click"))
    got(("u3", 32L)) shouldBe (("click", "click"))
    got.size shouldBe 5

    // aggregated, the verdicts equal the batch operator's report
    val fromStream = spark.table("t_attr")
      .groupBy(col("first_touch").as("touch_type"))
      .agg(count(lit(1)).as("first_touch_convs"))
      .join(spark.table("t_attr").groupBy(col("last_touch").as("touch_type"))
        .agg(count(lit(1)).as("last_touch_convs")), Seq("touch_type"), "full_outer")
      .select(col("touch_type"),
        coalesce(col("first_touch_convs"), lit(0L)),
        coalesce(col("last_touch_convs"), lit(0L)))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val batch = graft.operators.Behavior.touchAttribution(
        rows.toDF("u", "t", "typ").withColumn("o", col("t")),
        "u", "t", "typ", "o", "purchase")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    fromStream shouldBe batch
  }

  test("logHistStream: last emission per key equals the batch rank " +
    "query exactly, histogram state carries across batches") {
    val ss = spark
    import ss.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // 2 keys × values 1..300 (shuffled deterministically by reversal)
    val rows = (1L to 300L).map(v => (s"k${v % 2}", v)).reverse
    val input = MemoryStream[(String, Long)]
    val query = StreamingOps.logHistStream(
        input.toDF().toDF("k", "v"), "k", "v")
      .writeStream.format("memory").queryName("t_lh")
      .outputMode("update")
      .option("checkpointLocation", ckpt())
      .start()
    try {
      val (b1, b2) = rows.splitAt(137)
      Seq(b1, b2).foreach { b =>
        input.addData(b.toSeq: _*); query.processAllAvailable()
      }
    } finally query.stop()

    val got = spark.table("t_lh")
      .groupBy("key").agg(last("n").as("n"), last("p50").as("p50"),
        last("p90").as("p90"), last("p99").as("p99"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap

    val want = graft.operators.Sketch.logHistQuantiles(
        graft.operators.Sketch.logHistSketch(rows.toDF("k", "v"),
          Seq("k"), "v"),
        Seq("k"), Seq("p50" -> 0.5, "p90" -> 0.9, "p99" -> 0.99))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap

    got.keySet shouldBe want.keySet
    for (k <- want.keys) {
      got(k)._1 shouldBe 150L
      (got(k)._2, got(k)._3, got(k)._4) shouldBe want(k)
    }
  }

  test("domainCapStream equals the batch ordinal-order cap when fed in order") {
    val ss = spark
    import ss.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // 4 domains × uneven multiplicities; ordinal = doc_id
    val rows = (0L until 40L).map(i => (s"dom${i % 4}.com", i))
    val input = MemoryStream[(String, Long)]
    val query = StreamingOps.domainCapStream(
        input.toDF().toDF("domain", "doc_id"), "domain", "doc_id", quota = 3)
      .writeStream.format("memory").queryName("t_cap")
      .outputMode("append")
      .option("checkpointLocation", ckpt())
      .start()
    try {
      // ordinal-ordered delivery split across 3 micro-batches, one
      // split mid-domain-run so cap state must carry across batches
      val (b1, rest) = rows.splitAt(7)
      val (b2, b3) = rest.splitAt(13)
      Seq(b1, b2, b3).foreach { b =>
        input.addData(b.toSeq: _*); query.processAllAvailable()
      }
    } finally query.stop()

    val got = spark.table("t_cap")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getBoolean(2)))
      .sortBy(v => (v._1, v._2))

    // batch twin: first `quota` rows per key in ordinal order
    import org.apache.spark.sql.expressions.Window
    val want = rows.toDF("domain", "doc_id")
      .withColumn("kept", row_number().over(
        Window.partitionBy("domain").orderBy("doc_id")) <= 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getBoolean(2)))
      .sortBy(v => (v._1, v._2))

    got shouldBe want
    got.count(_._3) shouldBe 12 // 4 domains × quota 3
    got.length shouldBe 40 // a verdict per row, thin but total
  }

  test("bpeTokenizeStream on the training corpus reproduces q106's per-lang counts") {
    val ss = spark
    import ss.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val docsDf = spark.read.parquet(s"$sf0001/documents.parquet")
    val merges = graft.Queries.bpeTrain(docsDf, 6)._1
    val rows = docsDf.select("doc_id", "text", "lang")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))

    val input = MemoryStream[(Long, String, String)]
    val query = StreamingOps.bpeTokenizeStream(
        input.toDF().toDF("doc_id", "text", "lang"),
        "doc_id", "text", merges, keep = Seq("lang"))
      .writeStream.format("memory").queryName("t_bpe")
      .outputMode("append")
      .option("checkpointLocation", ckpt())
      .start()
    try {
      val (b1, b2) = rows.splitAt(rows.length / 2)
      input.addData(b1.toSeq: _*); query.processAllAvailable()
      input.addData(b2.toSeq: _*); query.processAllAvailable()
    } finally query.stop()

    val got = spark.table("t_bpe")
      .groupBy("lang")
      .agg(sum("n_words").as("n_words"), sum("n_bpe_tokens").as("n_bpe_tokens"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)

    // q106's batch report: per-word-type application × multiplicity
    val want = graft.Queries.q106(spark, sf0001)
      .select("lang", "n_words", "n_bpe_tokens")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)

    got shouldBe want
    got.length should be > 0
  }

  test("survivalStream last emission equals batch kaplanMeier AND " +
    "nelsonAalen, including the n == d extinction mask") {
    val ss = spark
    import ss.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // key a: ties + censoring; key b: the whole risk set events out at
    // t=9 (n == d) -> surv 0, ln_surv masked from there on
    val rows = Seq(
      ("a", 3L, 1L), ("a", 3L, 1L), ("a", 3L, 0L), ("a", 7L, 1L),
      ("a", 9L, 0L), ("a", 12L, 1L), ("a", 15L, 0L),
      ("b", 2L, 1L), ("b", 5L, 0L), ("b", 9L, 1L), ("b", 9L, 1L))
    val batch = rows.toDF("grp", "dur", "ev")

    val input = MemoryStream[(String, Long, Long)]
    val query = StreamingOps.survivalStream(
        input.toDF().toDF("grp", "dur", "ev"), "grp", "dur", "ev")
      .writeStream.format("memory").queryName("t_surv")
      .outputMode("update")
      .option("checkpointLocation", ckpt())
      .start()
    try {
      // deliberately interleave keys and split mid-curve
      val (b1, b2) = rows.splitAt(5)
      input.addData(b1: _*); query.processAllAvailable()
      input.addData(b2: _*); query.processAllAvailable()
    } finally query.stop()

    val wLatest = org.apache.spark.sql.expressions.Window
      .partitionBy("key").orderBy(col("n_obs").desc)
    val latest = spark.table("t_surv")
      .withColumn("__rk", row_number().over(wLatest))
      .where(col("__rk") === 1)
      .select(col("key"), explode(col("curve")).as("p"))
      .select(col("key"), col("p.*"))
    val got = latest
      .select("key", "t", "n_risk", "d_events", "n_censored", "na_micro",
        "cum_hazard", "surv_na", "ln_surv", "surv")
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getDouble(6), r.getDouble(7),
          if (r.isNullAt(8)) None else Some(r.getDouble(8)),
          r.getDouble(9)))).toMap

    val km = graft.operators.Behavior.kaplanMeier(batch, Seq("grp"), "dur", "ev")
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4),
          if (r.isNullAt(5)) None else Some(r.getDouble(5)),
          r.getDouble(6)))).toMap
    val na = graft.operators.Behavior.nelsonAalen(batch, Seq("grp"), "dur", "ev")
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getDouble(6), r.getDouble(7)))).toMap

    got.keySet shouldBe km.keySet
    got.keySet shouldBe na.keySet
    got.foreach { case (k, (nr, d, c, naM, cumH, survNa, lnS, surv)) =>
      na(k) shouldBe ((nr, d, c, naM, cumH, survNa))
      km(k) shouldBe ((nr, d, c, lnS, surv))
    }
    // the extinction row is present and masked
    got(("b", 9L))._7 shouldBe None
    got(("b", 9L))._8 shouldBe 0.0
  }

  test("unigramTokenize on a stream equals the batch tokenize under the trained vocabulary") {
    val ss = spark
    import ss.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val docsDf = spark.read.parquet(s"$sf0001/documents.parquet")
    val vocab = graft.operators.CorpusLM.unigramTrain(docsDf, "text",
      rounds = 2, seedTopK = 40)
    val rows = docsDf.select("doc_id", "text", "lang")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))

    val input = MemoryStream[(Long, String, String)]
    val query = graft.operators.CorpusLM.unigramTokenize(
        input.toDF().toDF("doc_id", "text", "lang"),
        "doc_id", "text", vocab, keep = Seq("lang"))
      .writeStream.format("memory").queryName("t_unigram")
      .outputMode("append")
      .option("checkpointLocation", ckpt())
      .start()
    try {
      val (b1, b2) = rows.splitAt(rows.length / 2)
      input.addData(b1.toSeq: _*); query.processAllAvailable()
      input.addData(b2.toSeq: _*); query.processAllAvailable()
    } finally query.stop()

    val got = spark.table("t_unigram")
      .select("doc_id", "lang", "n_words", "n_unigram_tokens")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3))).sortBy(_._1)
    val want = graft.operators.CorpusLM.unigramTokenize(
        docsDf, "doc_id", "text", vocab, keep = Seq("lang"))
      .select("doc_id", "lang", "n_words", "n_unigram_tokens")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3))).sortBy(_._1)
    got shouldBe want
    got.length should be > 0
  }

  test("stream-stream interval join (watermarked both sides) equals the batch join") {
    val ss = spark
    import ss.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val rows = eventRows
    val purchases = rows.filter(_.event_type == "purchase")
    val signups = rows.filter(_.event_type == "signup")

    def prep(name: String, in: org.apache.spark.sql.DataFrame) =
      in.select(col("event_id").as(s"${name}_id"), col("user_id").as(s"${name}_user"),
          col("ts").cast("timestamp").as(s"${name}_ts"))
        .withWatermark(s"${name}_ts", "1 hour")

    val lIn = MemoryStream[Ev]
    val rIn = MemoryStream[Ev]
    val joinExpr = expr(
      "p_user = s_user AND s_ts BETWEEN p_ts - INTERVAL 30 MINUTES AND p_ts")
    val joined = prep("p", lIn.toDF()).join(prep("s", rIn.toDF()), joinExpr)
      .select("p_id", "s_id")
    val query = joined.writeStream
      .format("memory").queryName("ssj")
      .option("checkpointLocation", ckpt())
      .outputMode("append")
      .start()
    try {
      // two ordered batches per side: nothing arrives later than its
      // watermark, so the streaming result must be the complete join
      val (p1, p2) = purchases.splitAt(purchases.length / 2)
      val (s1, s2) = signups.splitAt(signups.length / 2)
      lIn.addData(p1); rIn.addData(s1)
      query.processAllAvailable()
      lIn.addData(p2); rIn.addData(s2)
      query.processAllAvailable()
    } finally query.stop()

    val got = spark.table("ssj").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    val pq = purchases.toSeq.toDF()
    val sq = signups.toSeq.toDF()
    val want = prep("p", pq).join(prep("s", sq), joinExpr)
      .select("p_id", "s_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    got should contain theSameElementsInOrderAs want
    got.length should be > 0
  }

  /** Synthetic corpus with engineered chunk overlap: texts are built
    * from a 12-block pool of 3-word blocks, so cross-document chunk
    * duplicates actually occur (real sf0.001 texts share none). */
  private def chunkCorpus: IndexedSeq[Doc] = {
    val pool = IndexedSeq("aa bb cc", "dd ee ff", "gg hh ii", "jj kk ll",
      "mm nn oo", "pp qq rr", "ss tt uu", "vv ww xx", "yy zz ab",
      "cd ef gh", "ij kl mn", "op qr st")
    val rng = new scala.util.Random(7)
    (1 to 60).map { i =>
      val blocks = IndexedSeq.fill(2 + rng.nextInt(4))(pool(rng.nextInt(pool.size)))
      Doc(i.toLong, blocks.mkString(" "), "en", 1700000000000L + i)
    }
  }

  test("chunkVerdictStream + rebuild equals batch chunkDedup across micro-batches") {
    val ss = spark
    import ss.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val docs = chunkCorpus
    val emptyFps = Seq.empty[(Long, Long)].toDF("fp_h1", "fp_h2")
    val input = MemoryStream[Doc]
    val query = StreamingOps.chunkVerdictStream(input.toDF(), "doc_id", "text",
        chunkWords = 3, historyFps = emptyFps, tsCol = "ts",
        watermarkDelay = "30 days")
      .toDF()
      .writeStream.format("memory").queryName("t_chunk_verdicts")
      .outputMode("append")
      .option("checkpointLocation", ckpt())
      .start()
    try {
      // id-ordered batches: every chunk's first-batch min id IS its
      // global min id, so stream ownership == batch ownership exactly
      val (b1, b2) = docs.splitAt(docs.length / 2)
      input.addData(b1)
      query.processAllAvailable()
      input.addData(b2)
      query.processAllAvailable()
    } finally query.stop()

    val docsDF = docs.toDF()
    val rebuilt = Dedup.rebuildFromChunkVerdicts(docsDF, "doc_id", "text", 3,
        spark.table("t_chunk_verdicts"))
      .select("doc_id", "clean_text", "n_chunks", "n_chunks_removed")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    val want = Dedup.chunkDedup(docsDF, "doc_id", "text", 3)
      .select("doc_id", "clean_text", "n_chunks", "n_chunks_removed")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    rebuilt should contain theSameElementsInOrderAs want
    // the corpus genuinely exercised cross-doc removal
    want.map(_._4).sum should be > 0L
  }

  test("chunkVerdictStream drops chunks already in the fingerprint history") {
    val ss = spark
    import ss.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // history holds the block "aa bb cc"; every stream occurrence of it
    // must be kept=false even for the minimum-id document
    val histDocs = Seq((0L, "aa bb cc")).toDF("doc_id", "text")
    val fps = Dedup.chunkFingerprints(histDocs, "text", 3)
    val docs = Seq(
      Doc(1, "aa bb cc dd ee ff", "en", 1700000000001L),
      Doc(2, "dd ee ff gg hh ii", "en", 1700000000002L))
    val input = MemoryStream[Doc]
    val query = StreamingOps.chunkVerdictStream(input.toDF(), "doc_id", "text",
        chunkWords = 3, historyFps = fps, tsCol = "ts",
        watermarkDelay = "30 days")
      .toDF()
      .writeStream.format("memory").queryName("t_chunk_hist")
      .outputMode("append")
      .option("checkpointLocation", ckpt())
      .start()
    try {
      input.addData(docs)
      query.processAllAvailable()
    } finally query.stop()

    val got = spark.table("t_chunk_hist")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      .sortBy(v => (v._1, v._2))
    got should contain theSameElementsInOrderAs Seq(
      (1L, 0L, false), // "aa bb cc": history-owned, dropped
      (1L, 1L, true),  // "dd ee ff": doc 1 is its min-id owner
      (2L, 0L, false), // "dd ee ff" again: owned by doc 1
      (2L, 1L, true))  // "gg hh ii": unique
  }

  test("spanVerdictStream + rebuild equals batch substringDedup across micro-batches") {
    val ss = spark
    import ss.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val docs = chunkCorpus // block-built corpus: spans straddle block joints
    val emptyFps = Seq.empty[(Long, Long)].toDF("fp_h1", "fp_h2")
    val input = MemoryStream[Doc]
    val query = StreamingOps.spanVerdictStream(input.toDF(), "doc_id", "text",
        windowWords = 3, historyFps = emptyFps, tsCol = "ts",
        watermarkDelay = "30 days")
      .toDF()
      .writeStream.format("memory").queryName("t_span_verdicts")
      .outputMode("append")
      .option("checkpointLocation", ckpt())
      .start()
    try {
      // id-ordered batches: every span's first-batch min (doc, start)
      // IS its global min, so stream ownership == batch ownership
      val (b1, b2) = docs.splitAt(docs.length / 2)
      input.addData(b1)
      query.processAllAvailable()
      input.addData(b2)
      query.processAllAvailable()
    } finally query.stop()

    val docsDF = docs.toDF()
    val rebuilt = Dedup.rebuildFromSpanVerdicts(docsDF, "doc_id", "text", 3,
        spark.table("t_span_verdicts"))
      .select("doc_id", "clean_text", "n_words", "n_words_removed")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    val want = Dedup.substringDedup(docsDF, "doc_id", "text", 3)
      .select("doc_id", "clean_text", "n_words", "n_words_removed")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    rebuilt should contain theSameElementsInOrderAs want
    // the corpus genuinely exercised cross-doc removal
    want.map(_._4).sum should be > 0L
  }

  test("spanVerdictStream: history drops spans; ONLY the owner occurrence keeps") {
    val ss = spark
    import ss.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val histDocs = Seq((0L, "aa bb cc")).toDF("doc_id", "text")
    val fps = Dedup.spanFingerprints(histDocs, "text", 3)
    val docs = Seq(
      Doc(1, "aa bb cc dd", "en", 1700000000001L),
      Doc(2, "x bb cc dd z", "en", 1700000000002L))
    val input = MemoryStream[Doc]
    val query = StreamingOps.spanVerdictStream(input.toDF(), "doc_id", "text",
        windowWords = 3, historyFps = fps, tsCol = "ts",
        watermarkDelay = "30 days")
      .toDF()
      .writeStream.format("memory").queryName("t_span_hist")
      .outputMode("append")
      .option("checkpointLocation", ckpt())
      .start()
    try {
      input.addData(docs)
      query.processAllAvailable()
    } finally query.stop()

    val got = spark.table("t_span_hist")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      .sortBy(v => (v._1, v._2))
    got should contain theSameElementsInOrderAs Seq(
      (1L, 0L, false), // "aa bb cc": history-owned, dropped
      (1L, 1L, true),  // "bb cc dd": (1,1) is its min occurrence
      (2L, 0L, true),  // "x bb cc": unique
      (2L, 1L, false), // "bb cc dd" again: owned by (1,1)
      (2L, 2L, true))  // "cc dd z": unique
  }

  test("pqEncode runs unchanged on a stream (stream-static broadcast codebook)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.Similarity
    val ss = spark
    import ss.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val emb = graft.core.Tables.embeddings(spark, sf0001)
      .withColumn("e", col("embedding").cast("array<double>"))
      .select("vec_id", "e")
    val book = Share.once(Similarity.pqTrain(emb, "vec_id", "e", m = 4,
      dim = 64, centroidStride = 37L, iters = 1), "pqCodebook")
    val batchCodes = Similarity.pqEncode(emb, "vec_id", "e", book, m = 4, dim = 64)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    // the same operator, input swapped for an unbounded source: the
    // codebook is a static 1-row broadcast, encoding is in-row
    val rows = emb.collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
    val input = MemoryStream[(Long, Seq[Double])]
    val codes = Similarity.pqEncode(
      input.toDF().toDF("vec_id", "e"), "vec_id", "e", book, m = 4, dim = 64)
    codes.isStreaming shouldBe true
    val ckpt = java.nio.file.Files.createTempDirectory("graft-pq-ckpt").toString
    val query = codes.writeStream.format("memory").queryName("t_pqcodes")
      .outputMode("append").option("checkpointLocation", ckpt).start()
    try {
      input.addData(rows.take(rows.length / 2).toIndexedSeq: _*)
      query.processAllAvailable()
      input.addData(rows.drop(rows.length / 2).toIndexedSeq: _*)
      query.processAllAvailable()
    } finally query.stop()
    val streamed = spark.table("t_pqcodes")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    streamed shouldBe batchCodes
  }

  test("rakeScoreAgainst runs unchanged on a stream (stream-static " +
    "broadcast model: stoplist + word-score map)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.TextMetrics
    val ss = spark
    import ss.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = graft.core.Tables.documents(spark, sf0001)
      .select("doc_id", "text")
    val hist = docs.filter(col("doc_id") % 10 =!= 0)
    val stops = Share.once(
      TextMetrics.rakeStopwords(hist, "text", stopK = 20), "rakeStops")
    val wsTab = Share.once(
      TextMetrics.rakeWordScores(hist, "text", stops), "rakeWordScores")
    val incoming = docs.filter(col("doc_id") % 10 === 0)
    def keyed(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => r.getLong(0) -> ((r.getLong(1),
        Option(r.getString(2)), Option(r.get(3)), r.getLong(4)))).toMap
    val batch = keyed(TextMetrics.rakeScoreAgainst(
      incoming, "doc_id", "text", stops, wsTab).collect())
    // the same operator, input swapped for an unbounded source: both
    // model tables are static 1-row broadcasts, scoring is in-row
    val rows = incoming.as[(Long, String)].collect()
    val input = MemoryStream[(Long, String)]
    val served = TextMetrics.rakeScoreAgainst(
      input.toDF().toDF("doc_id", "text"), "doc_id", "text", stops, wsTab)
    served.isStreaming shouldBe true
    val ckpt = java.nio.file.Files.createTempDirectory("graft-rake-ckpt").toString
    val query = served.writeStream.format("memory").queryName("t_rake")
      .outputMode("append").option("checkpointLocation", ckpt).start()
    try {
      input.addData(rows.take(rows.length / 2).toIndexedSeq: _*)
      query.processAllAvailable()
      input.addData(rows.drop(rows.length / 2).toIndexedSeq: _*)
      query.processAllAvailable()
    } finally query.stop()
    keyed(spark.table("t_rake").collect()) shouldBe batch
  }

  test("containmentAgainstIndexInRow on a stream equals batch " +
    "containmentAgainstIndex (persisted index, in-row scoring)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.Dedup
    val ss = spark
    import ss.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = graft.core.Tables.documents(spark, sf0001)
      .select("doc_id", "text")
    val hist = docs.filter(col("doc_id") % 10 =!= 0)
    val incoming = docs.filter(col("doc_id") % 10 === 0)
    val index = Share.once(
      Dedup.shingleHashRows(hist, "doc_id", "text", 3), "shingleIndex")
    def keyed(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    val batch = keyed(Dedup.containmentAgainstIndex(
      incoming, "doc_id", "text", index, tNum = 7, tDen = 10).collect())
    batch should not be empty
    // in-row twin on a bounded input first: both postures must agree
    keyed(Dedup.containmentAgainstIndexInRow(
      incoming, "doc_id", "text", index, tNum = 7, tDen = 10)
      .collect()) shouldBe batch
    // then the SAME operator on an unbounded source, split across two
    // micro-batches: two one-row broadcast models, map-only, append mode
    val rows = incoming.as[(Long, String)].collect()
    val input = MemoryStream[(Long, String)]
    val served = Dedup.containmentAgainstIndexInRow(
      input.toDF().toDF("doc_id", "text"), "doc_id", "text", index,
      tNum = 7, tDen = 10)
    served.isStreaming shouldBe true
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-cont-ckpt").toString
    val query = served.writeStream.format("memory").queryName("t_cont")
      .outputMode("append").option("checkpointLocation", ckpt).start()
    try {
      input.addData(rows.take(rows.length / 2).toIndexedSeq: _*)
      query.processAllAvailable()
      input.addData(rows.drop(rows.length / 2).toIndexedSeq: _*)
      query.processAllAvailable()
    } finally query.stop()
    keyed(spark.table("t_cont").collect()) shouldBe batch
  }

  test("embeddingNearDupAgainstIndexInRow on a stream equals batch " +
    "embeddingNearDupAgainstIndex (persisted code table, in-row scoring)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.{Dedup, Similarity}
    val ss = spark
    import ss.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val planes = Similarity.hyperplanes(8, 64, 42L)
    val emb = graft.core.Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val hist = emb.filter(col("vec_id") % 10 =!= 0)
    val incoming = emb.filter(col("vec_id") % 10 === 0)
    val index = Share.once(
      Dedup.embeddingCodeRows(hist, "vec_id", "e", planes), "codeIndex")
    def keyed(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val batch = keyed(Dedup.embeddingNearDupAgainstIndex(
      incoming, "vec_id", "e", index, planes, codeRadius = 2,
      threshold = 0.3).collect())
    batch should not be empty
    // in-row twin on a bounded input first: both gears must agree
    keyed(Dedup.embeddingNearDupAgainstIndexInRow(
      incoming, "vec_id", "e", index, planes, codeRadius = 2,
      threshold = 0.3).collect()) shouldBe batch
    // then the SAME operator on an unbounded source across two
    // micro-batches: one broadcast posting map, map-only, append mode
    val rows = incoming.as[(Long, Seq[Double])].collect()
    val input = MemoryStream[(Long, Seq[Double])]
    val served = Dedup.embeddingNearDupAgainstIndexInRow(
      input.toDF().toDF("vec_id", "e"), "vec_id", "e", index, planes,
      codeRadius = 2, threshold = 0.3)
    served.isStreaming shouldBe true
    val ck = java.nio.file.Files
      .createTempDirectory("graft-embserve-ckpt").toString
    val query = served.writeStream.format("memory").queryName("t_embserve")
      .outputMode("append").option("checkpointLocation", ck).start()
    try {
      input.addData(rows.take(rows.length / 2).toIndexedSeq: _*)
      query.processAllAvailable()
      input.addData(rows.drop(rows.length / 2).toIndexedSeq: _*)
      query.processAllAvailable()
    } finally query.stop()
    keyed(spark.table("t_embserve").collect()) shouldBe batch
  }

  test("ivfServeInRow on a probe stream equals batch ivfServe " +
    "(persisted centroids + cell index, two broadcast model rows)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.Similarity
    val ss = spark
    import ss.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val emb = graft.core.Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val hist = emb.filter(col("vec_id") % 10 =!= 0)
    val probes = emb.filter(col("vec_id") % 10 === 0)
    val cents = Share.once(Similarity.kmeansCentroids(hist, "vec_id", "e",
        centroidStride = 37, iters = 1, dim = 64)
      .select(col("__cid"), col("__cv")), "ivfCentroids")
    val cells = Share.once(
      Similarity.ivfCellIndex(hist, "vec_id", "e", cents), "ivfCells")
    def keyed(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getInt(3)) ->
        ((r.getLong(1), r.getDouble(2)))).toMap
    val batch = keyed(Similarity.ivfServe(cells, cents, probes,
      "vec_id", "e", k = 3, nprobe = 4).collect())
    batch should not be empty
    keyed(Similarity.ivfServeInRow(probes, "vec_id", "e", cents, cells,
      k = 3, nprobe = 4).collect()) shouldBe batch
    val rows = probes.as[(Long, Seq[Double])].collect()
    val input = MemoryStream[(Long, Seq[Double])]
    val served = Similarity.ivfServeInRow(
      input.toDF().toDF("vec_id", "e"), "vec_id", "e", cents, cells,
      k = 3, nprobe = 4)
    served.isStreaming shouldBe true
    val ck = java.nio.file.Files
      .createTempDirectory("graft-ivfserve-ckpt").toString
    val query = served.writeStream.format("memory").queryName("t_ivfserve")
      .outputMode("append").option("checkpointLocation", ck).start()
    try {
      input.addData(rows.take(rows.length / 2).toIndexedSeq: _*)
      query.processAllAvailable()
      input.addData(rows.drop(rows.length / 2).toIndexedSeq: _*)
      query.processAllAvailable()
    } finally query.stop()
    keyed(spark.table("t_ivfserve").collect()) shouldBe batch
  }

  test("ivfPqServeInRow on a probe stream equals batch ivfPqServe " +
    "(persisted coarse + codebook + code cells, three broadcast model rows)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.Similarity
    val ss = spark
    import ss.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val emb = graft.core.Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val hist = emb.filter(col("vec_id") % 10 =!= 0)
    val probes = emb.filter(col("vec_id") % 10 === 0)
    val coarse = Share.once(Similarity.strideCentroids(hist, "vec_id", "e",
      centroidStride = 37), "ivfCoarse")
    val book = Share.once(Similarity.pqTrain(hist, "vec_id", "e", m = 4,
      dim = 64, centroidStride = 37, iters = 1), "pqCodebook")
    val cells = Share.once(Similarity.pqCodeCells(hist, "vec_id", "e",
      coarse, book, m = 4, dim = 64), "pqCodeCells")
    def keyed(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getInt(3)) ->
        ((r.getLong(1), r.getLong(2)))).toMap
    val batch = keyed(Similarity.ivfPqServe(cells, coarse, book, probes,
      "vec_id", "e", k = 3, nprobe = 4, m = 4, dim = 64).collect())
    batch should not be empty
    keyed(Similarity.ivfPqServeInRow(probes, "vec_id", "e", coarse, book,
      cells, k = 3, nprobe = 4, m = 4, dim = 64).collect()) shouldBe batch
    val rows = probes.as[(Long, Seq[Double])].collect()
    val input = MemoryStream[(Long, Seq[Double])]
    val served = Similarity.ivfPqServeInRow(
      input.toDF().toDF("vec_id", "e"), "vec_id", "e", coarse, book,
      cells, k = 3, nprobe = 4, m = 4, dim = 64)
    served.isStreaming shouldBe true
    val ck = java.nio.file.Files
      .createTempDirectory("graft-ivfpqserve-ckpt").toString
    val query = served.writeStream.format("memory").queryName("t_ivfpqserve")
      .outputMode("append").option("checkpointLocation", ck).start()
    try {
      input.addData(rows.take(rows.length / 2).toIndexedSeq: _*)
      query.processAllAvailable()
      input.addData(rows.drop(rows.length / 2).toIndexedSeq: _*)
      query.processAllAvailable()
    } finally query.stop()
    keyed(spark.table("t_ivfpqserve").collect()) shouldBe batch
  }

  test("coActivityProfileStream closed windows equal batch " +
    "Behavior.coActivityProfile row for row") {
    val ss = spark
    import ss.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val W = 3600000L
    val rows = eventRows
    // flush events: far enough in the future to advance the watermark
    // past every real window end; their own window must NOT emit
    val maxTs = rows.map(_.ts).max(Ordering.fromLessThan[LocalDateTime](_ isBefore _))
    val flush1 = rows.head.copy(event_id = 99901L, ts = maxTs.plusHours(40))
    val flush2 = rows.head.copy(event_id = 99902L, ts = maxTs.plusHours(41))

    val input = MemoryStream[Ev]
    val query = StreamingOps.coActivityProfileStream(
        input.toDF(), "user_id", "ts", W, k = 3,
        watermarkDelay = "0 seconds")
      .writeStream.format("memory").queryName("t_coact")
      .outputMode("append")
      .option("checkpointLocation", ckpt())
      .start()
    try {
      val (h1, h2) = rows.splitAt(rows.length / 2)
      input.addData(h1.toIndexedSeq: _*)
      query.processAllAvailable()
      input.addData(h2.toIndexedSeq: _*)
      query.processAllAvailable()
      input.addData(flush1)
      query.processAllAvailable()
      // timeouts fire on the batch AFTER the watermark advances
      input.addData(flush2)
      query.processAllAvailable()
    } finally query.stop()

    def keyed(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getString(1), r.getInt(4)) ->
        ((r.getString(2), r.getLong(3)))).toMap
    val got = keyed(spark.table("t_coact").collect())
    val want = keyed(graft.operators.Behavior.coActivityProfile(
        Tables.events(spark, sf0001), "user_id", "ts", W, k = 3)
      .collect())
    want should not be empty
    got shouldBe want
  }

  test("coActivityProfile's global-top-(k+1) candidate plan equals the " +
    "naive per-window pair-enumeration ranking row for row") {
    // r16 optimization pin: the partner ranking key (the partner's own
    // in-window count) is independent of the asking key, so each key's
    // top-k is the window's global top-(k+1) minus itself. This replays
    // the pre-r16 O(actives²) self-join + rank shape and requires exact
    // equality — including rank values and count ties broken on the
    // string-collated partner id.
    val events = Tables.events(spark, sf0001)
    val W = 3600000L
    val k = 3
    val got = graft.operators.Behavior.coActivityProfile(
        events, "user_id", "ts", W, k)
      .collect().map(_.toSeq).sortBy(_.toString)
    val ms = unix_millis(col("ts").cast("timestamp"))
    val counts = events
      .select((ms - pmod(ms, lit(W))).as("window_start"),
        col("user_id").cast("string").as("__k"))
      .groupBy("window_start", "__k")
      .agg(count(lit(1)).as("n_events"))
    val pairs = counts.alias("a")
      .join(counts.alias("b"),
        col("a.window_start") === col("b.window_start") &&
          col("a.__k") =!= col("b.__k"))
      .select(col("a.window_start").as("window_start"),
        col("a.__k").as("__u"), col("b.__k").as("partner"),
        col("b.n_events").as("n_events"))
    val want = graft.operators.Relational.topKPerGroup(pairs,
        Seq("window_start", "__u"),
        Seq(col("n_events").desc, col("partner").asc), k,
        rankCol = Some("rank"))
      .select(col("window_start"), col("__u").as("user_id"), col("partner"),
        col("n_events"), col("rank"))
      .collect().map(_.toSeq).sortBy(_.toString)
    want should not be empty
    got shouldBe want
  }

  test("funnelStream's final state reproduces batch Behavior.funnel " +
    "on an ordered replay across micro-batches") {
    val ss = spark
    import ss.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val steps = Seq("view", "click", "purchase")
    val rows = eventRows // sorted by (ts, event_id): the ordered replay
    val input = MemoryStream[Ev]
    val query = StreamingOps.funnelStream(
        input.toDF().withColumn("tsx", col("ts").cast("timestamp")),
        "user_id", "tsx", "event_type", steps)
      .writeStream.format("memory").queryName("t_funnel")
      .outputMode("update")
      .option("checkpointLocation", ckpt())
      .start()
    try {
      val (b1, rest) = rows.splitAt(rows.length / 3)
      val (b2, b3) = rest.splitAt(rest.length / 2)
      Seq(b1, b2, b3).foreach { b =>
        input.addData(b.toSeq: _*); query.processAllAvailable()
      }
    } finally query.stop()

    // latest emission per user = the row with max (monotone) reached
    val finals = spark.table("t_funnel")
      .groupByKey(_.getLong(0))
      .reduceGroups((a, b) => if (a.getInt(1) >= b.getInt(1)) a else b)
      .map(_._2)(org.apache.spark.sql.Encoders.row(
        spark.table("t_funnel").schema))
      .collect()
      .map(r => (r.getInt(1), r.getSeq[Long](2)))

    // roll the per-user chains up into the batch report's numbers
    val got = steps.indices.map { i =>
      val reached = finals.filter(_._1 > i)
      val gap = if (i == 0) None
        else Some(reached.map(f => f._2(i) - f._2(i - 1)).sum)
      (i, reached.length.toLong,
        gap.map(g => BigDecimal(g.toDouble / reached.length / 1000.0)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble))
    }

    val want = graft.operators.Behavior.funnel(
        rows.toSeq.toDF().withColumn("tsx", col("ts").cast("timestamp")),
        "user_id", "tsx", "event_type", steps)
      .collect().map(r => (r.getInt(0), r.getLong(2),
        Option(r.getAs[java.lang.Double]("avg_gap_s")).map(_.toDouble)))

    got should contain theSameElementsInOrderAs want
    assert(finals.nonEmpty && got.head._2 > 0)
  }

  test("rollingZStream equals batch rollingZ on the daily matrix " +
    "across micro-batches") {
    val ss = spark
    import ss.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.operators.Behavior

    val daily = Tables.events(spark, sf0001)
      .groupBy(col("event_type"), col("ts").cast("date").as("day"))
      .agg(count(lit(1)).as("n"))
    val rows = daily
      .select(col("event_type"), col("day").cast("timestamp_ntz").as("p"),
        col("n"))
      .as[(String, LocalDateTime, Long)]
      .collect().sortBy(r => (tsKey(r._2), r._1)) // ordered replay

    val input = MemoryStream[(String, LocalDateTime, Long)]
    val query = StreamingOps.rollingZStream(
        input.toDF().toDF("event_type", "p", "n"),
        "event_type", "p", "n", lookback = 7)
      .writeStream.format("memory").queryName("t_rollz")
      .outputMode("append")
      .option("checkpointLocation", ckpt())
      .start()
    try {
      val (b1, rest) = rows.splitAt(rows.length / 3)
      val (b2, b3) = rest.splitAt(rest.length / 2)
      Seq(b1, b2, b3).foreach { b =>
        input.addData(b.toSeq: _*); query.processAllAvailable()
      }
    } finally query.stop()

    def opt(r: org.apache.spark.sql.Row, f: String): Option[Double] =
      Option(r.getAs[java.lang.Double](f)).map(_.toDouble)
    val got = spark.table("t_rollz")
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(3), opt(r, "roll_mean"), opt(r, "z"))).toMap
    val want = Behavior.rollingZ(daily, Seq("event_type"), "day", "n",
        lookback = 7)
      .select(col("event_type"),
        unix_millis(col("day").cast("timestamp")).as("pms"),
        col("roll_n"), col("roll_mean"), col("z"))
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), opt(r, "roll_mean"), opt(r, "z"))).toMap
    got shouldBe want
    assert(got.nonEmpty && got.values.exists(_._3.isDefined))
  }

  test("sessionizeStream labels equal batch sessionize across micro-batches") {
    val ss = spark
    import ss.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.operators.Behavior

    val rows = eventRows
    val input = MemoryStream[Ev]
    val query = StreamingOps.sessionizeStream(
        input.toDF().withColumn("tsx", col("ts").cast("timestamp")),
        "user_id", "tsx", gapSeconds = 1800L)
      .writeStream.format("memory").queryName("t_sess")
      .outputMode("append")
      .option("checkpointLocation", ckpt())
      .start()
    try {
      val (b1, rest) = rows.splitAt(rows.length / 3)
      val (b2, b3) = rest.splitAt(rest.length / 2)
      Seq(b1, b2, b3).foreach { b =>
        input.addData(b.toSeq: _*); query.processAllAvailable()
      }
    } finally query.stop()

    val got = spark.table("t_sess")
      .groupBy("key", "session_idx").count()
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val want = Behavior.sessionize(
        rows.toSeq.toDF().withColumn("tsx", col("ts").cast("timestamp")),
        "user_id", "tsx", gapSeconds = 1800L)
      .groupBy(col("user_id"), col("session_idx")).count()
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    got shouldBe want
    assert(got.size > rows.map(_.user_id).distinct.size) // multi-session keys exist
  }

  test("transitionStream emissions roll up to batch transitionMatrix") {
    val ss = spark
    import ss.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.operators.Behavior

    val rows = eventRows
    val input = MemoryStream[Ev]
    val query = StreamingOps.transitionStream(
        input.toDF().withColumn("tsx", col("ts").cast("timestamp")),
        "user_id", "tsx", "event_type", "event_id")
      .writeStream.format("memory").queryName("t_trans")
      .outputMode("append")
      .option("checkpointLocation", ckpt())
      .start()
    try {
      val (b1, rest) = rows.splitAt(rows.length / 3)
      val (b2, b3) = rest.splitAt(rest.length / 2)
      Seq(b1, b2, b3).foreach { b =>
        input.addData(b.toSeq: _*); query.processAllAvailable()
      }
    } finally query.stop()

    val got = spark.table("t_trans")
      .groupBy("from_type", "to_type").count()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    val want = Behavior.transitionMatrix(
        rows.toSeq.toDF().withColumn("tsx", col("ts").cast("timestamp")),
        "user_id", "tsx", "event_type", "event_id")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    got shouldBe want
    assert(got.values.sum == rows.length - rows.map(_.user_id).distinct.size)
  }

  test("cusumStream: last emission equals the batch control chart " +
    "under ordered replay, state carries across batches") {
    val ss = spark
    import ss.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // Two series with exact mean 15, so the batch operator (which
    // fits mu from the data) and the stream (which takes mu as the
    // known baseline) run the same chart. k1 = the BehaviorSpec step
    // series; k2 = flat. Rows are REVERSED inside each batch - the
    // intra-batch seq sort must restore replay order.
    val rows = (1 to 6).map(d => ("k1", d.toLong,
        if (d <= 3) 10.0 else 20.0)) ++
      (1 to 4).map(d => ("k2", d.toLong, 15.0))
    val input = MemoryStream[(String, Long, Double)]
    val query = StreamingOps.cusumStream(
        input.toDF().toDF("k", "d", "v"), "k", "d", "v",
        mu = 15.0, h = 8.0)
      .writeStream.format("memory").queryName("t_cusum")
      .outputMode("update")
      .option("checkpointLocation", ckpt())
      .start()
    try {
      val (b1, b2) = rows.partition(_._2 <= 3)
      Seq(b1, b2).foreach { b =>
        input.addData(b.reverse: _*); query.processAllAvailable()
      }
    } finally query.stop()

    val got = spark.table("t_cusum")
      .groupBy("key").agg(last("n_seen").as("n"),
        last("s_plus").as("sp"), last("s_minus").as("sm"),
        last("n_up").as("nu"), last("n_down").as("nd"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4),
          r.getLong(5)))).toMap

    // Batch twin on the same frame: final-day chart position + the
    // number of flagged days per series (grouped in Scala so "final"
    // is by day, not by row order).
    val batchRows = graft.operators.Behavior.cusum(
        rows.toDF("k", "d", "v"), Seq("k"), "d", "v", h = 8.0)
      .collect().map(r => (r.getString(0), r.getLong(1),
        r.getDouble(2), r.getDouble(3), r.getBoolean(4), r.getBoolean(5)))
    val want = batchRows.groupBy(_._1).map { case (k, rs) =>
      val fin = rs.maxBy(_._2)
      k -> ((rs.length.toLong, fin._3, fin._4,
        rs.count(_._5).toLong, rs.count(_._6).toLong))
    }

    got shouldBe want
    got("k1") shouldBe ((6L, 15.0, 0.0, 2L, 3L))
    got("k2") shouldBe ((4L, 0.0, 0.0, 0L, 0L))
  }

  test("trendFitStream: last emission equals the batch OLS fit, " +
    "order-independent across shuffled batches") {
    val ss = spark
    import ss.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // k1: a near-line with one off point (vx, vy > 0); k2: constant y
    // (slope 0, r2 NULL); k3: constant x (all NULL). Batches arrive
    // SHUFFLED - moment sums commute, no ordered-replay needed.
    val rows = Seq(
      ("k1", 1L, 2L), ("k1", 2L, 4L), ("k1", 3L, 6L), ("k1", 4L, 9L),
      ("k2", 1L, 5L), ("k2", 2L, 5L), ("k2", 3L, 5L),
      ("k3", 7L, 1L), ("k3", 7L, 9L))
    val input = MemoryStream[(String, Long, Long)]
    val query = StreamingOps.trendFitStream(
        input.toDF().toDF("k", "x", "y"), "k", "x", "y")
      .writeStream.format("memory").queryName("t_tf")
      .outputMode("update")
      .option("checkpointLocation", ckpt())
      .start()
    try {
      val (b1, b2) = rows.splitAt(4)
      Seq(b1.reverse, b2.reverse).foreach { b =>
        input.addData(b: _*); query.processAllAvailable()
      }
    } finally query.stop()

    val got = spark.table("t_tf")
      .groupBy("key").agg(last("n").as("n"), last("slope").as("s"),
        last("intercept").as("i"), last("r2").as("r"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), Option(r.getAs[java.lang.Double]("s")),
          Option(r.getAs[java.lang.Double]("i")),
          Option(r.getAs[java.lang.Double]("r"))))).toMap

    val want = graft.operators.Behavior.trendFit(
        rows.toDF("k", "x", "y"), Seq("k"), "x", "y")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), Option(r.getAs[java.lang.Double]("slope")),
          Option(r.getAs[java.lang.Double]("intercept")),
          Option(r.getAs[java.lang.Double]("r2"))))).toMap

    got shouldBe want
    assert(got("k1")._2.isDefined && got("k2")._2 == Some(0.0) &&
      got("k3")._2.isEmpty)
  }

  test("intervalCoverageStream: last emission equals batch " +
    "intervalCoverage, order-independent across shuffled batches") {
    val ss = spark
    import ss.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // the BehaviorSpec hand case: overlap, half-open chain, gap, plus
    // a nested key and a degenerate row (drops)
    val rows = Seq(("u", 0L, 10L), ("u", 5L, 15L), ("u", 15L, 20L),
      ("u", 30L, 40L), ("v", 0L, 100L), ("v", 10L, 20L), ("w", 5L, 5L),
      ("w", 0L, 2L))
    val input = MemoryStream[(String, Long, Long)]
    val query = StreamingOps.intervalCoverageStream(
        input.toDF().toDF("k", "s", "e"), "k", "s", "e")
      .writeStream.format("memory").queryName("t_ic")
      .outputMode("update")
      .option("checkpointLocation", ckpt())
      .start()
    try {
      val (b1, b2) = rows.splitAt(4)
      Seq(b2.reverse, b1.reverse).foreach { b => // unions commute
        input.addData(b: _*); query.processAllAvailable()
      }
    } finally query.stop()

    val got = spark.table("t_ic")
      .groupBy("key").agg(last("n_intervals").as("ni"),
        last("n_islands").as("nl"), last("covered").as("cv"),
        last("span").as("sp"), last("coverage_ppm").as("pp"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    val want = graft.operators.Behavior.intervalCoverage(
        rows.toDF("k", "s", "e"), Seq("k"), "s", "e")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    got shouldBe want
    assert(got("u") == ((4L, 2L, 30L, 40L, 750000L)))
  }

  test("conformalStream: last emission equals batch conformalGate, " +
    "order-independent across shuffled batches") {
    val ss = spark
    import ss.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // cal 1..10 + test {5,10,11} at alpha=1/10: r=10, q_hat=10,
    // covered 2/3 (the EvalSpec hand case, streamed out of order)
    val rows = (1L to 10L).map(s => ("m", true, s)) ++
      Seq(("m", false, 5L), ("m", false, 10L), ("m", false, 11L))
    val input = MemoryStream[(String, Boolean, Long)]
    val query = StreamingOps.conformalStream(
        input.toDF().toDF("k", "is_cal", "score"), "k", "is_cal",
        "score", 1, 10)
      .writeStream.format("memory").queryName("t_cf")
      .outputMode("update")
      .option("checkpointLocation", ckpt())
      .start()
    try {
      val (b1, b2) = rows.splitAt(6)
      Seq(b2.reverse, b1.reverse).foreach { b => // shuffled: commutes
        input.addData(b: _*); query.processAllAvailable()
      }
    } finally query.stop()

    val got = spark.table("t_cf").orderBy(col("n_cal").desc).head()
    val want = graft.operators.Eval.conformalGate(
      rows.filter(_._2).map(_._3).toDF("score"),
      rows.filterNot(_._2).map(_._3).toDF("score"),
      "score", 1, 10).head()
    assert((got.getLong(1), got.getLong(2), got.getLong(3),
      got.getLong(4), got.getLong(5), got.getLong(6), got.getLong(7)) ==
      ((want.getLong(0), want.getLong(1), want.getLong(2),
        want.getLong(3), want.getLong(4), want.getLong(5),
        want.getLong(6))))
    assert(got.getLong(3) == 10L && got.getLong(6) == 666666L)
  }

  test("kappaStream: last emission equals batch cohensKappa, " +
    "order-independent across shuffled batches") {
    val ss = spark
    import ss.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // g: the hand 2x2 (a=4,b=1,c=1,d=4, kappa=0.6); z: both raters
    // constant-false (denominator 0 -> None)
    val rows = Seq.fill(4)(("g", true, true)) ++ Seq(("g", true, false)) ++
      Seq(("g", false, true)) ++ Seq.fill(4)(("g", false, false)) ++
      Seq.fill(3)(("z", false, false))
    val input = MemoryStream[(String, Boolean, Boolean)]
    val query = StreamingOps.kappaStream(
        input.toDF().toDF("k", "r1", "r2"), "k", "r1", "r2")
      .writeStream.format("memory").queryName("t_ks")
      .outputMode("update")
      .option("checkpointLocation", ckpt())
      .start()
    try {
      val (b1, b2) = rows.splitAt(5)
      Seq(b2.reverse, b1).foreach { b => // shuffled: counts commute
        input.addData(b: _*); query.processAllAvailable()
      }
    } finally query.stop()

    val got = spark.table("t_ks")
      .groupBy("key").agg(last("n").as("n"), last("a").as("a"),
        last("b").as("b"), last("c").as("c"), last("d").as("d"),
        last("po_micro").as("po"), last("kappa").as("kp"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6),
          Option(r.getAs[java.lang.Double]("kp"))))).toMap

    val want = graft.operators.Eval.cohensKappa(
        rows.toDF("k", "r1", "r2"), "r1", "r2", by = Seq("k"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6),
          Option(r.getAs[java.lang.Double]("kappa"))))).toMap

    got shouldBe want
    assert(got("g")._7 == Some(0.6) && got("z")._7.isEmpty)
  }

  test("fanoStream: last emission equals batch fanoFactor, " +
    "order-independent across shuffled daily batches") {
    val ss = spark
    import ss.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val rows = Seq(
      ("bursty", 0L, 3L), ("bursty", 2L, 1L), // gap day 1 is a zero
      ("flat", 0L, 2L), ("flat", 1L, 2L), ("flat", 2L, 2L),
      ("dead", 5L, 0L))
    val input = MemoryStream[(String, Long, Long)]
    val query = StreamingOps.fanoStream(
        input.toDF().toDF("k", "x", "n"), "k", "x", "n")
      .writeStream.format("memory").queryName("t_fano")
      .outputMode("update")
      .option("checkpointLocation", ckpt())
      .start()
    try {
      val (b1, b2) = rows.splitAt(3)
      Seq(b2.reverse, b1.reverse).foreach { b =>
        input.addData(b: _*); query.processAllAvailable()
      }
    } finally query.stop()

    val got = spark.table("t_fano")
      .groupBy("key").agg(last("n_days").as("nd"),
        last("n_active_days").as("na"), last("total").as("t"),
        last("mean_micro").as("m"), last("fano").as("f"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          Option(r.getAs[java.lang.Double]("f"))))).toMap

    val want = graft.operators.Behavior.fanoFactor(
        rows.toDF("k", "x", "n"), Seq("k"), "x", "n")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          Option(r.getAs[java.lang.Double]("fano"))))).toMap

    got shouldBe want
    assert(got("bursty")._5 == Some(1.166667) && got("dead")._5.isEmpty)
  }

  test("mcnemarStream: last emission equals batch mcnemar, " +
    "order-independent across shuffled batches") {
    val ss = spark
    import ss.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // g: b=5, c=2 -> chi2 = 4/7; z: perfect agreement -> None
    val rows = Seq.fill(2)(("g", true, true)) ++
      Seq.fill(5)(("g", true, false)) ++ Seq.fill(2)(("g", false, true)) ++
      Seq(("g", false, false)) ++ Seq.fill(3)(("z", true, true))
    val input = MemoryStream[(String, Boolean, Boolean)]
    val query = StreamingOps.mcnemarStream(
        input.toDF().toDF("k", "g1", "g2"), "k", "g1", "g2")
      .writeStream.format("memory").queryName("t_mcn")
      .outputMode("update")
      .option("checkpointLocation", ckpt())
      .start()
    try {
      val (b1, b2) = rows.splitAt(6)
      Seq(b2.reverse, b1).foreach { b => // shuffled: counters commute
        input.addData(b: _*); query.processAllAvailable()
      }
    } finally query.stop()

    val got = spark.table("t_mcn")
      .groupBy("key").agg(last("n").as("n"), last("b").as("b"),
        last("c").as("c"), last("chi2").as("chi2"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3),
          Option(r.getAs[java.lang.Double]("chi2"))))).toMap

    val want = graft.operators.Eval.mcnemar(
        rows.toDF("k", "g1", "g2"), "g1", "g2", by = Seq("k"))
      .collect().map(r => r.getString(0) ->
        ((r.getAs[Long]("n"), r.getAs[Long]("b"), r.getAs[Long]("c"),
          Option(r.getAs[java.lang.Double]("chi2"))))).toMap

    got shouldBe want
    got("g")._4 shouldBe Some(0.571429)
    got("z")._4 shouldBe None
  }

  test("essStream: last emission equals batch effectiveSampleSize, " +
    "order-independent across shuffled batches") {
    val ss = spark
    import ss.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // a: {3,1} -> ess 1.6 / 800000 ppm / cv 0.5; b: equal weights;
    // zero/negative weights excluded in both paths
    val rows = Seq(("a", 3), ("a", 1), ("b", 5), ("b", 5), ("b", 5),
      ("b", 0), ("b", -2))
    val input = MemoryStream[(String, Int)]
    val query = StreamingOps.essStream(
        input.toDF().toDF("k", "w"), "k", "w")
      .writeStream.format("memory").queryName("t_ess")
      .outputMode("update")
      .option("checkpointLocation", ckpt())
      .start()
    try {
      val (b1, b2) = rows.splitAt(3)
      Seq(b2.reverse, b1).foreach { b => // shuffled: moments commute
        input.addData(b: _*); query.processAllAvailable()
      }
    } finally query.stop()

    val got = spark.table("t_ess")
      .groupBy("key").agg(last("n").as("n"), last("sum_w").as("sum_w"),
        last("ess").as("ess"), last("ess_ppm").as("ppm"),
        last("cv").as("cv"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4),
          Option(r.getAs[java.lang.Double]("cv"))))).toMap

    val want = graft.operators.Sampling.effectiveSampleSize(
        rows.toDF("k", "w"), Seq("k"), "w")
      .collect().map(r => r.getString(0) ->
        ((r.getAs[Long]("n"), r.getAs[Long]("sum_w"),
          r.getAs[Double]("ess"), r.getAs[Long]("ess_ppm"),
          Option(r.getAs[java.lang.Double]("cv"))))).toMap

    got shouldBe want
    got("a")._4 shouldBe 800000L
  }

  test("sprtStream: last emission equals batch sprt, " +
    "order-independent across shuffled batches") {
    val ss = spark
    import ss.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val rows = (1 to 8).map(_ => ("a", true)) ++
      (1 to 2).map(_ => ("a", false)) ++
      Seq(("b", true)) ++ (1 to 9).map(_ => ("b", false))
    val input = MemoryStream[(String, Boolean)]
    val query = StreamingOps.sprtStream(
        input.toDF().toDF("k", "y"), "k", "y", 1L, 4L, 1L, 2L, 50L, 50L)
      .writeStream.format("memory").queryName("t_sprt")
      .outputMode("update")
      .option("checkpointLocation", ckpt())
      .start()
    try {
      val (b1, b2) = rows.splitAt(7)
      Seq(b2.reverse, b1).foreach { b =>
        input.addData(b: _*); query.processAllAvailable()
      }
    } finally query.stop()

    val got = spark.table("t_sprt")
      .groupBy("key").agg(last("n").as("n"), last("k").as("kk"),
        last("llr_micro").as("llr"), last("decision").as("d"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap

    val want = graft.operators.Eval.sprt(rows.toDF("g", "y"), "y",
        1L, 4L, 1L, 2L, 50L, 50L, by = Seq("g"))
      .collect().map(r => r.getString(0) ->
        ((r.getAs[Long]("n"), r.getAs[Long]("k"),
          r.getAs[Long]("llr_micro"), r.getAs[String]("decision")))).toMap

    got shouldBe want
    got("a")._4 shouldBe "accept_h1"
    got("b")._4 shouldBe "accept_h0"
  }
}
