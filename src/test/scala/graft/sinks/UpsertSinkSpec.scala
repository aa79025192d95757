package graft.sinks

import java.nio.file.Files

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.matchers.should.Matchers

import graft.SparkTestBase
import graft.codec.Debezium

/** A5 upsert + A2/A3 delete/tombstone + ST3 DLQ semantics, batch and
  * end-to-end through a checkpointed MemoryStream of Debezium JSON. */
class UpsertSinkSpec extends SparkTestBase with Matchers {

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private val rowSchema = StructType(Seq(
    StructField("id", LongType), StructField("name", StringType)))

  /** One Debezium JSON envelope of a `rowSchema` row. */
  private def env(id: Long, name: String, op: String, tsMs: Long): String = {
    val row = s"""{"id": $id, "name": "$name"}"""
    val (before, after) =
      if (op == "d") (row, "null") else ("null", row)
    s"""{"before": $before, "after": $after, "source": {"ts_ms": $tsMs, "lsn": $tsMs}, "op": "$op", "ts_ms": $tsMs}"""
  }

  private def snapshot(t: ParquetKeyedTable): Map[Long, (String, String)] =
    t.read(spark).get.collect()
      .map(r => r.getAs[Long]("id") ->
        ((r.getAs[String]("name"), r.getAs[String]("__deleted"))))
      .toMap

  test("merge: insert, update, delete, tombstone, replay idempotence") {
    val ss = spark
    import ss.implicits._
    val t = new ParquetKeyedTable(tmp("graft-upsert"), Seq("id"))
    def batch(rows: (Long, String, Long, String)*) =
      rows.toDF("id", "name", "ver", "__deleted")
    val order = Seq(col("ver").desc)
    val isDelete = col("__deleted") === "true"

    // epoch 0: inserts, including an intra-batch update (id 2 ver 2 wins)
    t.merge(batch((1L, "a", 1L, "false"), (2L, "b", 1L, "false"),
      (2L, "b2", 2L, "false"), (3L, "c", 1L, "false")), 0L, order, isDelete)
    snapshot(t).view.mapValues(_._1).toMap shouldBe
      Map(1L -> "a", 2L -> "b2", 3L -> "c")

    // epoch 1: update id 1, delete id 3 (rewrite row)
    t.merge(batch((1L, "a9", 9L, "false"), (3L, "c", 9L, "true")),
      1L, order, isDelete)
    snapshot(t).view.mapValues(_._1).toMap shouldBe Map(1L -> "a9", 2L -> "b2")

    // epoch 1 REPLAYED with different payload: must be a no-op
    t.merge(batch((1L, "poison", 99L, "false")), 1L, order, isDelete)
    snapshot(t).view.mapValues(_._1).toMap shouldBe Map(1L -> "a9", 2L -> "b2")
    t.lastEpoch shouldBe Some(1L)

    // epoch 2: delete beats earlier update within one batch (newest wins)
    t.merge(batch((2L, "b3", 10L, "false"), (2L, "gone", 11L, "true")),
      2L, order, isDelete)
    snapshot(t).view.mapValues(_._1).toMap shouldBe Map(1L -> "a9")

    // epoch 3, columns: a batch row replaces the snapshot's row whatever
    // their order values; a batch-only column still breaks the tie
    // between the two id-5 rows but is not stored
    val byExtra = Seq(col("ver").desc, col("extra").desc)
    t.merge(Seq((1L, "a1", 1L, "false", "p"), (5L, "x", 1L, "false", "p"),
        (5L, "y", 1L, "false", "q")).toDF("id", "name", "ver", "__deleted", "extra"),
      3L, byExtra, isDelete)
    snapshot(t).view.mapValues(_._1).toMap shouldBe Map(1L -> "a1", 5L -> "y")
    t.read(spark).get.columns shouldBe Array("id", "name", "ver", "__deleted")

    // a batch lacking a snapshot column fails and commits nothing
    an[AnalysisException] should be thrownBy
      t.merge(Seq((6L, "z")).toDF("id", "name"), 4L, Seq(col("name").desc), lit(false))
    t.lastEpoch shouldBe Some(3L)

    // null keys never match: the snapshot keeps its null-key rows, the
    // batch adds its newest null-key row, a null-key delete removes none
    val n = new ParquetKeyedTable(tmp("graft-upsert-null"), Seq("id"))
    def nbatch(rows: (Option[Long], String, Long, String)*) =
      rows.toDF("id", "name", "ver", "__deleted")
    def names(): Seq[String] =
      n.read(spark).get.select("name").collect().map(_.getString(0)).sorted.toSeq
    n.merge(nbatch((None, "n1", 1L, "false"), (Some(1L), "a", 1L, "false")),
      0L, order, isDelete)
    n.merge(nbatch((None, "n2", 2L, "false"), (None, "n3", 3L, "false"),
      (Some(1L), "a2", 2L, "false")), 1L, order, isDelete)
    names() shouldBe Seq("a2", "n1", "n3")
    n.merge(nbatch((None, "n4", 4L, "true")), 2L, order, isDelete)
    names() shouldBe Seq("a2", "n1", "n3")
  }

  test("merge keeps two snapshots on disk and re-runs an epoch that crashed before the swap") {
    val ss = spark
    import ss.implicits._
    val order = Seq(col("ver").desc)
    val isDelete = col("__deleted") === "true"
    def epoch(e: Long) = (e match {
      case 5L => Seq((5L, "n5", 5L, "false"), (1L, "gone", 5L, "true"))
      case _  => Seq((e, s"n$e", e, "false"), (0L, s"z$e", e, "false"))
    }).toDF("id", "name", "ver", "__deleted")
    val dir = tmp("graft-upsert-gc")
    def versions(): Seq[String] = new java.io.File(dir).listFiles().toSeq
      .map(_.getName).filter(_.matches("v\\d+")).sorted

    val t = new ParquetKeyedTable(dir, Seq("id"))
    (0L until 5L).foreach(e => t.merge(epoch(e), e, order, isDelete))
    versions() shouldBe Seq("v3", "v4")
    val before = snapshot(t)

    // a directory squatting on the temp pointer path makes the swap throw
    // after epoch 5's data is written: the table still reads epoch 4
    val blocker = java.nio.file.Paths.get(dir, "_CURRENT.tmp5")
    Files.createDirectories(blocker.resolve("x"))
    an[java.io.IOException] should be thrownBy t.merge(epoch(5L), 5L, order, isDelete)
    versions() shouldBe Seq("v3", "v4", "v5")
    t.lastEpoch shouldBe Some(4L)
    snapshot(t) shouldBe before

    // the restarted sink re-runs epoch 5 to the table a clean run builds
    Compaction.deleteTree(blocker)
    val restarted = new ParquetKeyedTable(dir, Seq("id"))
    restarted.merge(epoch(5L), 5L, order, isDelete)
    val clean = new ParquetKeyedTable(tmp("graft-upsert-clean"), Seq("id"))
    (0L to 5L).foreach(e => clean.merge(epoch(e), e, order, isDelete))
    snapshot(restarted) shouldBe snapshot(clean)
    snapshot(restarted).keySet shouldBe Set(0L, 2L, 3L, 4L, 5L)
    versions() shouldBe Seq("v4", "v5")
  }

  test("Dlq.route quarantines bad rows with metadata and passes the rest") {
    val ss = spark
    import ss.implicits._
    val dlqDir = tmp("graft-dlq")
    val batch = Seq((1L, "ok"), (2L, null.asInstanceOf[String]), (3L, "ok2"))
      .toDF("id", "payload")
    val good = Dlq.route(batch, col("payload").isNull,
      lit("null payload"), dlqDir, epochId = 7L)
    good.select("id").collect().map(_.getLong(0)).sorted shouldBe Array(1L, 3L)
    val bad = spark.read.parquet(dlqDir).collect()
    bad.length shouldBe 1
    bad.head.getAs[Long]("id") shouldBe 2L
    bad.head.getAs[String]("__error") shouldBe "null payload"
    bad.head.getAs[Long]("__epoch") shouldBe 7L
  }

  test("Dlq.replay drains quarantined epochs through a fix into the keyed sink") {
    val ss = spark
    import ss.implicits._
    val dlqDir = tmp("graft-dlq-replay")
    val t = new ParquetKeyedTable(tmp("graft-dlq-replay-sink"), Seq("id"))
    val order = Seq(col("ver").desc)
    val isDelete = lit(false)
    def deliver(batch: org.apache.spark.sql.DataFrame, epoch: Long): Unit =
      t.merge(batch, epoch, order, isDelete)

    // two epochs with poison rows (null name); clean rows flow through
    for ((rows, e) <- Seq(
        Seq((1L, "a", 1L), (2L, null.asInstanceOf[String], 1L)) -> 0L,
        Seq((3L, null.asInstanceOf[String], 2L), (4L, "d", 2L)) -> 1L)) {
      val good = Dlq.route(rows.toDF("id", "name", "ver"),
        col("name").isNull, lit("null name"), dlqDir, e)
      deliver(good, e)
    }
    snapshot2(t) shouldBe Map(1L -> "a", 4L -> "d")

    // fix the poison (patch the null) and replay under FRESH epochs —
    // original ids would be skipped as replays by the keyed sink
    val replayed = Dlq.replay(spark, dlqDir, startEpoch = 2L,
      fix = _.withColumn("name", coalesce(col("name"), lit("fixed"))))(deliver)
    replayed shouldBe 2
    snapshot2(t) shouldBe Map(1L -> "a", 2L -> "fixed", 3L -> "fixed", 4L -> "d")
    t.lastEpoch shouldBe Some(3L)

    // drained: a second replay finds nothing and changes nothing
    Dlq.replay(spark, dlqDir, startEpoch = 4L)(deliver) shouldBe 0
    t.lastEpoch shouldBe Some(3L)
    // missing quarantine root is a clean no-op too
    Dlq.replay(spark, tmp("graft-dlq-none") + "/never", 0L)(deliver) shouldBe 0
  }

  private def snapshot2(t: ParquetKeyedTable): Map[Long, String] =
    t.read(spark).get.collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[String]("name")).toMap

  test("Dlq.route on an all-clean batch: one pass, no quarantine data, fewer jobs than a guarded write") {
    val ss = spark
    import ss.implicits._
    // parquet-backed batch: a LocalRelation would short-circuit collect/
    // isEmpty without Spark jobs and hide the scan the guard costs
    val srcDir = tmp("graft-dlq-src")
    Seq((1L, "ok"), (2L, "ok2")).toDF("id", "payload")
      .write.mode("overwrite").parquet(srcDir)
    val batch = spark.read.parquet(srcDir)
    val isBad = col("payload").isNull

    // jobs submitted while a body runs, via job group + statusTracker
    // (the status store is fed async — poll until stable)
    val sc = spark.sparkContext
    def countJobs(group: String)(body: => Unit): Int = {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
      var last = -1
      var cur = sc.statusTracker.getJobIdsForGroup(group).length
      while (cur != last) {
        Thread.sleep(300); last = cur
        cur = sc.statusTracker.getJobIdsForGroup(group).length
      }
      cur
    }

    // clean batch: the unconditional empty write must not litter data
    // files (only _SUCCESS) — the cost objection to dropping the guard
    val dlqDir = tmp("graft-dlq-clean")
    Dlq.route(batch, isBad, lit("null payload"), dlqDir, epochId = 1L)
      .collect().length shouldBe 2
    val files = Option(new java.io.File(dlqDir).listFiles()).get
      .map(_.getName).filter(n => !n.startsWith("_") && !n.startsWith("."))
    files shouldBe empty

    // dirty batch: single-pass route beats the pre-fix isEmpty-guarded
    // form, which evaluated the bad filter twice (probe job + write job)
    val dirtyDir = tmp("graft-dlq-dirty-src")
    Seq((1L, "ok"), (2L, null.asInstanceOf[String])).toDF("id", "payload")
      .write.mode("overwrite").parquet(dirtyDir)
    val dirty = spark.read.parquet(dirtyDir)

    val routedJobs = countJobs("dlq-route") {
      Dlq.route(dirty, isBad, lit("null payload"), tmp("graft-dlq-r"),
        epochId = 1L).collect().length shouldBe 1
    }
    val guardedJobs = countJobs("dlq-guarded") {
      val bad = dirty.filter(isBad)
      if (!bad.isEmpty) bad.write.mode("append").parquet(tmp("graft-dlq-g"))
      dirty.filter(!coalesce(isBad, lit(false))).collect().length shouldBe 1
    }
    routedJobs should be < guardedJobs
  }

  test("withRetry re-runs a transiently failing sink with backoff, then fails for good") {
    val ss = spark
    import ss.implicits._
    val batch = Seq((1L, "ok")).toDF("id", "payload")

    // transient (IOException = retryable): first two attempts throw,
    // third lands
    var calls = 0
    val flaky: (org.apache.spark.sql.DataFrame, Long) => Unit = (_, _) => {
      calls += 1
      if (calls < 3) throw new java.io.IOException("transient")
    }
    Dlq.withRetry(attempts = 3, delayMs = 1)(flaky)(batch, 7L)
    calls shouldBe 3

    // exhausted: the final exception propagates (fails the stream)
    var calls2 = 0
    val alwaysDown: (org.apache.spark.sql.DataFrame, Long) => Unit = (_, _) => {
      calls2 += 1
      throw new java.io.IOException("hard down")
    }
    the[java.io.IOException] thrownBy
      Dlq.withRetry(attempts = 3, delayMs = 1)(alwaysDown)(batch, 8L) should
      have message "hard down"
    calls2 shouldBe 3

    // deterministic (plain RuntimeException, e.g. an analysis/schema
    // error): rethrown on the FIRST attempt, no retry burn
    var calls3 = 0
    val broken: (org.apache.spark.sql.DataFrame, Long) => Unit = (_, _) => {
      calls3 += 1
      throw new RuntimeException("schema mismatch")
    }
    the[RuntimeException] thrownBy
      Dlq.withRetry(attempts = 3, delayMs = 1)(broken)(batch, 9L) should
      have message "schema mismatch"
    calls3 shouldBe 1

    // transience detected through the cause chain (Spark wrapping)
    var calls4 = 0
    val wrapped: (org.apache.spark.sql.DataFrame, Long) => Unit = (_, _) => {
      calls4 += 1
      if (calls4 < 2)
        throw new RuntimeException("wrapper",
          new java.sql.SQLTransientConnectionException("conn reset"))
    }
    Dlq.withRetry(attempts = 3, delayMs = 1)(wrapped)(batch, 10L)
    calls4 shouldBe 2
  }

  test("end-to-end: Debezium JSON stream -> unwrap -> DLQ -> upsert table") {
    val ss = spark
    import ss.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val tableDir = tmp("graft-e2e-table")
    val dlqDir = tmp("graft-e2e-dlq")
    val table = new ParquetKeyedTable(tableDir, Seq("id"))

    val input = MemoryStream[String]
    val unwrapped = Debezium.unwrap(
      input.toDF().withColumnRenamed("value", "json"), "json", rowSchema,
      keep = Seq("json"))
    val sink = Dlq.withDlq(col("id").isNull, lit("unparseable or keyless"), dlqDir)(
      table.foreachBatchMerge(Seq(col("__ts_ms").desc), col("__deleted") === "true"))
    val query = unwrapped.writeStream
      .outputMode("append")
      .option("checkpointLocation", tmp("graft-e2e-ckpt"))
      .foreachBatch(sink)
      .start()
    try {
      input.addData(env(1, "alice", "c", 100), env(2, "bob", "c", 101),
        "THIS IS NOT JSON")
      query.processAllAvailable()
      input.addData(env(1, "alice2", "u", 200), env(2, "bob", "d", 201),
        env(3, "carol", "c", 202))
      query.processAllAvailable()
    } finally query.stop()

    val rows = table.read(spark).get
      .select("id", "name", "__deleted")
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    rows shouldBe Map(1L -> "alice2", 3L -> "carol")
    // the malformed record landed in the DLQ, not the table
    val dlq = spark.read.parquet(dlqDir)
    dlq.count() shouldBe 1
    dlq.select("json").head().getString(0) shouldBe "THIS IS NOT JSON"
  }

  test("foreachBatchMerge reads each micro-batch once: numInputRows and MetricsFeed count every row once") {
    val ss = spark
    import ss.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ev(id: Long, op: String, tsMs: Long) = env(id, s"n$tsMs", op, tsMs)
    val batches = Seq(
      Seq(ev(1, "c", 1), ev(2, "c", 2), ev(3, "c", 3)),
      Seq(ev(1, "u", 4), ev(2, "d", 5), ev(4, "c", 6), ev(4, "u", 7)),
      Seq(ev(2, "c", 8), ev(3, "u", 9)),
      Seq(ev(5, "c", 10)))

    val table = new ParquetKeyedTable(tmp("graft-count-table"), Seq("id"))
    val feed = new graft.obs.MetricsFeed
    spark.streams.addListener(feed)
    val input = MemoryStream[String]
    val query = Debezium.unwrap(input.toDF().withColumnRenamed("value", "json"),
        "json", rowSchema)
      .writeStream.queryName("graft_upsert_count")
      .option("checkpointLocation", tmp("graft-count-ckpt"))
      .foreachBatch(table.foreachBatchMerge(Seq(col("__ts_ms").desc),
        col("__deleted") === "true"))
      .start()
    def fed(name: String): Double = feed.toDF(spark)
      .filter(col("name") === name && col("query") === "graft_upsert_count")
      .agg(sum("value"), count("*")).head() match {
        case r if r.getLong(1) >= batches.length => r.getDouble(0)
        case _ => Double.NaN
      }
    try {
      batches.foreach { b => input.addData(b); query.processAllAvailable() }
      // listener events arrive asynchronously: wait for every batch's sample
      val deadline = System.nanoTime() + 30e9.toLong
      while (fed("num_input_rows").isNaN && System.nanoTime() < deadline) Thread.sleep(100)
      query.recentProgress.map(_.numInputRows).sum shouldBe batches.map(_.length).sum
      fed("num_input_rows") shouldBe batches.map(_.length).sum.toDouble
    } finally {
      query.stop()
      spark.streams.removeListener(feed)
    }
    snapshot2(table) shouldBe Map(1L -> "n4", 2L -> "n8", 3L -> "n9", 4L -> "n7", 5L -> "n10")
  }
}
