package graft.core

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

import graft.SparkTestBase

/** The file source lists a micro-batch's files on the driver: a batch of
  * 40 files (over Spark's default parallel-listing threshold of 32) runs
  * one Spark job, the sink's write, and no listing job before it. */
class FileStreamListingSpec extends SparkTestBase with Matchers {

  private val QueryIdKey = "sql.streaming.queryId"
  private val BatchIdKey = "streaming.sql.batchId"
  private val MarkerKey = "graft.spec.listenerMarker"

  test("a 40-file micro-batch runs one Spark job and delivers every row once, masked") {
    val files = 40
    val rowsPerFile = 25
    val in = Files.createTempDirectory("graft-listing-in")
    val out = Files.createTempDirectory("graft-listing-out")
    (0 until files).foreach { f =>
      val lines = (0 until rowsPerFile).map { i =>
        val id = f * rowsPerFile + i
        s"""{"id": $id, "name": "user-$id", "updated_at": "2025-01-01T00:00:00.000Z", """ +
          s""""private_info": "secret-$id"}"""
      }
      Files.write(in.resolve(f"users-$f%03d.json"), lines.mkString("", "\n", "\n").getBytes(UTF_8))
    }
    // no maxFilesPerTrigger: availableNow drains all 40 files as one batch
    val spec = PipelineSpec.fromJson(
      s"""{
         |  "name": "users-listing",
         |  "source": {"type": "file", "options": {"format": "json", "path": "$in",
         |    "schema": "id INT, name STRING, updated_at TIMESTAMP, private_info STRING"}},
         |  "transforms": [
         |    {"type": "mask", "options": {"field": "private_info"}},
         |    {"type": "envelope_encode", "options": {"name": "users"}}
         |  ],
         |  "sink": {"type": "file", "options": {"path": "$out/sink",
         |    "checkpoint": "$out/checkpoint", "trigger": "availableNow"}}
         |}""".stripMargin)

    val jobs = new ConcurrentLinkedQueue[(String, String)]() // (query id, batch id)
    val markerSeen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
        prop(QueryIdKey).foreach(q => jobs.add(q -> prop(BatchIdKey).getOrElse("")))
        if (prop(MarkerKey).isDefined) markerSeen.countDown()
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    val query =
      try {
        val q = Pipeline.runStream(spark, spec)
        q.awaitTermination(120000L) shouldBe true
        q.exception shouldBe None
        // the listener bus delivers in order: once a job started after the
        // query has been seen, every job of the query has been seen too
        sc.setLocalProperty(MarkerKey, "1")
        try spark.range(1).count() finally sc.setLocalProperty(MarkerKey, null)
        markerSeen.await(30, TimeUnit.SECONDS) shouldBe true
        q
      } finally sc.removeSparkListener(listener)

    val withData = query.recentProgress.filter(_.numInputRows > 0)
    withData.map(_.batchId).toSeq shouldBe Seq(0L)
    query.recentProgress.map(_.numInputRows).sum shouldBe files * rowsPerFile
    val batchJobs = jobs.asScala.toSeq.filter(_._1 == query.id.toString)
    withClue("jobs (query id, batch id) of the batch: ") {
      batchJobs shouldBe Seq(query.id.toString -> "0")
    }

    // the committed files (read through the sink's metadata log) hold
    // every row exactly once, with private_info masked
    val rows = spark.read.parquet(s"$out/sink")
      .select(
        get_json_object(col("value"), "$.payload.id").cast("int"),
        get_json_object(col("value"), "$.payload.name"),
        get_json_object(col("value"), "$.payload.private_info"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2)))
    rows.map(_._1).sorted.toSeq shouldBe (0 until files * rowsPerFile)
    rows.foreach { case (id, name, privateInfo) =>
      name shouldBe s"user-$id"
      privateInfo shouldBe "CENSORED"
    }
  }
}
