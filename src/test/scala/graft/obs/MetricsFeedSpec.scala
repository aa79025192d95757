package graft.obs

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

import graft.SparkTestBase

/** The StreamingQueryListener → metrics-table feed (§2.9), queried with
  * the same sum-by/rate shapes the reference's Grafana panels use. */
class MetricsFeedSpec extends SparkTestBase with Matchers {

  test("Relabel maps raw JMX-ish names to renamed series with extracted labels") {
    val ss = spark
    import ss.implicits._
    val raw = Seq(
      "kafka.connect<type=connect-worker-metrics, connector=jdbc-src>",
      "kafka.connect<type=connect-worker-metrics, connector=debezium>",
      "unrelated_metric_name").toDF("raw")
    val out = Relabel.relabel(raw, "raw",
        pattern = "kafka\\.connect<type=connect-worker-metrics, connector=(.+)>",
        nameTemplate = "kafka_connect_worker_connector_metrics",
        labels = Map("connector" -> 1))
      .select("name", "connector")
      .collect().map(r => (r.getString(0), r.getString(1))).sortBy(_.toString)
    out should contain ("kafka_connect_worker_connector_metrics" -> "jdbc-src")
    out should contain ("kafka_connect_worker_connector_metrics" -> "debezium")
    out should contain ("unrelated_metric_name" -> "")
  }

  test("MetricsFeed captures per-batch progress as queryable metric rows") {
    val ss = spark
    import ss.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val feed = new MetricsFeed
    spark.streams.addListener(feed)
    val input = MemoryStream[Long]
    val query = input.toDF().writeStream
      .format("memory").queryName("metrics_probe")
      .option("checkpointLocation", Files.createTempDirectory("graft-obs").toString)
      .outputMode("append")
      .start()
    try {
      input.addData(1L to 100L)
      query.processAllAvailable()
      input.addData(101L to 250L)
      query.processAllAvailable()
      // listener events are delivered asynchronously; wait for both
      // batches' commit_offsets_ms, the last sample a data batch puts
      val deadline = System.nanoTime() + 30e9.toLong
      def landed(): Boolean = feed.toDF(spark)
        .filter(col("name") === "commit_offsets_ms")
        .filter(col("query") === "metrics_probe")
        .count() >= 2
      while (!landed() && System.nanoTime() < deadline) Thread.sleep(100)
      landed() shouldBe true
    } finally {
      query.stop()
      spark.streams.removeListener(feed)
    }

    val metrics = feed.toDF(spark)
    // sum-by panel over the feed (connect.json:467 shape)
    val total = metrics
      .filter(col("name") === "num_input_rows" && col("query") === "metrics_probe")
      .agg(sum("value")).head().getDouble(0)
    total shouldBe 250.0
    // every sample row is (name, query, batch_id, value)-shaped
    metrics.columns shouldBe Array("name", "query", "batch_id", "value")
    // each batch that read data is split into all six phases, each
    // within the batch's trigger time
    val dataBatches = metrics.filter(col("query") === "metrics_probe").collect()
      .groupBy(_.getLong(2)).values
      .map(_.map(r => r.getString(0) -> r.getDouble(3)).toMap)
      .filter(_.getOrElse("num_input_rows", 0.0) > 0)
    dataBatches should have size 2
    dataBatches.foreach { m =>
      MetricsFeed.phases.foreach { case (_, name) =>
        withClue(s"$name: ") {
          m.keySet should contain (name)
          m(name) should (be >= 0.0 and be <= m("trigger_execution_ms"))
        }
      }
    }
  }

  test("/metrics exposition roundtrips through the engine's own scrape parser") {
    val ss = spark
    import ss.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // land real gauge samples via a streaming query
    val feed = new MetricsFeed
    spark.streams.addListener(feed)
    val input = MemoryStream[Long]
    val query = input.toDF().writeStream
      .format("memory").queryName("expose_probe")
      .option("checkpointLocation", Files.createTempDirectory("graft-obs").toString)
      .outputMode("append")
      .start()
    try {
      input.addData(1L to 50L)
      query.processAllAvailable()
      val deadline = System.nanoTime() + 30e9.toLong
      while (feed.latest.isEmpty && System.nanoTime() < deadline)
        Thread.sleep(100)
    } finally {
      query.stop()
      spark.streams.removeListener(feed)
    }
    val want = feed.latest.filter(_._2 == "expose_probe")
    want should not be empty

    // serve them at /metrics (the reference's :9876/metrics twin)...
    val reg = new graft.core.PipelineRegistry(spark)
    val facade = new graft.core.RestFacade(reg,
      metricsText = Some(() => PromExpose.render(feed.latest)))
    facade.start()
    val body =
      try {
        val http = java.net.http.HttpClient.newHttpClient()
        val resp = http.send(
          java.net.http.HttpRequest.newBuilder(java.net.URI.create(
            s"http://127.0.0.1:${facade.boundPort}/metrics")).GET().build(),
          java.net.http.HttpResponse.BodyHandlers.ofString())
        resp.statusCode() shouldBe 200
        resp.headers().firstValue("Content-Type").orElse("") should
          startWith("text/plain")
        resp.body()
      } finally facade.close()

    // ...and close the loop with the engine's OWN exposition parser
    val parsed = graft.sources.PromText
      .parse(body.linesIterator.toSeq.toDF("line"), "line")
      .filter(col("labels").getItem("query") === "expose_probe")
      .select("name", "value")
      .collect().map(r => (r.getString(0), r.getDouble(1))).sorted
    val wanted = want.map { case (n, _, v) => (s"graft_$n", v) }.sorted
    parsed should contain theSameElementsInOrderAs wanted

    // a facade built without a metrics source answers 404
    val bare = new graft.core.RestFacade(reg)
    bare.start()
    try {
      val http = java.net.http.HttpClient.newHttpClient()
      val resp = http.send(
        java.net.http.HttpRequest.newBuilder(java.net.URI.create(
          s"http://127.0.0.1:${bare.boundPort}/metrics")).GET().build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      resp.statusCode() shouldBe 404
    } finally bare.close()
  }
}
