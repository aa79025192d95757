package graft.obs

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/**
 * Observability plane (SURVEY §2.9): the reference scrapes Connect's
 * JMX exporter into Prometheus every 5 s and graphs rate/sum-by panels
 * over it (prometheus/prometheus.yml:29-37, grafana/dashboards/
 * connect.json). Our engine's equivalent instrument is the
 * `StreamingQueryListener`: every micro-batch progress event becomes a
 * metrics row, and the §2.9 query pack (sum-by → q12/q32, rate → q17/
 * q33, label remap → q32) runs over the resulting table like any other
 * events table.
 *
 * Samples mirror the panels the reference actually displays:
 * input/processed rows per second (Source Record Poll/Write rate),
 * batch duration, and per-query state-store rows. Batch duration is
 * also split into the micro-batch's phases (source offsets,
 * write-ahead log, source batch, planning, sink, offset commit), so a cost
 * such as a per-batch file-listing job shows in the phase it sits in.
 */
final class MetricsFeed extends StreamingQueryListener {

  /** One gauge/counter sample, Prometheus-shaped: (series name, query
    * label, batch id as the scrape instant's ordinal, value). */
  final case class Sample(name: String, query: String, batchId: Long, value: Double)

  private val samples = new ConcurrentLinkedQueue[Sample]()

  override def onQueryStarted(event: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(event: QueryTerminatedEvent): Unit = ()

  override def onQueryProgress(event: QueryProgressEvent): Unit = {
    val p = event.progress
    val q = Option(p.name).getOrElse(p.id.toString)
    def put(name: String, v: Double): Unit =
      if (!v.isNaN) { samples.add(Sample(name, q, p.batchId, v)): Unit }
    put("input_rows_per_second", p.inputRowsPerSecond)
    put("processed_rows_per_second", p.processedRowsPerSecond)
    put("num_input_rows", p.numInputRows.toDouble)
    Option(p.durationMs.get("triggerExecution"))
      .foreach(d => put("trigger_execution_ms", d.toDouble))
    MetricsFeed.phases.foreach { case (phase, name) =>
      Option(p.durationMs.get(phase)).foreach(d => put(name, d.toDouble))
    }
    p.stateOperators.zipWithIndex.foreach { case (s, i) =>
      put(s"state_rows_total_op$i", s.numRowsTotal.toDouble)
    }
  }

  /** Latest value per (metric, query) — the "current gauge reading" a
    * scrape endpoint exposes. Deterministic order for rendering. */
  def latest: Seq[(String, String, Double)] =
    samples.asScala.toSeq
      .groupBy(s => (s.name, s.query))
      .map { case ((n, q), ss) => (n, q, ss.maxBy(_.batchId).value) }
      .toSeq.sortBy(t => (t._1, t._2))

  /** Drain the collected samples into a queryable metrics table — the
    * engine-side stand-in for the Prometheus TSDB. */
  def toDF(spark: SparkSession): DataFrame = {
    val ss = spark
    import ss.implicits._
    samples.asScala.toSeq
      .map(s => (s.name, s.query, s.batchId, s.value))
      .toDF("name", "query", "batch_id", "value")
  }

  def clear(): Unit = samples.clear()
}

object MetricsFeed {
  /** `progress.durationMs` phase → sample name, in the order a micro-batch
    * runs them; a phase a batch skips has no key and gets no sample. */
  val phases: Seq[(String, String)] = Seq(
    "latestOffset" -> "latest_offset_ms",
    "walCommit" -> "wal_commit_ms",
    "getBatch" -> "get_batch_ms",
    "queryPlanning" -> "query_planning_ms",
    "addBatch" -> "add_batch_ms",
    "commitOffsets" -> "commit_offsets_ms")
}
