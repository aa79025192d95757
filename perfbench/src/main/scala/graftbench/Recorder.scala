package graftbench

import java.time.Instant

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** Raw trace data, gathered only in traced runs through Spark's public
  * listener interfaces. Everything is kept in memory and written out
  * once, when the run ends; run.py turns it into spans and per-layer
  * metrics. */
final class Recorder extends SparkListener {

  private final class Stage(val id: Int, val job: Int) {
    var submitMs, completeMs = 0L
    var tasks, cpuNs, runMs, gcMs, inBytes, shuffleRead, shuffleWrite, spill,
        outBytes, outRecords = 0L
  }
  private final class Job(val id: Int, val group: String, val query: String,
                          val batch: String, val startMs: Long, val stageIds: Seq[Int]) {
    var endMs = 0L
  }

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stages = mutable.LinkedHashMap.empty[Int, Stage]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val progress = mutable.ArrayBuffer.empty[ObjectNode]

  private def stage(id: Int): Stage =
    stages.getOrElseUpdate(id, new Stage(id, stageJob.getOrElse(id, -1)))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k))).getOrElse("")
    jobs(e.jobId) = new Job(e.jobId, prop("spark.jobGroup.id"), prop("sql.streaming.queryId"),
      prop("streaming.sql.batchId"), e.time, e.stageIds)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stage(e.stageInfo.stageId).submitMs = e.stageInfo.submissionTime.getOrElse(0L)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = stage(e.stageInfo.stageId)
    s.submitMs = e.stageInfo.submissionTime.getOrElse(s.submitMs)
    s.completeMs = e.stageInfo.completionTime.getOrElse(0L)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val s = stage(e.stageId)
      s.tasks += 1
      s.cpuNs += m.executorCpuTime
      s.runMs += m.executorRunTime
      s.gcMs += m.jvmGCTime
      s.inBytes += m.inputMetrics.bytesRead
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.outBytes += m.outputMetrics.bytesWritten
      s.outRecords += m.outputMetrics.recordsWritten
    }
  }

  /** Per-trigger progress, the monitoring interface of Structured Streaming. */
  val streaming: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      val n = Json.mapper.createObjectNode()
      n.put("query", p.id.toString)
      n.put("batch", p.batchId)
      n.put("start_ms", Instant.parse(p.timestamp).toEpochMilli)
      n.put("rows", p.numInputRows)
      val d = n.putObject("duration_ms")
      p.durationMs.asScala.foreach { case (k, v) => d.put(k, v.longValue) }
      Recorder.this.synchronized { progress += n }
    }
  }

  def write(out: ObjectNode): Unit = synchronized {
    val js: ArrayNode = out.putArray("jobs")
    jobs.values.foreach { j =>
      val n = js.addObject()
      n.put("id", j.id); n.put("group", j.group); n.put("query", j.query); n.put("batch", j.batch)
      n.put("start_ms", j.startMs); n.put("end_ms", j.endMs)
    }
    val ss = out.putArray("stages")
    stages.values.foreach { s =>
      val n = ss.addObject()
      n.put("id", s.id); n.put("job", stageJob.getOrElse(s.id, s.job))
      n.put("submit_ms", s.submitMs); n.put("complete_ms", s.completeMs)
      n.put("tasks", s.tasks); n.put("cpu_ms", s.cpuNs / 1e6); n.put("run_ms", s.runMs)
      n.put("gc_ms", s.gcMs); n.put("in_bytes", s.inBytes)
      n.put("shuffle_read", s.shuffleRead); n.put("shuffle_write", s.shuffleWrite)
      n.put("spill", s.spill); n.put("out_bytes", s.outBytes); n.put("out_records", s.outRecords)
    }
    val ps = out.putArray("progress")
    progress.foreach(ps.add)
  }
}
