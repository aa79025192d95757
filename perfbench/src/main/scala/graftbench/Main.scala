package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.core.{GraftSession, Pipeline, PipelineSpec}
import graft.obs.MetricsFeed
import graft.sinks.ParquetKeyedTable

object Json {
  val mapper = new ObjectMapper()
}

/** Run parameters, written by run.py as `<run dir>/params.json`. */
final class Params(root: JsonNode) {
  def str(k: String): String = root.get(k).asText()
  def int(k: String): Int = root.get(k).asInt()
  def bool(k: String): Boolean = root.get(k).asBoolean()
  def strs(k: String): Seq[String] = root.get(k).elements().asScala.map(_.asText()).toSeq
  /** A pipeline spec stored as a JSON object, with `{round}` replaced. */
  def spec(k: String, round: Int = 0): PipelineSpec =
    PipelineSpec.fromJson(Json.mapper.writeValueAsString(root.get(k)).replace("{round}", round.toString))
}

/**
 * JVM side of the benchmark: runs one workload through the library's
 * public entry points and writes raw timings to `<run dir>/result.json`.
 * run.py owns input generation, output checks and the metric arithmetic.
 *
 * Usage: graftbench.Main <run dir>
 */
object Main {

  def main(args: Array[String]): Unit = {
    val run = Paths.get(args(0))
    val p = new Params(Json.mapper.readTree(run.resolve("params.json").toFile))
    val out = Json.mapper.createObjectNode()
    val rec = if (p.bool("trace")) Some(new Recorder) else None
    try {
      p.str("workload") match {
        case "users_to_topic" => Ingest.usersToTopic(p, run, rec, out)
        case "cdc_to_table"   => Ingest.cdcToTable(p, run, rec, out)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
    } catch {
      case NonFatal(e) => out.put("error", s"${e.getClass.getName}: ${e.getMessage}")
    }
    Files.write(run.resolve("result.json"), Json.mapper.writeValueAsBytes(out))
  }

  def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Wall clock in epoch milliseconds with sub-millisecond resolution. */
  private val epochBase = System.currentTimeMillis() - System.nanoTime() / 1e6
  def nowMs(): Double = epochBase + System.nanoTime() / 1e6

  /** Set up `setup_rounds` times: create the session, then run the
    * workload's warm-up. Round 0 counts from JVM start (class loading,
    * JIT); later rounds stop the session and build a fresh one. The
    * last session is returned for the measured run. */
  def setup(p: Params, out: ObjectNode, warm: (SparkSession, Int) => Unit): SparkSession = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val secs = out.putArray("setup_s")
    var spark: SparkSession = null
    for (round <- 0 until p.int("setup_rounds")) {
      if (spark != null) spark.stop()
      val t0 = if (round == 0) jvmStart else nowMs()
      spark = GraftSession.local(p.int("cores"))
      warm(spark, round)
      secs.add((nowMs() - t0) / 1e3)
    }
    spark
  }

  def attach(spark: SparkSession, rec: Option[Recorder]): Unit = rec.foreach { r =>
    spark.sparkContext.addSparkListener(r)
    spark.streams.addListener(r.streaming)
  }

  /** Listener events are delivered asynchronously; give the bus time to
    * drain before reading what the listeners gathered. */
  def settle(rec: Option[Recorder]): Unit = if (rec.isDefined) Thread.sleep(1500)

  def writeText(path: Path, s: String): Unit =
    Files.write(path, s.getBytes(StandardCharsets.UTF_8)): Unit
}

/** The workloads: Pipeline.runStream over generated files. */
object Ingest {
  import Main._

  /** The repo's own metrics plane, kept for the cross-check in run.py. */
  private def feedSamples(feed: MetricsFeed, spark: SparkSession, out: ObjectNode): Unit = {
    val arr = out.putArray("feed")
    feed.toDF(spark).collect().foreach { r =>
      val n = arr.addObject()
      n.put("name", r.getString(0)); n.put("query", r.getString(1))
      n.put("batch", r.getLong(2)); n.put("value", r.getDouble(3))
    }
  }

  /** Open loop: the generator process drops files on a schedule while the
    * pipeline runs under its processing-time trigger. */
  def usersToTopic(p: Params, run: Path, rec: Option[Recorder], out: ObjectNode): Unit = {
    val spark = setup(p, out, (s, round) =>
      Pipeline.runStream(s, p.spec("warm_spec", round)).awaitTermination())
    attach(spark, rec)
    val feed = new MetricsFeed
    if (rec.isDefined) spark.streams.addListener(feed)
    val t0 = nowMs()
    val q = Pipeline.runStream(spark, p.spec("spec"))
    out.put("build_ms", nowMs() - t0)
    out.put("query", q.id.toString)
    // hand over to the generator, then wait until it has written every file
    writeText(run.resolve("ready"), "")
    val done = run.resolve("feeder.done")
    val deadline = nowMs() + p.int("timeout_s") * 1e3
    // CPU over time, so run.py can cut the measured window out of the run
    val cpu = out.putArray("cpu_samples")
    def sample(): Unit = { val a = cpu.addArray(); a.add(nowMs()); a.add(cpuNs() / 1e9) }
    while (!Files.exists(done) && nowMs() < deadline && q.isActive) {
      sample()
      Thread.sleep(50)
    }
    q.processAllAvailable()
    sample()
    q.stop()
    rec.foreach { r =>
      Micro.run(spark, out)
      OperatorsProbe.run(spark, p, run, out)
      settle(rec)
      r.write(out)
      feedSamples(feed, spark, out)
    }
    spark.stop()
  }

  /** Capacity: drain a seeded backlog of Debezium envelopes into the keyed
    * MERGE sink under availableNow, `drains` times, each into a fresh sink
    * and checkpoint, so run.py can report medians over the drains. */
  def cdcToTable(p: Params, run: Path, rec: Option[Recorder], out: ObjectNode): Unit = {
    var spark = setup(p, out, (s, round) =>
      Pipeline.runStream(s, p.spec("warm_spec", round)).awaitTermination())
    attach(spark, rec)
    val feed = new MetricsFeed
    if (rec.isDefined) spark.streams.addListener(feed)
    val drains = out.putArray("drains")
    for (i <- 0 until p.int("drains")) {
      val d = drains.addObject()
      val cpu0 = cpuNs()
      val t0 = nowMs()
      val q = Pipeline.runStream(spark, p.spec("spec", i))
      d.put("build_ms", nowMs() - t0)
      d.put("start_ms", t0)
      q.awaitTermination()
      d.put("end_ms", nowMs())
      d.put("cpu_s", (cpuNs() - cpu0) / 1e9)
      d.put("query", q.id.toString)
      val table = new ParquetKeyedTable(p.str("sink").replace("{round}", i.toString), Seq("id"))
      val rows = table.read(spark).map(_.toJSON.collect().toSeq).getOrElse(Nil)
      writeText(run.resolve(s"snapshot-$i.jsonl"), rows.mkString("", "\n", "\n"))
    }
    settle(rec)
    rec.foreach { r =>
      r.write(out)
      feedSamples(feed, spark, out)
      Micro.run(spark, out)
      // the single-threaded baseline: one drain on local[1]
      spark.stop()
      spark = GraftSession.local(1)
      val t1 = nowMs()
      Pipeline.runStream(spark, p.spec("spec_1core")).awaitTermination()
      out.put("one_core_s", (nowMs() - t1) / 1e3)
    }
    spark.stop()
  }
}

/** The operators probe of traced runs: a seeded, stratified set of
  * registry queries over the generated tables. Each runs once with its
  * result kept as parquet for run.py's check, then once through the noop
  * sink, untimed, to warm up, then once more, timed, in its own job group. */
object OperatorsProbe {
  import Main._

  def run(spark: SparkSession, p: Params, run: Path, out: ObjectNode): Unit = {
    val tables = p.str("tables")
    val names = p.strs("queries")
    val queries = SparkEntry.queries
    val sc = spark.sparkContext
    def scrub(): Unit = {
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      spark.catalog.clearCache()
    }
    val checks = out.putObject("checks")
    names.foreach { n =>
      try {
        queries(n)(spark, tables).write.mode("overwrite").parquet(run.resolve("out").resolve(n).toString)
        checks.put(n, "")
      } catch { case NonFatal(e) => checks.put(n, s"${e.getClass.getName}: ${e.getMessage}") }
      scrub()
    }
    names.foreach { n =>
      try queries(n)(spark, tables).write.format("noop").mode("overwrite").save()
      catch { case NonFatal(_) => () } // the check above has recorded it
      scrub()
    }
    val execs = out.putArray("executions")
    names.foreach { n =>
      val e = execs.addObject()
      val group = s"q:$n"
      e.put("query", n); e.put("group", group)
      sc.setJobGroup(group, n, interruptOnCancel = false)
      e.put("start_ms", nowMs())
      try {
        val df = queries(n)(spark, tables)
        df.queryExecution.executedPlan
        e.put("plan_end_ms", nowMs())
        df.write.format("noop").mode("overwrite").save()
        e.put("end_ms", nowMs())
        e.put("materialized_bytes", sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum)
      } catch {
        case NonFatal(x) => e.put("error", s"${x.getClass.getName}: ${x.getMessage}")
      }
      sc.clearJobGroup()
      scrub()
    }
  }
}
