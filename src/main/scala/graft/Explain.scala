package graft
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** Dev tool: dump `.explain("formatted")` for the named queries to
  * `<outDir>/<query>_<tag>.txt`, and with `time` also run each one
  * through the noop sink (an untimed warm-up, then the median of 3 — the
  * bench's timed-action shape) so a plan change and its wall-clock
  * effect are captured together.
  *
  * The 3 timed runs carry a stage-metrics listener, and a table of
  * where the wall clock went follows the timing line: per stage the task
  * count, executor run time, CPU, GC, wall span and shuffle read/write
  * bytes. It says whether the time is many tiny stages (scheduling), GC,
  * or a few fat stages (real compute / skew).
  *
  * Usage: graft.Explain <sfDir> <outDir> <tag> <q1,q2,...|all> [time]
  * Exits 1 when any named query fails.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = SparkEntry.session("graft-explain")
    val failed = try run(spark, args) finally spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }

  /** The tool on a caller-owned session; returns the failed query names. */
  def run(spark: SparkSession, args: Array[String]): Seq[String] = {
    val Array(sfDir, outDir, tag, namesArg, rest @ _*) = args: @unchecked
    val doTime = rest.contains("time")
    val queries = SparkEntry.select(Some(namesArg).filter(_ != "all"))
    Files.createDirectories(Paths.get(outDir))
    queries.flatMap { case (name, fn) =>
      try {
        val plan = fn(spark, sfDir).queryExecution.explainString(FormattedMode)
        Files.writeString(Paths.get(s"$outDir/${name}_$tag.txt"), plan)
        if (doTime) profile(spark, name) {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        } else println(s"[explain] $name plan written")
        None
      } catch { case e: Throwable =>
        println(s"[explain] $name FAILED: ${e.getMessage}")
        Some(name)
      }
    }
  }

  private final class StageAgg(var name: String = "", var nTasks: Int = 0,
    var runMs: Long = 0, var gcMs: Long = 0, var cpuMs: Long = 0,
    var shufReadB: Long = 0, var shufWriteB: Long = 0,
    var firstLaunch: Long = Long.MaxValue, var lastFinish: Long = 0)

  /** Warm up once, then time 3 runs under the stage listener and print
    * the median line plus the stage table. */
  private def profile(spark: SparkSession, name: String)(runOnce: => Unit): Unit = {
    val stages = mutable.LinkedHashMap.empty[Int, StageAgg]
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = stages.synchronized {
        val a = stages.getOrElseUpdate(e.stageId, new StageAgg)
        val m = e.taskMetrics
        if (m != null) {
          a.nTasks += 1
          a.runMs += m.executorRunTime
          a.gcMs += m.jvmGCTime
          a.cpuMs += m.executorCpuTime / 1000000L
          a.shufReadB += m.shuffleReadMetrics.totalBytesRead
          a.shufWriteB += m.shuffleWriteMetrics.bytesWritten
        }
        val info = e.taskInfo
        if (info != null) {
          a.firstLaunch = math.min(a.firstLaunch, info.launchTime)
          a.lastFinish = math.max(a.lastFinish, info.finishTime)
        }
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stages.synchronized {
          val a = stages.getOrElseUpdate(e.stageInfo.stageId, new StageAgg)
          a.name = e.stageInfo.name.takeWhile(_ != '\n').take(90)
        }
    }
    def once(): Double = {
      val t0 = System.nanoTime()
      runOnce
      (System.nanoTime() - t0) / 1e9
    }
    once() // warm-up
    spark.sparkContext.addSparkListener(listener)
    val runs = try Seq.fill(3) { SparkEntry.scrub(spark); once() }.sorted
    finally {
      // let straggler task-end events drain before reading the aggregate
      Thread.sleep(500)
      spark.sparkContext.removeSparkListener(listener)
    }
    println(f"[explain] $name%-40s median ${runs(1)}%.3f s " +
      f"(min ${runs.head}%.3f max ${runs.last}%.3f)")
    val all = stages.synchronized(stages.toSeq).sortBy(-_._2.runMs)
    println(f"  3 runs: ${all.size} stages, ${all.map(_._2.nTasks).sum} tasks, " +
      f"run=${all.map(_._2.runMs).sum / 1e3}%.2fs " +
      f"gc=${all.map(_._2.gcMs).sum / 1e3}%.2fs")
    all.take(18).foreach { case (id, a) =>
      val span = if (a.lastFinish > 0) (a.lastFinish - a.firstLaunch) / 1e3 else 0.0
      println(f"  stage $id%4d tasks=${a.nTasks}%4d run=${a.runMs / 1e3}%7.2fs " +
        f"cpu=${a.cpuMs / 1e3}%7.2fs gc=${a.gcMs / 1e3}%6.2fs " +
        f"span=$span%6.2fs shufR=${a.shufReadB / 1e6}%8.1fMB " +
        f"shufW=${a.shufWriteB / 1e6}%8.1fMB  ${a.name}")
    }
  }
}
