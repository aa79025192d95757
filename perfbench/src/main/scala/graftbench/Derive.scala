package graftbench

import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import graft.SparkEntry
import graft.core.GraftSession

/** Reference data for perfbench/tools/derive.py: runs every registry query
  * on the benchmark's tables once cold, keeping its result as parquet, then
  * three times through the noop sink for the median wall time; dumps the
  * oracle SQL too.
  *
  * Usage: graftbench.Derive <tables dir> <out dir> */
object Derive {
  def main(args: Array[String]): Unit = {
    val Array(tables, outDir) = args
    val spark = GraftSession.local()
    val out = Json.mapper.createObjectNode()
    val warm = out.putObject("warm_s")
    val errors = out.putObject("errors")
    val oracle = out.putObject("oracle")
    SparkEntry.oracleSql.foreach { case (k, v) => oracle.put(k, v) }
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, q) =>
      try {
        q(spark, tables).write.mode("overwrite").parquet(s"$outDir/out/$name")
        val secs = (0 until 3).map { _ =>
          spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
          val t0 = System.nanoTime()
          q(spark, tables).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        warm.put(name, secs.sorted.apply(1))
      } catch {
        case NonFatal(e) =>
          warm.put(name, -1.0)
          errors.put(name, s"${e.getClass.getName}: ${e.getMessage}")
      }
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      spark.catalog.clearCache()
    }
    Files.write(Paths.get(outDir, "derive.json"), Json.mapper.writeValueAsBytes(out))
    spark.stop()
  }
}
