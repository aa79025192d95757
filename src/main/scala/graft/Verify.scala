package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query-name filter (sweep /
    // debug reruns of a single query without paying for all of them)
    val queries = SparkEntry.select(args.lift(2))
    val spark = SparkEntry.session("graft-verify")
    new java.io.File(outDir).mkdirs()
    // A reused outDir may hold a previous run's parquet for this query;
    // delete it BEFORE attempting the write so a newly-broken query shows
    // up as missing output (per-query FAIL) instead of false-passing
    // against stale data.
    def rmrf(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmrf))
      f.delete(): Unit
    }
    // A crashed query must never yield a clean-looking round: record
    // every failure, leave an explicit `_FAILED` marker file where the
    // parquet dir would be (so downstream tooling sees "err", not a
    // silently absent row), and exit non-zero at the end.
    val failed = scala.collection.mutable.ListBuffer.empty[String]
    queries.foreach { case (name, fn) =>
      rmrf(new java.io.File(s"$outDir/$name"))
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        // per-query wall time on stderr: the large-SF sweep's timing
        // source (one pass, no bench 3x protocol at sweep scale)
        System.err.println(f"[verify] $name ok in " +
          f"${(System.nanoTime() - t0) / 1e9}%.2fs")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failed += name
        rmrf(new java.io.File(s"$outDir/$name"))
        Files.writeString(Paths.get(s"$outDir/${name}_FAILED"),
          s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(2000)}\n")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(
        s"[verify] ${failed.size} quer${if (failed.size == 1) "y" else "ies"} FAILED: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
