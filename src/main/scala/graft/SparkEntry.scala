package graft
import org.apache.spark.sql.{SparkSession, DataFrame}

import graft.core.GraftSession
/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Queries.q06(spark, "/root/testdata/sf0.001")
  /** One entry per implemented operator from SURVEY.md §2 (Q1–Q28 and
    * extensions; bodies in Queries.scala). */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Queries.all
  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Queries.oracle

  /** The session `Verify`, `Bench` and `Explain` run on: the one
    * `GraftSession.local` configuration the tests check, with
    * SPARK_GRAFT_CPUS cores when set, else the machine's core count. */
  def session(appName: String): SparkSession =
    sys.env.get("SPARK_GRAFT_CPUS") match {
      case Some(cpus) => GraftSession.local(cpus.toInt, appName)
      case None       => GraftSession.local(appName = appName)
    }

  /** The registered queries named in `csv` (comma-separated), sorted by
    * name; every query when `csv` is None. An unknown name fails: a typo
    * would otherwise run a partial set and still exit 0. */
  def select(csv: Option[String]): Seq[(String, Queries.Q)] = {
    val all = queries.toSeq.sortBy(_._1)
    csv.fold(all) { s =>
      val only = s.split(",").toSet
      val unknown = only.diff(queries.keySet)
      require(unknown.isEmpty,
        s"unknown query name(s): ${unknown.toSeq.sorted.mkString(",")}")
      all.filter { case (n, _) => only(n) }
    }
  }

  /** Drop state a query leaves behind: the rows its `Share.once` calls
    * persisted (shingle, edge and round tables) stay in the block manager
    * until their DataFrames are garbage-collected. Inside a multi-query
    * JVM those blocks accumulate and taxed later queries 4-5× (BENCH_r06
    * q55/q56 recorded ~8 s vs ~2 s isolated). Scrubbing between queries
    * (never inside a timed window) unpersists them, so each measurement
    * approximates an isolated run. (What scrubbing CANNOT undo — codegen
    * class accumulation, JIT code-cache aging — is why `Bench` forks.) */
  def scrub(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
    System.gc()
  }
}
