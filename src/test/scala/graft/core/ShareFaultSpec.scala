package graft.core

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicReference

import scala.io.Source
import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils
import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated, SparkListenerJobEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

import graft.SparkTestBase
import graft.operators.{Dedup, Graph}

/** Executor loss under shared intermediates. Each case runs an operator
  * in a child JVM on `local-cluster[2,1,1024]` (two executor JVMs from
  * the Spark install at SPARK_HOME), kills the executor that holds the
  * first materialized share as soon as the job that stored it ends, and
  * asserts the child's rows equal the same call on the local test
  * session. A share that cannot recompute its lost blocks fails the
  * child's query instead (a local checkpoint fails with
  * CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND). */
class ShareFaultSpec extends SparkTestBase with Matchers {
  import ShareFaultChild.{operator, render}

  private def runChild(op: String): (Seq[String], Option[String], String) = {
    val sparkHome = sys.env.getOrElse("SPARK_HOME", "")
    assume(new File(sparkHome, "jars").isDirectory, "SPARK_HOME names no Spark install")
    // the child's SPARK_HOME: the install's jars (what the workers launch
    // executors from) plus a scratch `work` dir for the executors' files
    val home = Files.createTempDirectory("share-fault-home")
    Files.createSymbolicLink(home.resolve("jars"), new File(sparkHome, "jars").toPath)
    try runChildIn(home.toString, op)
    finally {
      Files.delete(home.resolve("jars"))
      FileUtils.deleteDirectory(home.toFile)
    }
  }

  private def runChildIn(home: String, op: String): (Seq[String], Option[String], String) = {
    val java = new File(System.getProperty("java.home"), "bin/java").getPath
    val opens = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filter(_.startsWith("--add-opens"))
    val cmd = Seq(java, "-Xmx1g") ++ opens ++ Seq(
      "-cp", System.getProperty("java.class.path"),
      "graft.core.ShareFaultChild", op)
    val pb = new ProcessBuilder(cmd.asJava).redirectErrorStream(true)
    pb.environment().put("SPARK_HOME", home)
    // the worker's executor launcher reads this instead of probing for
    // a Spark source build under SPARK_HOME
    pb.environment().put("SPARK_SCALA_VERSION", "2.13")
    val proc = pb.start()
    val out = Source.fromInputStream(proc.getInputStream).getLines().toList
    val tail = (out.filter(_.startsWith("Exception in thread")) ++
      out.takeRight(30)).mkString("\n")
    withClue(tail) { proc.waitFor() shouldBe 0 }
    (out.collect { case l if l.startsWith("ROW\t") => l.drop(4) },
      out.collectFirst { case l if l.startsWith("KILLED\t") => l.drop(7) },
      tail)
  }

  private def check(op: String): Unit = {
    val (rows, killed, tail) = runChild(op)
    withClue(tail) { killed shouldBe defined }
    rows shouldBe render(operator(spark, op))
  }

  test("Graph.pageRank recomputes its lost round shares after executor loss") {
    check("pageRank")
  }

  test("Dedup.dupClusters recomputes its lost edge and label shares after executor loss") {
    check("dupClusters")
  }

  test("Dedup.nearDupPairs recomputes its lost shingle share after executor loss") {
    check("nearDupPairs")
  }
}

/** The spec's child JVM and the operator calls both sides run. */
object ShareFaultChild {
  def operator(spark: SparkSession, op: String): DataFrame = op match {
    case "pageRank" =>
      val ids = spark.range(300).select(col("id").as("a"))
      val edges = ids.select(col("a"), ((col("a") + 1) % 300).as("b"))
        .unionByName(ids.select(col("a"), ((col("a") * 7 + 3) % 300).as("b")))
      val both = edges.unionByName(edges.select(col("b").as("a"), col("a").as("b")))
      Graph.pageRank(both, "a", "b", iters = 5)
    case "dupClusters" =>
      // chains of ten ids: 30 clusters, nine propagation rounds each
      val pairs = spark.range(300).where(col("id") % 10 =!= 9)
        .select(col("id").as("a"), (col("id") + 1).as("b"))
      Dedup.dupClusters(pairs, "a", "b")
    case "nearDupPairs" =>
      val g = col("id") % 40
      val text = concat_ws(" ",
        transform(sequence(lit(0L), lit(24L)),
          k => concat(lit("w"), ((g * 3 + k) % 97).cast("string"))),
        concat(lit("t"), (col("id") % 4).cast("string")))
      val docs = spark.range(400).select(col("id").as("doc_id"), text.as("text"))
      Dedup.nearDupPairs(docs, "doc_id", "text", threshold = 0.8)
  }

  def render(df: DataFrame): Seq[String] =
    df.collect().map(_.mkString("|")).toSeq.sorted

  /** Child JVM: run `op` on a local cluster and kill one executor once a
    * job has stored RDD blocks on it. */
  def main(args: Array[String]): Unit = {
    val classes = System.getProperty("java.class.path").split(File.pathSeparator)
      .map(new File(_)).filter(_.isDirectory).map(_.getAbsolutePath)
      .mkString(File.pathSeparator)
    val spark = SparkSession.builder()
      .master("local-cluster[2,1,1024]")
      .appName("share-fault")
      .config("spark.executor.extraClassPath", classes)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("WARN")
    val holder = new AtomicReference[String]()
    val killed = new AtomicReference[String]()
    sc.addSparkListener(new SparkListener {
      override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
        val info = e.blockUpdatedInfo
        if (info.blockId.isRDD && info.storageLevel.isValid)
          holder.compareAndSet(null, info.blockManagerId.executorId)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val id = holder.get()
        if (id != null && killed.compareAndSet(null, id)) sc.killExecutor(id)
      }
    })
    val rows = render(operator(spark, args(0)))
    Option(killed.get()).foreach(id => println(s"KILLED\t$id"))
    rows.foreach(r => println(s"ROW\t$r"))
    spark.stop()
  }
}
