package graft.core

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.scalatest.matchers.should.Matchers

import graft.SparkTestBase

/** `GraftSession.local` on the `getOrCreate` path every main takes:
  * builder configs are ignored for a live session, so the factory must
  * re-assert its standard configuration and functions itself. */
class GraftSessionSpec extends SparkTestBase with Matchers {

  test("local restores UTC, AQE, partitions and the graft functions on a reused session") {
    val keys = Seq("spark.sql.session.timeZone", "spark.sql.adaptive.enabled",
      "spark.sql.shuffle.partitions")
    val prev = keys.map(k => k -> spark.conf.get(k))
    val registry = spark.sessionState.functionRegistry
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.shuffle.partitions", "200")
      Seq("graft_dot", "graft_token_hash")
        .foreach(f => registry.dropFunction(FunctionIdentifier(f)))

      val s = GraftSession.local(4, "graft-session-spec")
      s.conf.get("spark.sql.session.timeZone") shouldBe "UTC"
      s.conf.get("spark.sql.adaptive.enabled") shouldBe "true"
      s.conf.get("spark.sql.shuffle.partitions") shouldBe "4"
      s.sql("SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D))")
        .head().getDouble(0) shouldBe 11.0
      s.sql("SELECT graft_token_hash('a')").collect() should have length 1
    } finally {
      prev.foreach { case (k, v) => spark.conf.set(k, v) }
      graft.functions.GraftExtensions.register(spark)
    }
  }
}
