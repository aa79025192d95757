package graft

import java.nio.file.{Files, Paths}

import org.scalatest.matchers.should.Matchers

/** `graft.Explain` on the shared session: the plan dump, the `time`
  * stage table, and the name check every main shares. */
class ExplainSpec extends SparkTestBase with Matchers {

  test("Explain writes the plan and a per-stage table; an unknown name is rejected") {
    val out = Files.createTempDirectory("graft-explain").toString
    val buf = new java.io.ByteArrayOutputStream()
    val failed = Console.withOut(buf) {
      Explain.run(spark, Array(sf0001, out, "t", "q01_scan_project", "time"))
    }
    failed shouldBe empty
    assert(Files.isRegularFile(Paths.get(out, "q01_scan_project_t.txt")))
    val tasks = """stage\s+\d+\s+tasks=\s*(\d+)""".r
      .findAllMatchIn(buf.toString).map(_.group(1).toInt).toSeq
    assert(tasks.exists(_ > 0), s"no stage line with tasks > 0 in:\n$buf")

    val e = intercept[IllegalArgumentException] {
      Explain.run(spark, Array(sf0001, out, "t", "q01_scan_project,q01_no_such"))
    }
    e.getMessage should include("q01_no_such")
  }
}
