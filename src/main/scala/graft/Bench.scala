package graft
import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.codec.ConnectJson
import graft.core.Tables
import graft.operators.Relational

/** Per-round benchmark: runs every registered query on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query wall
  * seconds — the MEDIAN of 3 timed runs each (`n_runs`/`stat` fields;
  * `wall_sec` carries the honest end-to-end cost of the whole timed
  * section). Results are materialized through the noop sink (full
  * execution incl. result production — `count()` alone lets Spark skip
  * projections); failed queries are reported in `failed`, never as
  * fake timings.
  *
  * FORKED PROTOCOL (r14): the registry is chunked across
  * SPARK_GRAFT_BENCH_FORKS (default 8) sequential CHILD JVMs, each
  * benching ~N/forks queries with the per-chunk warm-up + median-of-3
  * + scrub discipline below. One aging JVM across 279 × 4 executions
  * accumulated codegen classes / JIT code-cache / GC pressure that the
  * between-query scrub cannot undo — r13's overlap median drifted
  * 1.66× vs r12 with zero code cause, which made the bench unable to
  * answer "did this round get faster?". A fresh JVM per ~35 queries is
  * the r06-era JVM age where round-over-round numbers were stable.
  * The merged line records `protocol` so rounds compare like-for-like;
  * set SPARK_GRAFT_BENCH_FORKS=1 to reproduce the legacy single-JVM
  * run. Children reuse this main (args = query names) and write their
  * chunk JSON to a temp file the parent merges.
  *
  * An untimed warm-up pass runs the chunk's set first, so the timed
  * pass measures steady-state plans instead of charging JVM/codegen/
  * parquet-footer warm-up to whichever query sorts first (BENCH_r03's
  * q01 absorbed ~5 s of it).
  *
  * `throughput_rps` is the ingest micro-bench: events rows through the
  * reference's JDBC-source task shape — mask SMT + Connect JSON envelope
  * encode + parquet file sink (SURVEY §3.2) — giving BASELINE.md's
  * 2.98–4.04 kops/s Source Record Write rate a measured counterpart.
  * It runs in the FIRST child only, before any query sweep ages that
  * JVM (measured in-run-after-124-queries vs isolated: ~25% tax).
  * If it was NOT measured (first chunk crashed), the merged line
  * reports the sentinel -1 — never an unmeasured 0.000 as if real.
  *
  * NORMALIZATION (r15): two same-binary, same-protocol full runs on
  * this box disagreed by ±50% on their overlap medians (r14: A 1.22×,
  * B 0.69× vs r13) — a GLOBAL box factor (co-tenant load, thermal
  * state) that per-query medians cannot reject and that masquerades
  * as 6× per-query regressions on unchanged code. Two instruments are
  * built into the emitted JSON so a reader can divide the box out:
  *
  *  - `queries_rel`: every query's time divided by the run's OWN
  *    median query time (`query_median_sec`). A uniform box factor
  *    cancels exactly in rel-space, so cross-round comparison of
  *    `queries_rel` (tools/bench_compare.py prints the normalized
  *    median) answers "did the CODE get faster?" — the raw `queries`
  *    map remains the honest wall-clock record.
  *  - `probe_sec` / `probe_median_sec`: a fixed-work, data-independent
  *    calibration probe (64M-row xxhash64 two-stage aggregation —
  *    constant work at every SF, codegen'd, one small shuffle) timed
  *    median-of-3 in EVERY chunk's JVM before its query sweep. The
  *    probe times measure the box alone; dividing two runs' probe
  *    medians estimates the box factor independently of the queries. */
object Bench {

  def main(args: Array[String]): Unit = {
    val forks = sys.env.getOrElse("SPARK_GRAFT_BENCH_FORKS", "8").toInt
    val isChild = sys.env.contains("SPARK_GRAFT_BENCH_CHILD")
    // parent honors an optional comma-separated subset too (dev loop /
    // probe-gate smoke); children are recognized by the env marker, so
    // a subset arg never collapses the forked protocol to single-JVM
    if (forks > 1 && !isChild) parentMain(forks, args.headOption)
    else childMain(args.headOption, isChild)
  }

  // ---------------------------------------------------------------- parent

  /** Chunk the registry, run one child JVM per chunk sequentially
    * (parallel children would contend for the 32 cores and time each
    * other), merge the chunk JSONs into the one-line report.
    *
    * PROBE GATE (r16): a committed bench whose box was dirty during one
    * chunk reports 3-6× per-query "regressions" on unchanged code (the
    * r15 driver run's q255 read 13.5 s vs 2.6-3.8 s on quiet same-binary
    * runs; its chunk probe read 1.48 s vs ~0.8 s quiet). The instruments
    * (probe_sec per chunk) detect this — the gate makes the harness ACT
    * on them: after the full sweep, any chunk whose probe deviates more
    * than SPARK_GRAFT_BENCH_PROBE_BAND (default 20%) from the SESSION
    * median probe is re-run (up to SPARK_GRAFT_BENCH_REQUIET times,
    * default 2), keeping whichever run's probe sits closest to the
    * session median. A chunk that never lands in band stays in the
    * merged line but is flagged in `dirty_chunks` (chunk index + final
    * probe), so a reader knows exactly which timings to distrust. A
    * UNIFORMLY loaded box leaves all probes mutually in band — no
    * re-runs fire, and probe_sec still records the global factor for
    * bench_compare.py to divide out; the gate targets per-chunk
    * transients, which are exactly the failures rel-space cannot fix. */
  private def parentMain(forks: Int, onlyArg: Option[String] = None): Unit = {
    val names = SparkEntry.select(onlyArg).map(_._1)
    val chunks = balancedChunks(names, forks)
    val javaBin = new java.io.File(new java.io.File(
      sys.props("java.home"), "bin"), "java").getPath
    val cp = sys.props("java.class.path")
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar",
    ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    val xmx = sys.env.getOrElse("SPARK_DRIVER_MEM", "8g")

    def runChunk(chunk: Seq[String], i: Int): String = {
      val out = Files.createTempFile(s"graft-bench-chunk$i-", ".json")
      val cmd: Seq[String] = Seq(javaBin) ++ addOpens ++ Seq(
        s"-Xmx$xmx", "-cp", cp, "graft.Bench", chunk.mkString(","))
      val pb = new ProcessBuilder(cmd: _*)
      pb.environment().put("SPARK_GRAFT_BENCH_CHILD", "1")
      pb.environment().put("SPARK_GRAFT_BENCH_OUT", out.toString)
      // ingest micro-bench: first (freshest) child only — a re-run of
      // chunk 0 re-measures it on the re-run's (presumably quieter) box
      pb.environment().put("SPARK_GRAFT_BENCH_INGEST",
        if (i == 0) "1" else "0")
      pb.redirectErrorStream(false)
      pb.redirectError(ProcessBuilder.Redirect.INHERIT)
      pb.redirectOutput(ProcessBuilder.Redirect.DISCARD) // JSON: via file
      System.err.println(s"[bench] chunk ${i + 1}/${chunks.size}: " +
        s"${chunk.size} queries (${chunk.head}..${chunk.last})")
      val rc = pb.start().waitFor()
      val line = try Files.readString(out) catch { case _: Throwable => "" }
      if (rc != 0) System.err.println(s"[bench] chunk ${i + 1} exited $rc")
      line
    }
    def probeOf(line: String): Option[Double] =
      """"probe_sec":([-0-9.eE]+)""".r.findFirstMatchIn(line)
        .map(_.group(1).toDouble).filter(_ > 0)

    val wallT0 = System.nanoTime()
    var chunkJsons = chunks.zipWithIndex.map { case (chunk, i) =>
      (chunk, runChunk(chunk, i))
    }

    // -------- probe gate: re-run out-of-band chunks, flag unfixable ones
    val band = sys.env.getOrElse("SPARK_GRAFT_BENCH_PROBE_BAND", "0.20").toDouble
    val maxRequiet = sys.env.getOrElse("SPARK_GRAFT_BENCH_REQUIET", "2").toInt
    var dirtyChunks = List.empty[(Int, Double)]
    val probes0 = chunkJsons.flatMap { case (_, l) => probeOf(l) }.sorted
    if (probes0.nonEmpty && maxRequiet > 0 && band > 0) {
      // lower-mid median: the producer's definition throughout the repo
      val sessionMedian = probes0((probes0.length - 1) / 2)
      def inBand(p: Double) = math.abs(p / sessionMedian - 1.0) <= band
      chunkJsons = chunkJsons.zipWithIndex.map { case ((chunk, line0), i) =>
        var cur = line0
        var p = probeOf(cur)
        var tries = 0
        while (tries < maxRequiet && !p.exists(inBand)) {
          System.err.println(("[bench] chunk %d probe %.3fs outside " +
            "+/-%.0f%% of session median %.3fs -- re-running (%d/%d)")
            .formatLocal(java.util.Locale.ROOT, i + 1, p.getOrElse(-1.0),
              band * 100, sessionMedian, tries + 1, maxRequiet))
          val re = runChunk(chunk, i)
          val rp = probeOf(re)
          // keep whichever run's probe sits closer to the session median:
          // a re-run on a still-dirty box must not replace a cleaner
          // original, and a probe-less re-run (child crash) never wins
          val takeRe = (rp, p) match {
            case (Some(a), Some(b)) =>
              math.abs(a - sessionMedian) <= math.abs(b - sessionMedian)
            case (Some(_), None) => true
            case _               => false
          }
          if (takeRe) { cur = re; p = rp }
          tries += 1
        }
        if (!p.exists(inBand)) dirtyChunks ::= (i + 1, p.getOrElse(-1.0))
        (chunk, cur)
      }
    }
    val wallSec = (System.nanoTime() - wallT0) / 1e9

    // merge: a chunk that produced no JSON marks all its queries failed
    var queries = Vector.empty[(String, Double)]
    var failed = List.empty[String]
    var throughput = 0.0
    var probes = Vector.empty[Double]
    chunkJsons.foreach { case (chunk, line) =>
      if (line.trim.isEmpty) failed :::= chunk.toList
      else {
        val (qs, fl, tp, probe) = parseChunk(line)
        queries ++= qs
        failed :::= fl
        if (tp > throughput) throughput = tp
        probe.foreach(probes :+= _)
        // a query the child neither timed nor reported failed (crash
        // mid-chunk) must not vanish silently
        val seen = qs.map(_._1).toSet ++ fl
        failed :::= chunk.filterNot(seen).toList
      }
    }
    // ingest ran in the first child only; if that child died, the merged
    // line must say "unmeasured" (-1 sentinel + failed entry), never a
    // real-looking 0.000
    if (throughput <= 0.0) { failed ::= "ingest_throughput"; throughput = -1.0 }
    emit(queries.sortBy(_._1), failed, throughput, wallSec,
      s"forked:${chunks.size}jvm,median3,scrub,probe,probegate", probes,
      dirtyChunks.sortBy(_._1))
    if (failed.nonEmpty) sys.exit(1)
  }

  private def balancedChunks(names: Seq[String], forks: Int): Seq[Seq[String]] = {
    val k = math.max(1, math.min(forks, names.size))
    val base = names.size / k
    val extra = names.size % k
    val sizes = Seq.tabulate(k)(i => base + (if (i < extra) 1 else 0))
    sizes.scanLeft(0)(_ + _).zip(sizes).map { case (off, len) =>
      names.slice(off, off + len)
    }.filter(_.nonEmpty)
  }

  /** Minimal parse of a child's one-line JSON — [[emit]]'s CLOSED
    * format, not arbitrary JSON: query names and the protocol are
    * [a-z0-9_:,]-class strings with no escapes, values are %.3f
    * doubles. Hand-parsed so the library keeps its Spark/JDK-only
    * import surface (no third-party JSON rider). */
  private def parseChunk(line: String): (Seq[(String, Double)], List[String], Double, Option[Double]) = {
    def section(key: String, open: Char, close: Char): String = {
      val k = "\"" + key + "\":" + open
      val i = line.indexOf(k)
      if (i < 0) "" else {
        val start = i + k.length
        val end = line.indexOf(close, start)
        if (end < 0) "" else line.substring(start, end)
      }
    }
    val entry = """"([^"]+)":([-0-9.eE]+)""".r
    val qs = entry.findAllMatchIn(section("queries", '{', '}'))
      .map(m => m.group(1) -> m.group(2).toDouble).toSeq
    val fl = "\"([^\"]+)\"".r.findAllMatchIn(section("failed", '[', ']'))
      .map(_.group(1)).toList
    val tp = """"throughput_rps":([-0-9.eE]+)""".r.findFirstMatchIn(line)
      .map(_.group(1).toDouble).getOrElse(0.0)
    val probe = """"probe_sec":([-0-9.eE]+)""".r.findFirstMatchIn(line)
      .map(_.group(1).toDouble).filter(_ > 0)
    (qs, fl, tp, probe)
  }

  // ---------------------------------------------------------------- child

  /** `onlyArg`: comma-separated query names to bench (dev loop and the
    * parent's chunk assignment). */
  private def childMain(onlyArg: Option[String], isChild: Boolean): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val queries = SparkEntry.select(onlyArg)
    val spark = SparkEntry.session("graft-bench")

    var failed = List.empty[String]

    // -------- ingest throughput FIRST, before the query sweep ages the
    // JVM: measured in-run-after-124-queries vs isolated on the same box,
    // the identical best-of-3 read 187 k vs 235 k rows/s — code-cache and
    // GC aging taxed the pass by ~25% even with the scrub. Under the
    // forked protocol only the FIRST child runs it (freshest JVM = the
    // isolated-run standard the bench documents); standalone/legacy runs
    // keep it unconditionally.
    val runIngest = sys.env.getOrElse("SPARK_GRAFT_BENCH_INGEST", "1") != "0"
    val throughput = if (!runIngest) 0.0 else try {
      val out = Files.createTempDirectory("graft-ingest-bench").toString
      val events = Tables.events(spark, sfDir)
      val rows = events.count()
      def once(): Double = {
        val t0 = System.nanoTime()
        Relational.maskColumn(events, "props")
          .select(ConnectJson.encodeEnvelope(
            events.schema, "events").as("value"))
          .write.mode("overwrite").parquet(out)
        rows / ((System.nanoTime() - t0) / 1e9)
      }
      once() // untimed warm-up: codegen + shuffle-free plan compile
      Seq.fill(3) { SparkEntry.scrub(spark); once() }.max
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] ingest throughput FAILED: ${e.getMessage}")
        failed ::= "ingest_throughput"
        0.0
    }

    // -------- calibration probe: fixed work, independent of SF and of
    // the registry — 64M xxhash64 rows through a 4096-group two-stage
    // aggregation (map-side combine + one small exchange), all codegen.
    // Its median-of-3 time measures THE BOX during this chunk's JVM;
    // two runs' probe medians divide to the run-over-run box factor
    // (the ±50% co-tenant drift r14 measured on unchanged binaries).
    def probeOnce(): Double = {
      val t0 = System.nanoTime()
      spark.range(0, 64L << 20, 1, 32)
        .groupBy(pmod(col("id"), lit(4096L)).as("g"))
        // pmod bounds the per-group sum (64M × 1e9 « Long.Max): ANSI-safe
        .agg(sum(pmod(xxhash64(col("id")), lit(1000000007L))).as("s"))
        .agg(sum(col("s")))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    val probeSec = try {
      probeOnce() // untimed: codegen + noop-sink classloading
      val runs = Seq.fill(3) { SparkEntry.scrub(spark); probeOnce() }.sorted
      runs(1)
    } catch { case e: Throwable =>
      System.err.println(s"[bench] calibration probe FAILED: ${e.getMessage}")
      -1.0
    }

    // -------- warm-up pass (untimed; failures deferred to the timed pass)
    queries.foreach { case (_, fn) =>
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
      SparkEntry.scrub(spark)
    }

    // -------- timed passes: MEDIAN of 3 per query (single runs on a
    // busy shared box show multi-second GC/scheduling outliers —
    // BENCH_r05 recorded one query 10× over its quiet-box time even at
    // min-of-2, and r12's two same-box full runs disagreed up to 2.2×
    // per query; the median rejects one outlier in either direction
    // where min systematically flatters). The honest end-to-end cost
    // is reported separately as `wall_sec` (the whole timed section,
    // all runs + scrubs included).
    val wallT0 = System.nanoTime()
    val results = queries.flatMap { case (name, fn) =>
      def once(): Option[Double] = {
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          Some((System.nanoTime() - t0) / 1e9)
        } catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
            None
        }
      }
      val runs = Seq(once(), once(), once()).flatten.sorted
      // this query's shares must not tax the next query
      SparkEntry.scrub(spark)
      if (runs.isEmpty) { failed ::= name; None }
      else {
        if (runs.length < 3) failed ::= name
        // median of what survived: mid of 3, lower-mid of 2, the 1
        Some(name -> runs((runs.length - 1) / 2))
      }
    }
    val wallSec = (System.nanoTime() - wallT0) / 1e9

    // standalone (non-forked) runs: an ingest that was supposed to run
    // but failed must surface as the -1 sentinel, not a real-looking 0
    val tpOut = if (runIngest && throughput <= 0.0 && !isChild) {
      failed = (failed :+ "ingest_throughput").distinct
      -1.0
    } else throughput
    emit(results, failed, tpOut, wallSec, "single-jvm,median3,scrub,probe",
      if (probeSec > 0) Seq(probeSec) else Nil)
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }

  // ---------------------------------------------------------------- report

  /** Print the one-line JSON and write it to SPARK_GRAFT_BENCH_OUT.
    * 3 decimals ≈ ms precision keeps the line compact (the driver's
    * capture window truncated the head of BENCH_r06's longer line);
    * the file copy is the truncation-proof artifact the repo commits
    * (BENCH_r08 kept per-query times for only 73/106 queries). */
  private def emit(results: Seq[(String, Double)], failed: List[String],
                   throughput: Double, wallSec: Double,
                   protocol: String, probes: Seq[Double] = Nil,
                   dirtyChunks: Seq[(Int, Double)] = Nil): Unit = {
    def f3(d: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, d)
    // [[parseChunk]] assumes this CLOSED format (no escapes, no nested
    // objects beyond the two fixed maps); enforce the contract at the
    // producer so a future name/protocol addition cannot silently
    // mis-parse chunks into false `failed` markings
    val nameClass = "[A-Za-z0-9_.:-]+".r
    (results.map(_._1) ++ failed :+ protocol).foreach { s =>
      require(nameClass.pattern.matcher(s.replace(",", "")).matches(),
        s"bench emit: '$s' leaves the closed [A-Za-z0-9_.:,-] format " +
          "parseChunk assumes — rename the query/protocol token")
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val qs = results.map { case (k, v) => "\"" + k + "\":" + f3(v) }
      .mkString("{", ",", "}")
    // rel-space twin: each query over the run's own median — a uniform
    // box factor cancels, so THESE are the cross-round comparables
    val sortedT = results.map(_._2).sorted
    val qMedian =
      if (sortedT.isEmpty) 0.0 else sortedT((sortedT.length - 1) / 2)
    val qr = if (qMedian <= 0) "{}" else results
      .map { case (k, v) => "\"" + k + "\":" + f3(v / qMedian) }
      .mkString("{", ",", "}")
    val probeMedian = {
      val p = probes.filter(_ > 0).sorted
      if (p.isEmpty) -1.0 else p((p.length - 1) / 2)
    }
    val pj = probes.map(f3).mkString("[", ",", "]")
    // parent-line only (children never set it): chunks whose probe never
    // landed in the session band even after re-runs — their query times
    // are box-polluted and a reader must not trust them in isolation
    val dj = dirtyChunks.map { case (c, p) =>
      s"""{"chunk":$c,"probe_sec":${f3(p)}}"""
    }.mkString("[", ",", "]")
    val fj = failed.distinct.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.map(_._2).sum
    val line = s"""{"metric":"total","value":${f3(total)},"unit":"sec","n_runs":3,"stat":"median","protocol":"$protocol","wall_sec":${f3(wallSec)},"query_median_sec":${f3(qMedian)},"probe_sec":${f3(probeMedian)},"probes":$pj,"dirty_chunks":$dj,"queries":$qs,"queries_rel":$qr,"failed":$fj,"throughput_rps":${f3(throughput)},"sf":"$sfDir"}"""
    println(line)
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_full.json")
    try Files.writeString(java.nio.file.Paths.get(outFile), line + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outFile: ${e.getMessage}")
    }
  }
}
