package graft.sinks

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/**
 * Small-files compaction — the maintenance job every streaming file sink
 * needs at scale: a 200 ms trigger (the reference's `poll.interval.ms`,
 * README.md:100) lands one parquet file per partition per micro-batch,
 * and a day of that yields millions of KB-sized files whose open/footer
 * cost dominates every downstream scan.
 *
 * Compaction rewrites a directory into ≈`targetFileBytes` files. It
 * NEVER rewrites in place: a streaming sink's `_spark_metadata` log pins
 * the exact file list, and concurrent readers hold open handles — so the
 * compacted snapshot lands in a versioned sibling directory and a
 * `_CURRENT` pointer file is atomically swapped (the same
 * pointer-not-paths protocol as `ParquetKeyedTable`). Readers resolve
 * the pointer; the stale snapshot is removed only after the swap.
 *
 * Scale shape: one read + one round-robin exchange + one write — all
 * distributed; the only driver-side work is file-size arithmetic over
 * the file listing.
 */
object Compaction {

  /** Compacted-view root layout: `root/v<N>/` snapshots + `root/_CURRENT`. */
  private def pointer(root: String) = Paths.get(root, "_CURRENT")

  /** The currently-pointed snapshot directory under `root`, if any. */
  def currentSnapshot(root: String): Option[String] =
    if (Files.exists(pointer(root)))
      Some(Paths.get(root,
        new String(Files.readAllBytes(pointer(root)), StandardCharsets.UTF_8).trim)
        .toString)
    else None

  /** Read the compacted view (falls back to `sourceDir` before the first
    * compaction has ever run). */
  def read(spark: SparkSession, sourceDir: String, root: String): DataFrame =
    spark.read.parquet(currentSnapshot(root).getOrElse(sourceDir))

  /**
   * Compact `sourceDir` into a new snapshot under `root`, swap the
   * pointer, drop the previous snapshot. Returns the file count of the
   * new snapshot.
   *
   * `clusterBy` additionally imposes a clustered layout: output files
   * are range-partitioned and internally sorted on the given columns,
   * so each file covers a disjoint key range and parquet's row-group
   * min/max statistics line up with predicates on those columns. At
   * 100 TB this is the difference between a key-slice query opening
   * every compacted file and opening ~one: the filter prunes on footer
   * stats before any data page is read. Cost over plain compaction:
   * the one exchange becomes a range exchange (sampled bounds) and each
   * writer sorts its partition — no extra pass.
   */
  def compact(spark: SparkSession, sourceDir: String, root: String,
              targetFileBytes: Long = 128L << 20,
              clusterBy: Seq[String] = Nil): Int = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    val df = spark.read.parquet(sourceDir)
    val totalBytes = df.inputFiles.map { uri =>
      try new java.io.File(new java.net.URI(uri)).length()
      catch { case _: Exception => 0L }
    }.sum
    val nFiles = math.max(1L, (totalBytes + targetFileBytes - 1) / targetFileBytes).toInt
    val prev = currentSnapshot(root)
    val epoch = prev.flatMap(p => "v(\\d+)$".r.findFirstMatchIn(p).map(_.group(1).toLong))
      .getOrElse(-1L) + 1
    val snap = s"v$epoch"
    val shaped =
      if (clusterBy.isEmpty) df.repartition(nFiles)
      else df.repartitionByRange(nFiles, clusterBy.map(col): _*)
        .sortWithinPartitions(clusterBy.map(col): _*)
    shaped.write.mode("overwrite")
      .parquet(Paths.get(root, snap).toString)
    // atomic pointer swap, then reclaim the stale snapshot
    Files.createDirectories(Paths.get(root))
    val tmp = Paths.get(root, s"_CURRENT.tmp$epoch")
    Files.write(tmp, snap.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, pointer(root), StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
    prev.foreach(p => deleteTree(Paths.get(p)))
    nFiles
  }

  /** Recursively delete a snapshot directory, if it exists. */
  private[sinks] def deleteTree(dir: Path): Unit =
    if (Files.exists(dir)) {
      val walk = Files.walk(dir)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally walk.close()
    }
}
