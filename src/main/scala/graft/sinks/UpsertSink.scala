package graft.sinks

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.operators.Relational

/**
 * Idempotent keyed upsert sink — the Spark re-expression of the
 * reference's JDBC sink (A5: "idempotent writes with upserts",
 * confluentinc-kafka-connect-jdbc manifest.json:5, upsert config in
 * etc/sink-quickstart-sqlite.properties:19-29) with the CDC delete
 * semantics of A2/A3 (postgres/connector.json:13-14):
 *
 *  - each micro-batch is first collapsed to one row per key (newest by
 *    `orderCols` wins — the batch-local MERGE dedup);
 *  - rows matching `isDelete` remove the key from the target
 *    (`__deleted = "true"` rewrite rows, and null-value tombstones when
 *    the caller maps them to the predicate);
 *  - everything else inserts-or-replaces by key.
 *
 * The target is a versioned parquet directory: each merge writes a full
 * new snapshot under `v<epoch>/` and then atomically swaps a `_CURRENT`
 * pointer file. Replayed epochs (foreachBatch retries after failure —
 * Structured Streaming's at-least-once contract) are detected via the
 * epoch recorded in the pointer and skipped, upgrading the sink to
 * effective exactly-once, the same trick the reference's offset-tracking
 * topics implement (docker-compose.yaml:133-135).
 *
 * Scale notes: one merge is one newest-wins pass over snapshot ∪ batch:
 * snapshot rows are tagged `src = 0`, batch rows `src = 1`, and
 * `latestStatePerKey` keeps per key the row ranked first by `src` desc,
 * then the caller's order — so an epoch costs one scan of the batch and
 * of the snapshot, one hash exchange on the key, one sort and one write.
 * The exchange moves the whole snapshot, about what the copy-on-write
 * rewrite of that snapshot already costs. A real deployment backs this
 * with a table format that supports row-level MERGE (Delta/Iceberg
 * `MERGE INTO`, or JDBC `INSERT ... ON CONFLICT` per dialect in
 * `foreachBatch`); the semantics — and this class's tests — are
 * format-independent.
 *
 * Disk: after each pointer swap every snapshot older than the one just
 * superseded is dropped (`Compaction`'s swap-then-drop protocol), so the
 * current and the previous snapshot are all that stay on disk.
 */
class ParquetKeyedTable(val path: String, val keyCols: Seq[String]) {
  require(keyCols.nonEmpty, "keyCols must be non-empty")

  private def pointer: Path = Paths.get(path, "_CURRENT")

  /** (version dir, schema) of the snapshot this instance last committed:
    * reading it back needs no schema inference, which is a Spark job of
    * its own per epoch. */
  private var committed: Option[(String, StructType)] = None

  /** (version dir, last applied epoch) or None before the first commit. */
  private def current(): Option[(String, Long)] =
    if (Files.exists(pointer)) {
      val Array(v, e) = new String(Files.readAllBytes(pointer), StandardCharsets.UTF_8)
        .trim.split(" ")
      Some((v, e.toLong))
    } else None

  /** Latest committed snapshot, or None before the first commit. */
  def read(spark: SparkSession): Option[DataFrame] =
    current().map { case (v, _) =>
      committed match {
        case Some((`v`, schema)) => spark.read.schema(schema).parquet(s"$path/$v")
        case _                   => spark.read.parquet(s"$path/$v")
      }
    }

  def lastEpoch: Option[Long] = current().map(_._2)

  /**
   * MERGE one micro-batch into the table. Idempotent per `epochId`:
   * a replay of an already-committed epoch is a no-op.
   *
   * Per key, the batch's newest row replaces the snapshot's row, or
   * removes the key when it matches `isDelete`. A row whose key has a
   * null column never matches: the snapshot keeps its null-key rows and
   * the batch adds its newest one. The snapshot's columns win; batch-only
   * columns may steer `orderCols` and `isDelete` but are not stored, and
   * a batch lacking a snapshot column fails.
   *
   * @param batch     the micro-batch (schema must include keyCols)
   * @param epochId   foreachBatch epoch (or any monotonically increasing id)
   * @param orderCols newest-wins order within the batch (MUST totally
   *                  order rows of one key, tie-breaker included)
   * @param isDelete  predicate marking delete rows (A2 rewrite flag,
   *                  tombstones); evaluated after batch-local dedup
   */
  def merge(batch: DataFrame, epochId: Long, orderCols: Seq[Column],
            isDelete: Column): Unit = {
    val prev = current()
    if (prev.exists(_._2 >= epochId)) return // replayed epoch: no-op

    val snapshot = read(batch.sparkSession)
    val batchOnly = snapshot.fold(Array.empty[String])(s => batch.columns.diff(s.columns))
    val taken = (batch.columns ++ snapshot.fold(Array.empty[String])(_.columns)).toSet
    def fresh(base: String) = Iterator.from(0).map(i => s"$base$i").find(!taken(_)).get
    val src = fresh("__src")
    val nullKeyId = fresh("__null_key_id")
    val batchRows = batch.withColumn(src, lit(1)).withColumn(nullKeyId, lit(null).cast("long"))
    // Batch-only columns enter as nulls on snapshot rows; a snapshot column
    // the batch lacks fails the union. Each null-key snapshot row gets a
    // window partition of its own, so it neither absorbs nor is absorbed
    // by another null-key row.
    val rows = snapshot.fold(batchRows) { snap =>
      batchOnly.foldLeft(snap)((df, c) => df.withColumn(c, lit(null)))
        .withColumn(src, lit(0))
        .withColumn(nullKeyId,
          when(keyCols.map(k => col(k).isNull).reduce(_ || _), monotonically_increasing_id()))
        .unionByName(batchRows)
    }
    val merged = Relational
      .latestStatePerKey(rows, keyCols :+ nullKeyId, col(src).desc +: orderCols)
      .filter(!(col(src) === 1 && coalesce(isDelete, lit(false))))
      .drop((Seq(src, nullKeyId) ++ batchOnly): _*)

    val version = s"v$epochId"
    merged.write.mode("overwrite").parquet(s"$path/$version")
    val tmp = Paths.get(path, s"_CURRENT.tmp$epochId")
    Files.write(tmp, s"$version $epochId".getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, pointer, StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
    committed = Some((version, merged.schema))
    prev.foreach { case (superseded, _) => dropOlderThan(superseded) }
  }

  /** Delete every `v<N>` snapshot directory older than `version`. */
  private def dropOlderThan(version: String): Unit = {
    val keep = version.drop(1).toLong
    val listing = Files.list(Paths.get(path))
    val entries = try listing.iterator().asScala.toList finally listing.close()
    entries.filter { p =>
      val name = p.getFileName.toString
      name.matches("v\\d+") && name.drop(1).toLong < keep
    }.foreach(Compaction.deleteTree)
  }

  /** Adapter for `writeStream.foreachBatch(table.foreachBatchMerge(...))`. */
  def foreachBatchMerge(orderCols: Seq[Column], isDelete: Column)
      : (DataFrame, Long) => Unit =
    (batch, epochId) => merge(batch, epochId, orderCols, isDelete)
}
