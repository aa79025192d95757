package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/**
 * Ingestion operators behind one trait (SURVEY.md §2.1): every source
 * the reference deploys as a connector plugin, re-expressed as a Spark
 * reader factory with batch and streaming twins. Kafka-backed paths are
 * config-gated (no broker or connector jar offline — SURVEY §5 risk d);
 * file and incremental-poll twins run everywhere.
 */
trait Source {
  /** One-shot snapshot read (the reference's bulk mode, S3). */
  def batch(spark: SparkSession): DataFrame
  /** Continuous read for `writeStream` (micro-batched by the trigger). */
  def stream(spark: SparkSession): DataFrame
}

/**
 * S5 FileStreamSource: directory of files, line- or row-oriented.
 * Streaming needs the schema pinned (SURVEY §1.2: explicit StructType
 * for determinism — no inference drift between restarts).
 * `maxFilesPerTrigger` is the reference's `batch.max.rows` analogue
 * (ST5 backpressure).
 *
 * File listing: each micro-batch resolves its files by path. A session
 * from `GraftSession.local` lists them on the driver. A cluster session
 * keeps Spark's parallel listing (right on an object store), so a batch
 * of more files than `spark.sql.sources.parallelPartitionDiscovery.threshold`
 * (default 32) pays one listing job before it reads; size
 * `maxFilesPerTrigger` against that threshold.
 */
final case class FileSource(format: String, path: String, schema: StructType,
                            options: Map[String, String] = Map.empty) extends Source {
  def batch(spark: SparkSession): DataFrame =
    spark.read.format(format).options(options).schema(schema).load(path)
  def stream(spark: SparkSession): DataFrame =
    spark.readStream.format(format).options(options).schema(schema).load(path)
}

/**
 * S6 MirrorSource (Kafka→Kafka relay): passthrough preserving
 * key/value/headers — `readStream.format("kafka")` on one cluster,
 * `writeStream.format("kafka")` on another, offsets in the checkpoint
 * (≈ MirrorCheckpointConnector's offset translation).
 *
 * Config-gated: requires the spark-sql-kafka connector and brokers at
 * runtime; offline this class only assembles the reader/writer option
 * maps (unit-tested), mirroring README.md:52-65's plugin surface.
 */
final case class KafkaRelaySource(bootstrapServers: String, subscribe: String,
                                  startingOffsets: String = "earliest",
                                  maxOffsetsPerTrigger: Option[Long] = None,
                                  extra: Map[String, String] = Map.empty) extends Source {
  /** Options for `spark.readStream.format("kafka")`. */
  def readerOptions: Map[String, String] =
    Map(
      "kafka.bootstrap.servers" -> bootstrapServers,
      "subscribe" -> subscribe,
      "startingOffsets" -> startingOffsets,
      // headers travel with the record, as in Connect's (key,value,headers)
      "includeHeaders" -> "true") ++
      maxOffsetsPerTrigger.map("maxOffsetsPerTrigger" -> _.toString) ++ extra

  /** Producer-side options for the mirrored `writeStream` — the
    * reference's batching/compression knobs pass straight through
    * (README.md:165-185 → kafka.* options). */
  def writerOptions(targetBootstrap: String, topicPrefix: String = ""): Map[String, String] =
    Map("kafka.bootstrap.servers" -> targetBootstrap) ++
      (if (topicPrefix.isEmpty) Map.empty
       else Map("topicPrefix" -> topicPrefix))

  def batch(spark: SparkSession): DataFrame =
    spark.read.format("kafka").options(readerOptions).load()
  def stream(spark: SparkSession): DataFrame =
    spark.readStream.format("kafka").options(readerOptions).load()
}

/**
 * S1/S2 incremental polling source with a persisted high-water mark:
 * the JDBC source's `mode=timestamp` / `mode=incrementing` loop
 * (README.md:88-109, source-quickstart-sqlite.properties:27-29).
 *
 * `fetch` abstracts the backing store: in production
 * `spark.read.jdbc(url, "(SELECT ... WHERE $hwmCol > ?) t", props)`
 * with the predicate pushed to the database; the offline twin reads
 * parquet and lets Catalyst push the same predicate to the scan.
 *
 * The hwm lives in `stateDir/_HWM` and advances only via `commit` —
 * called AFTER the downstream write succeeds, giving the reference's
 * at-least-once delivery (a crash between write and commit re-polls
 * the batch; ST2). The value is stored as a string and compared via a
 * cast to the hwm column's type, so LONG ids and TIMESTAMP columns
 * both work.
 */
final class IncrementalPollSource(fetch: SparkSession => DataFrame,
                                  hwmCol: String, stateDir: String) extends Source {
  private val hwmFile = Paths.get(stateDir, "_HWM")

  def currentHwm: Option[String] =
    if (Files.exists(hwmFile))
      Some(new String(Files.readAllBytes(hwmFile), StandardCharsets.UTF_8).trim)
    else None

  /** This poll cycle's new rows: everything past the committed hwm. */
  def poll(spark: SparkSession): DataFrame = {
    val df = fetch(spark)
    currentHwm match {
      case Some(v) => df.filter(col(hwmCol) > lit(v).cast(df.schema(hwmCol).dataType))
      case None => df
    }
  }

  /** Advance the hwm to the maximum seen in `polled`. No-op on an empty
    * batch. The 1-value collect is control-plane state (≈ the offset
    * commit to `connect-offset-storage`), not a data-path collect. */
  def commit(polled: DataFrame): Unit = {
    val m = polled.agg(max(col(hwmCol)).cast("string")).collect().head
    if (!m.isNullAt(0)) {
      Files.createDirectories(hwmFile.getParent)
      val tmp = Paths.get(stateDir, "_HWM.tmp")
      Files.write(tmp, m.getString(0).getBytes(StandardCharsets.UTF_8))
      Files.move(tmp, hwmFile, StandardCopyOption.REPLACE_EXISTING,
        StandardCopyOption.ATOMIC_MOVE): Unit
    }
  }

  /** One poll→process→commit cycle (the 200 ms trigger body, ST4). */
  def pollOnce(spark: SparkSession)(process: DataFrame => Unit): Unit = {
    val batch = poll(spark)
    process(batch)
    commit(batch)
  }

  def batch(spark: SparkSession): DataFrame = fetch(spark)
  def stream(spark: SparkSession): DataFrame =
    throw new UnsupportedOperationException(
      "IncrementalPollSource is trigger-driven; use pollOnce in a trigger loop")
}
