package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.Lake

/** Streaming bronze → silver: the Structured-Streaming re-expression of the
  * reference's event-driven micro-batching (SURVEY §2.9) — Firehose buffers
  * 60 s / 5 MB, an S3 OBJECT_CREATED event triggers one Lambda per bronze
  * object (stack:457-463, serverless_processing_iceberg/main.py:154-160).
  *
  * Spark mapping: a file-source `readStream` on the bronze directory with
  * `foreachBatch` doing the same silver upsert the batch path uses, and
  * `Trigger.ProcessingTime` standing in for the Firehose buffer interval.
  * The reference has no watermarks/event-time windows (late records are
  * just new bronze rows; PK dedup + upsert resolve them), so the stream is
  * deliberately stateless — checkpointed file tracking is the only state.
  *
  * Scale notes: file-source listing is incremental (checkpointed); each
  * micro-batch shuffles only on the PK for dedup; `maxFilesPerTrigger`
  * bounds batch size so one huge backlog does not produce one huge batch.
  */
final class BronzeStream(lake: Lake) {

  /** Start the continuous bronze→silver pipeline for one endpoint.
    * Each micro-batch applies the SAME dedup+upsert as the batch path. */
  def start(domain: String, name: String,
      trigger: Trigger = Trigger.ProcessingTime("60 seconds"),
      maxFilesPerTrigger: Int = 1000): StreamingQuery = {
    val spark = lake.spark
    lake.registry.get(domain, name).getOrElse(
      throw new NoSuchElementException(s"endpoint $domain/$name not found"))
    // bronze is schema-on-read JSONL, but a file stream needs its schema
    // up front: the one inferred over the bronze files present at start
    val bronzeSchema = lake.bronze(domain, name).map(_.schema).getOrElse(
      throw new NoSuchElementException(s"endpoint $domain/$name has no bronze data"))
    spark.readStream
      .schema(bronzeSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .json(s"${lake.bronzePath(domain, name)}/*.jsonl")
      .writeStream
      .trigger(trigger)
      .option("checkpointLocation",
        s"${lake.root}/checkpoints/$domain/$name")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        lake.silver.processBatch(domain, name, batch): Unit
      }
      .start()
  }

  /** Event-time tumbling-window aggregation over a streaming source —
    * the windowed-agg shape the reference cannot express at all (its only
    * "window" is the Firehose buffer). Watermark bounds state. */
  def windowedCounts(events: DataFrame, window: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window),
        col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))

  /** Event-time SESSION windows (dynamic gap-close windows) over a
    * streaming source: a session ends `gap` after its last event; the
    * watermark closes and emits sessions once no earlier event can
    * arrive. Identical semantics to the batch q83 operator — the same
    * `session_window` expression runs in both modes. */
  def sessionCounts(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"),
        org.apache.spark.sql.functions.session_window(col("ts"), gap)
          .as("sw"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("sw.start").as("session_start"),
        col("sw.end").as("session_end"), col("n_events"))
}
