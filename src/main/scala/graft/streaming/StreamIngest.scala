package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.io.Sources

/** Structured-Streaming facade over the lake: watch a bronze directory,
  * upsert every discovered file batch through a caller-supplied sink.
  *
  * This is the Spark-native re-expression of the reference's event-driven
  * ingestion — S3 ObjectCreated → Lambda → Step Function → Glue job
  * (/root/reference/scripts/lambda/trigger_sfn.py:5-27): the file source
  * detects new files, `foreachBatch(merge)` is the upsert, the checkpoint
  * replaces the Step Function's exactly-once bookkeeping.
  *
  * 100 TB posture: the file source scales by listing, each micro-batch
  * `VersionedTable.merge` restages only touched partitions as one atomic
  * log commit, and checkpointed offsets make re-runs incremental — a
  * crashed ingest resumes, never reprocesses.
  */
object StreamIngest {

  /** CSVs land as all-string columns (reference parity: header, no
    * inferSchema) and are cast-enforced per batch before `mergeFn` — any
    * upsert function: `VersionedTable.merge` (each micro-batch becomes one
    * atomic log commit → streaming CDC with time travel), or a custom
    * writer.
    */
  def ingestAvailable(
      spark: SparkSession,
      srcDir: String,
      schema: StructType,
      mergeFn: DataFrame => Unit,
      checkpoint: String): Unit =
    ingestAvailable(spark, srcDir, schema, (b: DataFrame, _: Long) => mergeFn(b), checkpoint)

  /** Batch-id-aware variant: `mergeFn` receives the micro-batch's id so a
    * transactional sink can make the write idempotent — pass it as the
    * txn version of `VersionedTable.merge(batch, txn = Some((app, id)))`
    * and a foreachBatch REPLAY (restart between sink commit and offset
    * commit — the at-least-once window Structured Streaming documents)
    * no-ops instead of double-applying. Checkpointed offsets alone are
    * only exactly-once when the sink dedups; this is the dedup.
    */
  def ingestAvailable(
      spark: SparkSession,
      srcDir: String,
      schema: StructType,
      mergeFn: (DataFrame, Long) => Unit,
      checkpoint: String): Unit = {
    val rawSchema = StructType(schema.fields.map(f => StructField(f.name, StringType)))
    val stream = spark.readStream
      .option("header", "true")
      .schema(rawSchema)
      .csv(srcDir)
    val q = stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        mergeFn(Sources.castTo(batch, schema), batchId)
      }
      .start()
    q.awaitTermination()
  }
}
