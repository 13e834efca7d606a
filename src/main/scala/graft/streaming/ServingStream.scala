package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** The one file-stream driver of the serving streams: parquet files under
  * `dir` read with `schema`, ONE FILE PER MICRO-BATCH (the serving
  * contracts are stated per staged file: StreamingSpec stages each batch
  * as one file, and a pair is emitted in the batch of its later file),
  * `body` run on each micro-batch with its batch id. Pass
  * `checkpointLocation` so a restarted stream resumes from committed
  * offsets instead of replaying every file. */
private[streaming] object ServingStream {
  def start(spark: SparkSession, dir: String, schema: StructType,
      checkpointLocation: Option[String] = None)(
      body: (DataFrame, Long) => Unit): StreamingQuery = {
    val writer = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir)
      .writeStream
    checkpointLocation.fold(writer)(p => writer.option("checkpointLocation", p))
      .foreachBatch(body)
      .start()
  }
}
