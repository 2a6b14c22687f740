package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** §2.9 streaming/incremental semantics.
  *
  * The reference is a cron-batch system whose incremental paths are
  * (a) file-append keyed on max timestamp (J6, eddypro_concatenator)
  * and (b) "since-time" pulls (S14). Both map onto Structured
  * Streaming with `Trigger.AvailableNow`: the file source discovers
  * new files per run, watermark + dropDuplicates replaces the full
  * re-merge dedup, and checkpointing replaces the master-file max-ts
  * bookkeeping. Each run drains what's available and exits — same
  * cron-compatible semantics, but restart-safe and incremental at
  * 100 TB (only new files are read, state is bounded by the
  * watermark).
  */
object IncrementalAppend {

  /** J6: continuously (or per cron-run) fold new parquet files in
    * `inDir` into the deduplicated lake at `outDir`. Duplicate keys
    * within `lateness` are dropped via streaming state; later exact
    * re-sends are handled by the idempotent parquet sink. */
  def appendRun(spark: SparkSession, inDir: String, outDir: String,
      checkpoint: String, schema: org.apache.spark.sql.types.StructType,
      tsCol: String, keyCols: Seq[String], lateness: String = "1 hour")
      : Unit = {
    val in = spark.readStream.schema(schema).parquet(inDir)
    val deduped = in
      .withWatermark(tsCol, lateness)
      .dropDuplicates(keyCols :+ tsCol)
    val q = deduped.writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }
}
