package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.plans.SnapshotTable

/** The reference's event-driven ingestion loop (T1/T2; reference:
  * README.md:76-90 — S3 event → SQS → Lambda → pipeline) re-expressed as
  * Structured Streaming: a file source watches the landing directory,
  * each micro-batch MERGEs into a [[SnapshotTable]] by PK as ONE atomic
  * manifest commit, and `Trigger.AvailableNow` gives the reference's
  * "process everything that has arrived, then stop" batch-per-arrival
  * semantics. A concurrent reader always sees a complete batch
  * boundary, never a batch applied to some partitions and not others.
  *
  * Idempotent late/duplicate handling is inherited from the MERGE-by-PK
  * sink (T2; orders_etl.py:65-71) — no watermark needed for parity
  * (SURVEY.md §2.10: the reference has no event-time operators). The
  * checkpoint gives exactly-once file tracking across restarts, which
  * is STRONGER than the reference's at-least-once Lambda trigger; a
  * batch replayed after a crash re-merges idempotently, and its extra
  * commit is content-identical and vacuumable.
  *
  * Scale notes (100 TB): the file source lists incrementally
  * (`maxFilesPerTrigger` bounds batch size); each batch's upsert cost is
  * O(touched partitions), so steady-state ingest scales with arrival
  * rate, not table size.
  */
object Ingest {

  /** Stream CSV files from `landingDir` into `table`. Returns the
    * TERMINATED query once all currently-available files are processed
    * (AvailableNow) — `recentProgress` carries the per-micro-batch
    * duration breakdown for callers that attribute wall time. */
  def csvToTable(spark: SparkSession, landingDir: String, schema: StructType,
                 table: SnapshotTable, checkpointDir: String,
                 maxFilesPerTrigger: Option[Int] = None,
                 timestampFormat: String = "yyyy-MM-dd['T'][' ']HH:mm:ss")
      : StreamingQuery = {
    val reader = spark.readStream
      .schema(graft.Tables.asNullable(schema))
      .option("header", "true")
      .option("timestampFormat", timestampFormat)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    upsertEachBatch(reader.csv(landingDir), table, checkpointDir)
  }

  /** Stream parquet files from `landingDir` into `table` (the same loop
    * for columnar landings). */
  def parquetToSnapshot(spark: SparkSession, landingDir: String,
                        schema: StructType, table: SnapshotTable,
                        checkpointDir: String,
                        maxFilesPerTrigger: Option[Int] = None)
      : StreamingQuery = {
    val reader = spark.readStream.schema(schema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    upsertEachBatch(reader.parquet(landingDir), table, checkpointDir)
  }

  /** The AvailableNow loop: every micro-batch of `stream` is
    * deduplicated by PK ([[dedupLatestFile]]) and upserted into `table`.
    * Returns once the query has terminated. */
  private def upsertEachBatch(stream: DataFrame, table: SnapshotTable,
                              checkpointDir: String): StreamingQuery = {
    val q = stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // per-batch MERGE (T2): dedup within the batch first — a batch
        // may contain multiple files carrying the same PK
        table.upsert(dedupLatestFile(batch, table.primaryKey))
      }
      .start()
    q.awaitTermination()
    q
  }

  /** Intra-batch PK dedup that keeps the row from the LATEST source
    * file (lexically greatest `input_file_name`, ties on row content):
    * one AvailableNow batch may contain an original AND its correction
    * file, and an arbitrary `dropDuplicates` could keep the stale row —
    * the reference's per-file loop applies files in order, so the
    * later file must win. */
  private def dedupLatestFile(batch: DataFrame, pk: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val w = Window.partitionBy(pk).orderBy(
      col("__src_file").desc,
      struct(batch.columns.toIndexedSeq.map(col): _*).desc)
    batch.withColumn("__src_file", input_file_name())
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
      .drop("__src_file", "__rk")
  }
}
