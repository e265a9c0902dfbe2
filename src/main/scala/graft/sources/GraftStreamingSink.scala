package graft.sources

import org.apache.hadoop.mapreduce.Job
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.connector.write.{
  DataWriter, PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{
  StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.execution.datasources.OutputWriterFactory
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

import graft.plans.SnapshotTable

/** Streaming half of the graft sink — what
  * `df.writeStream.format("graft")` commits through. Each epoch's tasks
  * stage parquet via the same writer as the row-level DML paths
  * ([[GraftStagedDataWriter]], partition-routed, CHECK-enforced), then
  * the driver commits ONE manifest version that both appends the
  * epoch's files (Complete mode: replaces the table) and records the
  * epoch high-water mark as a table property — so a replayed
  * micro-batch is detected and dropped and the sink is exactly-once
  * end-to-end, the txnAppId/txnVersion idempotence of public Delta's
  * streaming sink (reference ingests micro-batch-wise with Delta MERGE,
  * `/root/reference/src/glue_scripts/orders_etl.py:60-71`).
  *
  * The epoch property key derives from the streaming QUERY id (stable
  * across restarts — it lives in the checkpoint), overridable with the
  * `txnAppId` write option for sinks fed by replacement queries. */
final class GraftStreamingWrite(
    spark: SparkSession,
    tablePath: String,
    writeSchema: StructType,
    queryId: String,
    truncate: Boolean,
    options: Map[String, String]) extends StreamingWrite {

  private val streamId = {
    val raw = options.getOrElse("txnAppId", queryId)
    val safe = raw.filter(c => c.isLetterOrDigit || c == '-' || c == '_')
    require(safe.nonEmpty, s"unusable txnAppId/queryId: '$raw'")
    safe
  }

  private val propKey = s"stream.epoch.$streamId"

  /** MERGE mode — `option("mergeKey", col)`: each epoch UPSERTS by the
    * key instead of blind-appending (the streaming form of the batch
    * sink's primaryKey merge; public Delta needs foreachBatch for
    * this). Same epoch mark, same replay detection. On a scoped table
    * the task-staged files ARE the batch of the table's stage-first
    * merge ([[SnapshotTable.commitStagedStreamUpsert]]): scoped from
    * their footers and dirs, promoted when it merges on read, read
    * back when it rewrites. */
  private val mergeKey: Option[String] = options.get("mergeKey")
  require(mergeKey.isEmpty || !truncate,
    "mergeKey is incompatible with Complete mode: a per-epoch replace " +
      "leaves nothing to merge into")
  mergeKey.foreach(k => require(writeSchema.fieldNames.contains(k),
    s"mergeKey '$k' is not a column of the streamed data " +
      s"(${writeSchema.fieldNames.mkString(", ")})"))

  /** `option("autoCompact", n)`: after any epoch that leaves the table
    * with ≥ n live files, bin-pack small files in a follow-up commit —
    * long-running ingestion otherwise accretes one small file set per
    * epoch forever (Delta's auto-compaction concern). A separate,
    * idempotent maintenance commit: a crash between epoch and compact
    * loses nothing, and downstream streams see the usual
    * rewrite-redelivery caveat. */
  private val autoCompact: Option[Int] =
    options.get("autoCompact").map { raw =>
      raw.toIntOption.filter(_ > 1).getOrElse(throw
        new IllegalArgumentException(
          s"autoCompact must be an integer file-count threshold > 1, " +
            s"got '$raw'"))
    }

  private val snapshot =
    SnapshotTable(spark, tablePath, mergeKey.getOrElse("_unused_stream_sink"))

  /** `option("mergeSchema", true)`: the stream may carry NEW columns —
    * the table's schema evolves (metadata-only commit, old files read
    * the additions as null) before the first epoch that brings them.
    * Additive only: dropping or retyping a column is always an error. */
  private val mergeSchema: Boolean =
    options.get("mergeSchema").exists(_.equalsIgnoreCase("true"))

  // the sink appends INTO the table's logged schema: parquet resolves
  // columns by name on read, so column order is free, but a name/type
  // mismatch would commit files the table's own schema cannot read.
  // Types compare by catalogString — nullability (top-level AND
  // nested) is no reason to reject a by-name parquet append
  private val tableSchema: StructType = {
    val (_, ts, _) = snapshot.scanInfo(None)
    ts
  }
  {
    val want =
      tableSchema.fields.map(f => f.name -> f.dataType.catalogString).toMap
    val got =
      writeSchema.fields.map(f => f.name -> f.dataType.catalogString).toMap
    val compatible =
      if (mergeSchema)
        // no type conflict on any SHARED name: the stream may add new
        // columns (table evolves) or omit existing ones (null-filled)
        want.forall { case (n, t) => got.get(n).forall(_ == t) }
      else got == want
    require(compatible,
      s"streaming write schema mismatch at $tablePath: " +
        s"query writes ${writeSchema.simpleString}, " +
        s"table is ${tableSchema.simpleString}" +
        (if (mergeSchema) " (mergeSchema never retypes a column)" else ""))
    // fail at the DRIVER if the stream omits a partition column: the
    // executor-side writer indexes partition fields by name and would
    // otherwise die per task with an obscure fieldIndex error after
    // retries (mergeSchema's shared-name check above doesn't catch an
    // omitted column — omission is legal for DATA columns only)
    val missingPc = snapshot.tablePartitionCols
      .filterNot(writeSchema.fieldNames.contains)
    require(missingPc.isEmpty,
      s"streaming write into $tablePath omits partition column(s) " +
        s"${missingPc.mkString(", ")} — every batch row needs a " +
        "partition value")
  }

  /** The table's CURRENT logged schema, evolving it first when this
    * stream carries columns it lacks (mergeSchema; idempotent — a
    * replay sees the already-evolved schema and no-ops). ONE manifest
    * read per epoch, shared by evolution and the commit below. */
  private def headSchemaEvolved(): StructType = {
    val have = snapshot.scanInfo(None)._2
    if (!mergeSchema) return have
    val added = writeSchema.fields.filterNot(f =>
      have.fieldNames.contains(f.name))
    if (added.isEmpty) have
    else {
      val merged = StructType(have.fields ++ added.map(_.copy(nullable = true)))
      snapshot.evolveTo(merged)
      merged
    }
  }

  // the FULL stream id (sanitized for path use): truncating it let two
  // queries whose txnAppIds share a prefix collide on the same
  // per-epoch stage dir — one query's abort then deleted the other's
  // in-flight staged files
  private val streamTag = streamId.replaceAll("[^A-Za-z0-9._-]", "_")

  private def commitIdOf(epochId: Long) = s"stream-$streamTag-$epochId"

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory = {
    val partitionCols = snapshot.tablePartitionCols
    val dataSchema = StructType(writeSchema.fields.filterNot(f =>
      partitionCols.contains(f.name)))
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    val owf = new ParquetFileFormat()
      .prepareWrite(spark, job, Map.empty, dataSchema)
    // logged CHECK constraints, bound against the write schema so
    // executors enforce them per row — the streaming sink is
    // constraint-bound exactly like the row-level DML writers
    // (one shared binding, the paths can never diverge)
    val boundChecks =
      GraftWriteSupport.boundChecks(spark, snapshot, writeSchema)
    new GraftStreamingWriterFactory(
      new SerializableConfiguration(job.getConfiguration), owf,
      s"$tablePath/_stage", s"stream-$streamTag", writeSchema,
      partitionCols, spark.sessionState.conf.sessionLocalTimeZone,
      boundChecks)
  }

  override def commit(epochId: Long,
                      messages: Array[WriterCommitMessage]): Unit = {
    // only THIS attempt's task-reported files may commit: the epoch's
    // stage dir name is deterministic, so a crashed earlier attempt of
    // the same epoch can have left committed files beside ours
    val staged = messages.toSeq.flatMap {
      case GraftWriteCommitted(files) => files
      case _ => Nil
    }.toSet
    // the manifest must log a schema covering EVERY live file. Under
    // mergeSchema that is the evolved union; otherwise prefer the
    // table's CURRENT schema whenever it covers the write schema — a
    // concurrent ALTER TABLE ADD COLUMNS would otherwise be silently
    // reverted by the next epoch commit (this epoch's files read the
    // added column as null, the standard evolution contract)
    val head = headSchemaEvolved()
    val commitSchema =
      if (mergeSchema) head
      else if (writeSchema.fieldNames.forall(head.fieldNames.contains)) head
      else writeSchema
    // false = replay of an already-committed epoch: dropping the
    // re-staged batch IS the exactly-once outcome, not an error
    val committed =
      if (mergeKey.isDefined)
        snapshot.commitStagedStreamUpsert(commitIdOf(epochId), writeSchema,
          propKey, epochId, staged, evolve = mergeSchema)
      else
        snapshot.commitStagedStreamAppend(commitIdOf(epochId), commitSchema,
          propKey, epochId, truncate, staged)
    if (committed) autoCompact.foreach { threshold =>
      if (snapshot.candidateFiles().size >= threshold) snapshot.compact()
    }
  }

  override def abort(epochId: Long,
                     messages: Array[WriterCommitMessage]): Unit =
    snapshot.abortStaged(commitIdOf(epochId))
}

/** Per-epoch staging: writer tasks for epoch N land files under
  * `_stage/<prefix>-N`, the exact tree
  * [[SnapshotTable.commitStagedStreamAppend]] promotes for commit id
  * `<prefix>-N` — epochs never share a staging dir, so a straggler
  * task of a failed attempt can't contaminate the next epoch. */
final class GraftStreamingWriterFactory(
    conf: SerializableConfiguration,
    owf: OutputWriterFactory,
    stageRoot: String,
    commitPrefix: String,
    writeSchema: StructType,
    partitionCols: Seq[String],
    zoneId: String,
    boundChecks: Seq[(String, Expression)])
    extends StreamingDataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long,
                            epochId: Long): DataWriter[InternalRow] =
    new GraftStagedDataWriter(conf, owf,
      s"$stageRoot/$commitPrefix-$epochId", writeSchema, partitionCols,
      zoneId, partitionId, taskId, boundChecks)
}
