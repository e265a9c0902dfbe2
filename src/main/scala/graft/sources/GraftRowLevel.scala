package graft.sources

import java.util.UUID

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{
  BindReferences, BoundReference, Cast, Expression,
  Predicate => CatalystPredicate, UnsafeProjection}
import org.apache.spark.sql.connector.expressions.{
  Expressions, NamedReference, SortDirection, SortOrder,
  Literal => V2Literal}
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.filter.{Predicate => V2Predicate}
import org.apache.spark.sql.connector.read.{
  Batch, Scan, ScanBuilder, SupportsPushDownFilters, SupportsRuntimeV2Filtering}
import org.apache.spark.sql.connector.write.{
  BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo,
  PhysicalWriteInfo, RequiresDistributionAndOrdering, RowLevelOperation,
  RowLevelOperationInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.RowLevelOperation.Command
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources.{EqualTo, Filter, In}
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

import graft.plans.{ManifestFileIndex, SnapshotTable}
import graft.plans.SnapshotTable.FileEntry

/** Group-based (copy-on-write) row-level operations for SQL
  * `MERGE INTO` / `UPDATE` / `DELETE` on graft tables — the DSv2
  * contract Spark's own `RewriteMergeIntoTable` / `RewriteUpdateTable` /
  * `RewriteDeleteFromTable` analyzer rules plan against, the same way
  * Iceberg wires them. The reference's central operation (the Delta
  * MERGE in orders_etl.py:67-71) thus becomes expressible from pure SQL.
  *
  * The replacement GROUP is a data file; pruning narrows the group set
  * in two stages before any rewrite I/O, mirroring
  * [[SnapshotTable.delete]]'s two-stage design:
  *
  *  1. STATIC: Spark pushes the command's condition into the scan
  *     builder (GroupBasedRowLevelOperationScanPlanning) — used ONLY to
  *     drop files whose manifest stats or partition value prove no row
  *     can match. Never row-filtering: a kept file's unmatched rows
  *     must be copied, so every filter is reported unhandled.
  *  2. RUNTIME: the scan declares the partition column as its filter
  *     attribute; Spark's RowLevelOperationRuntimeGroupFiltering then
  *     computes the MATCHED partitions (an IN-subquery over the join
  *     with the source) and calls [[GraftRowLevelScan.filter]], so a
  *     MERGE into a 100 TB table rewrites only the partitions the
  *     source actually touches — exactly the engine's native
  *     partition-scoped upsert, reached from SQL.
  *
  * The write stages parquet task-side (clustered + sorted by the
  * partition column via [[RequiresDistributionAndOrdering]], one open
  * file at a time) and commits ONE atomic manifest: staged files
  * replace exactly the scanned files, everything else carries over by
  * reference; a replaced file no longer live at commit time fails the
  * commit (write-write conflict) instead of losing the other writer's
  * rows. */
final class GraftRowLevelOperation(
    spark: SparkSession,
    private[sources] val tablePath: String,
    cmd: Command,
    branch: Option[String] = None) extends RowLevelOperation {

  // with a branch, every stage of the operation — scan planning,
  // staging, the atomic replace commit — runs against the branch's
  // commit line (shared data dir): SQL DML on `t$branch_<name>`
  private[sources] val snapshot =
    SnapshotTable(spark, tablePath, "_unused_read_only", branch = branch)

  private[sources] val (liveEntries, tableSchema, partitionCols) =
    snapshot.scanInfo(None)

  /** Live entries after STATIC condition pruning. Both scan builders
    * the rewrite creates (the main scan and the runtime group filter's
    * matching-rows scan) receive the same pushed condition and compute
    * the same set, so last-write-wins assignment is deterministic. */
  @volatile private[sources] var staticEntries: Seq[FileEntry] = liveEntries

  /** Per-column Hive-encoded partition values the runtime group filter
    * proved matched; empty until (unless) the filter fires. */
  @volatile private[sources] var runtimeDirs: Map[String, Set[String]] =
    Map.empty

  /** The exact file set the (pruned) scan plans — what the commit
    * replaces. Derived, not recorded from a scan instance: the
    * matching-rows subquery scan must not perturb it. */
  private[sources] def replacedEntries: Seq[FileEntry] =
    if (runtimeDirs.isEmpty) staticEntries
    else staticEntries.filter { e =>
      val vals = SnapshotTable.partValuesOf(e.path)
      runtimeDirs.forall { case (c, set) => vals.get(c).forall(set) }
    }

  override def command(): Command = cmd

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftRowLevelScanBuilder(spark, this, options)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write =
        new GraftReplaceDataWrite(spark, GraftRowLevelOperation.this,
          info.schema())
    }

  /** Requiring the `_partition` metadata column is LOAD-BEARING beyond
    * its value: Spark's ReplaceData exec only routes rows through the
    * projecting write task (which strips the internal operation column
    * and adapts rows to the declared write schema) when a metadata
    * projection exists — a metadata-less group-based connector would
    * receive raw MergeRows output. Iceberg requires `_file` for the
    * same reason. */
  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array(Expressions.column(ManifestFileIndex.MetaPartitionCol))

  override def description(): String = "GraftRowLevelOperation[" + cmd +
    ", groups=" + (if (partitionCols.isEmpty) "table"
                   else partitionCols.mkString("+")) + "]"
}

/** Scan builder for the row-level operation: pushed filters prune
  * FILES (manifest stats + partition values) and are all reported
  * unhandled — group semantics forbid dropping rows of a kept file. */
final class GraftRowLevelScanBuilder(
    spark: SparkSession,
    op: GraftRowLevelOperation,
    options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownFilters {

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val bounds = FilterPruning.pruneBounds(filters)
    val statsPruned =
      if (bounds.isEmpty) op.liveEntries
      else op.snapshot.candidatesOf(op.liveEntries, bounds)
    op.staticEntries = op.partitionCols.foldLeft(statsPruned) { (es, pc) =>
      FilterPruning.partitionValues(filters, pc,
        spark.sessionState.conf.sessionLocalTimeZone) match {
        case Some(dirs) => es.filter(e =>
          SnapshotTable.partValuesOf(e.path).get(pc).forall(dirs))
        case None => es
      }
    }
    filters // ALL post-scan: pruning may drop files, never rows
  }

  override def pushedFilters(): Array[Filter] = Array.empty

  override def build(): Scan = new GraftRowLevelScan(spark, op)
}

/** The operation's scan: full rows of the (pruned) file set, with the
  * partition column declared for runtime group filtering. Planning
  * delegates to Spark's vectorized parquet batch over a
  * [[ManifestFileIndex]] holding EXACTLY the surviving entries — the
  * inner scan receives no filters of its own, so its planned file set
  * provably equals what the commit replaces. */
final class GraftRowLevelScan(
    spark: SparkSession,
    op: GraftRowLevelOperation) extends Scan with SupportsRuntimeV2Filtering {

  private val dataSchema = StructType(op.tableSchema.fields.filterNot(f =>
    op.partitionCols.contains(f.name)))

  // _partition rides as one more manifest-valued "partition column"
  private val partSchema = StructType(
    op.partitionCols.flatMap(c =>
      op.tableSchema.fields.find(_.name == c)) :+
    org.apache.spark.sql.types.StructField(
      ManifestFileIndex.MetaPartitionCol, StringType, nullable = true))

  // full table schema plus the _partition metadata column the
  // operation requires, in the PHYSICAL batch order (data columns then
  // partition columns — what the delegated parquet batch emits; the
  // relation reconciles against the logical output by name)
  override def readSchema(): StructType =
    StructType(dataSchema.fields ++ partSchema.fields)

  override def filterAttributes(): Array[NamedReference] =
    op.partitionCols.map(Expressions.column).toArray

  override def filter(predicates: Array[V2Predicate]): Unit = {
    val zone = spark.sessionState.conf.sessionLocalTimeZone
    def render(lit: V2Literal[_]): String = {
      val s = Cast(
        org.apache.spark.sql.catalyst.expressions.Literal(
          lit.value, lit.dataType),
        StringType, Some(zone)).eval(null)
      ExternalCatalogUtils.getPartitionValueString(
        if (s == null) null else s.toString)
    }
    def refCol(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[String] = e match {
      case r: NamedReference if r.fieldNames.length == 1 &&
          op.partitionCols.contains(r.fieldNames.head) =>
        Some(r.fieldNames.head)
      case _ => None
    }
    // each understood predicate narrows its column's value set;
    // anything else is ignored (no pruning — never wrong, only less
    // selective)
    predicates.foreach { p =>
      val kids = p.children()
      val hit: Option[(String, Set[String])] = p.name() match {
        case "IN" if kids.nonEmpty && refCol(kids.head).isDefined &&
            kids.tail.forall(_.isInstanceOf[V2Literal[_]]) =>
          Some(refCol(kids.head).get ->
            kids.tail.map(k => render(k.asInstanceOf[V2Literal[_]])).toSet)
        case "=" if kids.length == 2 =>
          // both orientations: Spark may deliver `col = lit` or the
          // flipped `lit = col` (GraftScan.filter handles both; this
          // path silently pruned nothing on the flipped shape)
          Seq((kids(0), kids(1)), (kids(1), kids(0))).collectFirst {
            case (r, l: V2Literal[_]) if refCol(r).isDefined =>
              refCol(r).get -> Set(render(l))
          }
        case _ => None
      }
      hit.foreach { case (c, d) =>
        op.runtimeDirs = op.runtimeDirs.updated(c,
          op.runtimeDirs.get(c).fold(d)(_ intersect d))
      }
    }
  }

  override def toBatch: Batch = {
    val replaced = op.replacedEntries
    val index = new ManifestFileIndex(
      spark, op.snapshot.dataDirPath, replaced, partSchema)
    // an empty options map and no pushed filters: the inner batch must
    // plan every surviving file in full. Built through the DV-aware
    // builder so a snapshot carrying merge-on-read deletion vectors
    // rewrites WITHOUT its hidden rows (the replacement files then
    // carry no vector — a copy-on-write rewrite is itself the lazy
    // purge); a plain parquet batch here would resurrect them.
    new GraftScanBuilder(spark, op.tablePath, None, index, readSchema(),
      dataSchema, SnapshotTable.vectorsOf(replaced),
      CaseInsensitiveStringMap.empty())
      .build().toBatch
  }

  override def description(): String =
    s"GraftRowLevelScan ${op.description()}"
}

/** The ReplaceData write: tasks stage parquet under the table's
  * `_stage/<commit>`, the driver commit promotes the staged tree and
  * swaps it for the replaced files in ONE manifest commit. */
final class GraftReplaceDataWrite(
    spark: SparkSession,
    op: GraftRowLevelOperation,
    writeSchema: StructType)
    extends Write with RequiresDistributionAndOrdering {

  private val commitId = UUID.randomUUID().toString.take(8)

  // cluster + sort by the partition column so each task streams one
  // partition directory at a time (single open writer, no small-file
  // explosion); unpartitioned tables write one file per input task
  override def requiredDistribution(): Distribution =
    if (op.partitionCols.isEmpty) Distributions.unspecified()
    else Distributions.clustered(op.partitionCols
      .map(c => Expressions.identity(c)
        : org.apache.spark.sql.connector.expressions.Expression).toArray)

  override def requiredOrdering(): Array[SortOrder] =
    op.partitionCols.map(c => Expressions.sort(
      Expressions.column(c), SortDirection.ASCENDING)).toArray

  // pin the shuffle width: AQE would otherwise coalesce a toy-scale
  // rewrite onto one task that pays every partition dir's file
  // round-trips sequentially (the measured 38s-vs-7s trap)
  override def requiredNumPartitions(): Int =
    if (op.partitionCols.nonEmpty)
      spark.sessionState.conf.numShufflePartitions
    else 0

  override def toBatch: BatchWrite = new BatchWrite {
    override def createBatchWriterFactory(
        info: PhysicalWriteInfo): DataWriterFactory = {
      val dataSchema = StructType(writeSchema.fields.filterNot(f =>
        op.partitionCols.contains(f.name)))
      val job = Job.getInstance(spark.sessionState.newHadoopConf())
      val owf = new ParquetFileFormat()
        .prepareWrite(spark, job, Map.empty, dataSchema)
      // the table's logged CHECK constraints, resolved against the
      // write schema and BOUND so executors can evaluate them per row —
      // SQL MERGE/UPDATE write paths are constraint-enforced like every
      // other writer. Copy-on-write rewrites re-validate the copied
      // rows of touched groups too (strictly stronger, Delta-style).
      val boundChecks =
        GraftWriteSupport.boundChecks(spark, op.snapshot, writeSchema)
      new GraftStagedWriterFactory(
        new SerializableConfiguration(job.getConfiguration), owf,
        op.snapshot.stageDirFor(commitId), writeSchema, op.partitionCols,
        spark.sessionState.conf.sessionLocalTimeZone, boundChecks)
    }

    override def commit(messages: Array[WriterCommitMessage]): Unit =
      op.snapshot.commitStagedReplace(
        commitId, op.replacedEntries.map(_.path).toSet, writeSchema,
        // promote only task-REPORTED files: a task that committed its
        // files but died before reporting is retried under a new task
        // id, and a whole-dir promote would commit both copies
        only = Some(messages.toSeq.flatMap {
          case GraftWriteCommitted(files) => files
          case _ => Nil
        }.toSet))

    override def abort(messages: Array[WriterCommitMessage]): Unit =
      op.snapshot.abortStaged(commitId)
  }

  override def description(): String =
    s"GraftReplaceDataWrite ${op.description()}"
}

/** A task attempt's committed stage-relative file paths — what the
  * driver-side commit may promote. Every commit path (row-level batch
  * and streaming) promotes strictly the union of these lists, never
  * the whole stage dir: files committed by an attempt whose success
  * status never reached the driver must not ride along with the
  * retry's. */
private[sources] final case class GraftWriteCommitted(files: Seq[String])
    extends WriterCommitMessage

private[sources] object GraftWriteSupport {

  /** The table's effective CHECK constraints, resolved against
    * `writeSchema` and BOUND so executor-side writers evaluate them per
    * row — shared by the row-level DML writes and the streaming sink,
    * so the two paths can never diverge in constraint enforcement. */
  def boundChecks(spark: SparkSession, snapshot: SnapshotTable,
                  writeSchema: StructType): Seq[(String, Expression)] = {
    val checks = snapshot.effectiveChecks
    if (checks.isEmpty) Nil
    else {
      import org.apache.spark.sql.functions.{coalesce, lit}
      val dummy = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], writeSchema)
      checks.map { case (n, c) =>
        dummy.filter(coalesce(c, lit(true)) =!= lit(false))
          .queryExecution.analyzed match {
          case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
            n -> BindReferences.bindReference(f.condition, f.child.output)
          case other => throw new IllegalStateException(
            s"unexpected CHECK analysis shape: $other")
        }
      }
    }
  }
}

final class GraftStagedWriterFactory(
    conf: SerializableConfiguration,
    owf: OutputWriterFactory,
    stageDir: String,
    writeSchema: StructType,
    partitionCols: Seq[String],
    zoneId: String,
    boundChecks: Seq[(String, Expression)] = Nil) extends DataWriterFactory {

  override def createWriter(partitionId: Int,
                            taskId: Long): DataWriter[InternalRow] =
    new GraftStagedDataWriter(conf, owf, stageDir, writeSchema,
      partitionCols, zoneId, partitionId, taskId, boundChecks)
}

/** Task-side staged parquet writer. Rows arrive clustered and sorted by
  * the partition column (the Write requires it), so one output file is
  * open at a time; an out-of-order straggler only costs an extra file,
  * never corruption (file names are attempt-unique and never reused).
  * Files land under an attempt-private `_tmp` subtree and move into the
  * stage proper only on task commit — a failed/speculative attempt's
  * output can never be promoted (Spark's commit coordinator guarantees
  * a single committed attempt per task). */
final class GraftStagedDataWriter(
    conf: SerializableConfiguration,
    owf: OutputWriterFactory,
    stageDir: String,
    writeSchema: StructType,
    partitionCols: Seq[String],
    zoneId: String,
    partitionId: Int,
    taskId: Long,
    boundChecks: Seq[(String, Expression)] = Nil)
    extends DataWriter[InternalRow] {

  // CHECK constraints, interpreted per row (FALSE after the driver-side
  // coalesce wrap = violation; the wrap already let NULL pass)
  private val checkPreds = boundChecks.map { case (n, e) =>
    val p = CatalystPredicate.createInterpreted(e)
    p.initialize(partitionId)
    (n, p)
  }

  private val pcIdx = partitionCols.map(writeSchema.fieldIndex)

  private val dataFields = writeSchema.fields.zipWithIndex
    .filterNot { case (_, i) => pcIdx.contains(i) }

  private val dataSchema = StructType(dataFields.map(_._1))

  private val projectData = UnsafeProjection.create(
    dataFields.toIndexedSeq.map { case (f, i) =>
      BoundReference(i, f.dataType, f.nullable) })

  // partition values rendered EXACTLY the way the engine's own writer
  // names dirs: CAST to string in the session zone, then Hive-escaped
  private val projectDir =
    if (pcIdx.isEmpty) None
    else Some(UnsafeProjection.create(pcIdx.toIndexedSeq.map(i => Cast(
      BoundReference(i, writeSchema.fields(i).dataType, nullable = true),
      StringType, Some(zoneId)))))

  private val tmpRoot = s"$stageDir/_tmp-$taskId"

  private def fs = new Path(stageDir)
    .getFileSystem(conf.value)

  private val attemptCtx = new TaskAttemptContextImpl(conf.value,
    new TaskAttemptID(new TaskID(new JobID("graft-replace", 0),
      TaskType.MAP, partitionId), 0))

  private var currentDir: String = null
  private var writer: OutputWriter = null
  private var fileNo = 0

  private def roll(dir: String): Unit = {
    if (writer != null) writer.close()
    val sub = if (dir.isEmpty) "" else s"$dir/"
    writer = owf.newInstance(
      s"$tmpRoot/${sub}part-$partitionId-$taskId-$fileNo.parquet",
      dataSchema, attemptCtx)
    fileNo += 1
    currentDir = dir
  }

  /** Metadata variant (ReplaceData's projecting task calls this for
    * rows that came from the table): the record alone decides the
    * destination — routing by the METADATA partition value would pin an
    * updated row to its OLD directory when the update changes the
    * partition column. */
  override def write(metadata: InternalRow, record: InternalRow): Unit =
    write(record)

  override def write(row: InternalRow): Unit = {
    checkPreds.foreach { case (name, p) =>
      if (!p.eval(row))
        throw new IllegalArgumentException(
          s"CHECK constraint '$name' violated by a row-level write")
    }
    val dir = projectDir match {
      case Some(p) =>
        val s = p(row)
        partitionCols.zipWithIndex.map { case (pc, i) =>
          ExternalCatalogUtils.getPartitionPathString(pc,
            if (s.isNullAt(i)) null else s.getUTF8String(i).toString)
        }.mkString("/")
      case None => ""
    }
    if (writer == null || dir != currentDir) roll(dir)
    writer.write(projectData(row))
  }

  override def commit(): WriterCommitMessage = {
    if (writer != null) { writer.close(); writer = null }
    // promote the attempt's files into the stage proper (per-file
    // renames — same-FS metadata ops), reporting what was moved
    val moved = List.newBuilder[String]
    val root = new Path(tmpRoot)
    val f = fs
    if (f.exists(root)) {
      def move(p: Path, rel: String): Unit = f.listStatus(p).foreach { st =>
        val name = st.getPath.getName
        val childRel = if (rel.isEmpty) name else s"$rel/$name"
        if (st.isDirectory) move(st.getPath, childRel)
        else {
          val dest = new Path(s"$stageDir/$childRel")
          f.mkdirs(dest.getParent)
          if (!f.rename(st.getPath, dest))
            throw new IllegalStateException(s"stage promote failed: $dest")
          moved += childRel
        }
      }
      move(root, "")
      f.delete(root, true)
    }
    GraftWriteCommitted(moved.result())
  }

  override def abort(): Unit = {
    if (writer != null) { writer.close(); writer = null }
    fs.delete(new Path(tmpRoot), true)
  }

  override def close(): Unit =
    if (writer != null) { writer.close(); writer = null }
}

/** Filter-shape helpers shared by the V1 relation and the row-level
  * scan builder: conservative extraction — a shape that can't prune
  * simply contributes nothing. */
private[sources] object FilterPruning {

  /** Manifest [lo, hi] bounds from pushed filters. One-sided numeric
    * comparisons complete with the type's extreme; a one-sided string
    * bound only exists on the low side ("" is the minimum string). */
  def pruneBounds(filters: Array[Filter]): Seq[(String, Any, Any)] = {
    import org.apache.spark.sql.sources._
    def loOf(v: Any): Option[Any] = v match {
      case _: Long | _: Int | _: Short | _: Byte => Some(Long.MinValue)
      case _: Double | _: Float => Some(Double.NegativeInfinity)
      case _: String => Some("")
      case _ => None
    }
    def hiOf(v: Any): Option[Any] = v match {
      case _: Long | _: Int | _: Short | _: Byte => Some(Long.MaxValue)
      case _: Double | _: Float => Some(Double.PositiveInfinity)
      case _ => None
    }
    def supported(v: Any): Boolean = v match {
      case _: Long | _: Int | _: Short | _: Byte | _: Double | _: Float |
           _: String => true
      case _ => false
    }
    filters.toSeq.flatMap {
      case EqualTo(c, v) if supported(v) => Seq((c, v, v))
      case GreaterThan(c, v) if supported(v) =>
        hiOf(v).map(hi => (c, v, hi)).toSeq
      case GreaterThanOrEqual(c, v) if supported(v) =>
        hiOf(v).map(hi => (c, v, hi)).toSeq
      case LessThan(c, v) if supported(v) =>
        loOf(v).map(lo => (c, lo, v)).toSeq
      case LessThanOrEqual(c, v) if supported(v) =>
        loOf(v).map(lo => (c, lo, v)).toSeq
      case _ => Seq.empty // other shapes never prune
    }
  }

  /** The Hive-dir-encoded partition values a conjunctive filter set
    * pins the partition column to, or None when unconstrained.
    * Rendering goes through CAST-to-string in the session zone — the
    * exact transform the writer used to name the dirs. A java
    * `toString` would differ for timestamps ('2024-01-05 00:00:00.0'),
    * match no dir, and silently prune the very partition the command
    * targets (the scan would read nothing: an UPDATE that updates 0
    * rows, a MERGE that duplicates matched keys as inserts). */
  def partitionValues(filters: Array[Filter], pc: String,
                      zoneId: String): Option[Set[String]] = {
    def render(v: Any): String = {
      val s =
        if (v == null) null
        else Cast(org.apache.spark.sql.catalyst.expressions.Literal
          .create(v), StringType, Some(zoneId)).eval(null)
      ExternalCatalogUtils.getPartitionValueString(
        if (s == null) null else s.toString)
    }
    val sets = filters.toSeq.collect {
      case EqualTo(c, v) if c == pc => Set(render(v))
      case In(c, vs) if c == pc => vs.map(render).toSet
    }
    sets.reduceOption(_ intersect _)
  }
}
