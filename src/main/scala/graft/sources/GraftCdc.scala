package graft.sources

import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{FileSourceOptions, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{
  GenericInternalRow, JoinedRow}
import org.apache.spark.sql.connector.read.{
  Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan,
  ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.MicroBatchStream
import org.apache.spark.sql.execution.datasources.{
  FilePartition, PartitionedFile}
import org.apache.spark.sql.execution.datasources.v2.FilePartitionReaderFactory
import org.apache.spark.sql.execution.datasources.v2.parquet.{
  ParquetPartitionReaderFactory, ParquetScanBuilder}
import org.apache.spark.sql.types.{LongType, StringType, StructField,
  StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.DeleteBitmap
import graft.plans.{ManifestFileIndex, SnapshotTable}
import graft.plans.SnapshotTable.FileEntry

/** CHANGE FEED reads of a snapshot table — the Delta CDF analog,
  * batch and streaming, DELETION-VECTOR-aware:
  *
  * {{{
  *   spark.readStream.format("graft")
  *     .option("readChangeFeed", "true").load(path)   // stream images
  *   spark.read.format("graft")
  *     .option("readChangeFeed", "true")
  *     .option("startingVersion", 2)                  // span (2, head]
  *     .option("endingVersion", 5).load(path)         // … or (2, 5]
  * }}}
  *
  * Output schema is the table's columns plus `_change_image`
  * (`before` | `after`) and `_commit_version` — the same image algebra
  * [[SnapshotTable.changesDelta]] serves in batch: downstream state
  * folds `agg += f(after) − f(before)` and stays exact.
  *
  * Delivery is planned per COMMIT from the manifest diff, entirely as
  * parquet file scans (no shuffle, no driver data path):
  *
  *  - a file ADDED at v → its visible rows as `after` images,
  *  - a file REMOVED at v → its previously-visible rows as `before`,
  *  - a file whose DELETION VECTOR grew at v (deleteMoR, or the
  *    merge-on-read side of an upsert) → ONLY the newly-hidden
  *    positions as `before` images — bytes-identical files never
  *    re-read whole,
  *  - carried-over files → nothing.
  *
  * Contract vs [[SnapshotTable.changesDelta]]: per commit, the
  * streamed multiset NET of canceling (before, after) pairs equals
  * `changesDelta(v-1, v)` exactly. The pairs exist because a
  * copy-on-write rewrite re-delivers its file's unchanged rows as one
  * `before` + one `after` — which cancel in any incremental fold —
  * while `changesDelta` spends a shuffle to cancel them up front. A
  * STREAMING source cannot run that shuffle inside partition
  * planning; shipping the raw pair algebra keeps delivery a pure
  * file scan at any scale. Pure appends, MoR deletes, inserts and
  * merge-on-read upserts stream with no extra pairs at all: such an
  * upsert's `before` images are exactly the rows it replaced (the
  * positions its vectors newly hide) and its `after` images exactly
  * its batch. A re-sent row identical to the one it replaces still
  * streams as such a (before, after) pair.
  *
  * Each read unit is one whole parquet file as a `PartitionedFile`
  * (`start = 0`, `length = fileSize`) carrying its image, commit version
  * and position filter as per-file constants. Positions are counted by
  * the reader (file order), so no unit is split and none has pushed
  * filters (the inner factory is filter-free by construction, CDC reads
  * are full-row by nature). Spark's own `FilePartition` packing puts
  * several units in one task, and the inherited per-file reader opens
  * each with a position count of its own — the same per-file reader
  * and position filter ([[GraftDvRowReader]]) the snapshot scan uses. */
private[sources] final class GraftCdcScanBuilder(
    spark: SparkSession,
    tablePath: String,
    opts: CaseInsensitiveStringMap) extends ScanBuilder
    with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns {
  // column pruning reaches the inner parquet scan (a key-only
  // invalidation feed must not read the document bodies); partition
  // and change columns always ride along (they cost nothing — manifest
  // values and reader constants), which the contract allows: a scan
  // may serve a superset and Spark projects on top
  private var required: Option[StructType] = None
  override def pruneColumns(s: StructType): Unit = required = Some(s)
  override def build(): Scan =
    new GraftCdcScan(spark, tablePath, opts, required)
}

private[sources] object GraftCdc {
  val ImageField: StructField =
    StructField(SnapshotTable.ImageCol, StringType, nullable = false)
  val VersionField: StructField =
    StructField(SnapshotTable.CommitVersionCol, LongType, nullable = false)

  /** Whether an options map asks for change-feed reads. */
  def requested(options: Map[String, String]): Boolean =
    options.exists { case (k, v) =>
      k.equalsIgnoreCase("readChangeFeed") && v.trim.equalsIgnoreCase("true")
    }

  /** The CDC read schema for a table schema: data+partition columns in
    * PHYSICAL batch order (what the delegated parquet factory emits),
    * then the two change columns the reader appends. Partition fields
    * must follow `partitionCols` ORDER, not table-schema position —
    * the factory appends partition values in the index's field order,
    * and a (status, month) table declared (…, month, status) would
    * otherwise decode each value in the other's slot. */
  def schemaFor(tableSchema: StructType,
                partitionCols: Seq[String]): StructType = {
    val part = partitionCols.flatMap(c =>
      tableSchema.fields.find(_.name == c))
    val data =
      tableSchema.fields.filterNot(f => partitionCols.contains(f.name))
    shape(data, part)
  }

  /** THE one place the CDC row shape is assembled — the relation
    * schema ([[schemaFor]]) and the (possibly column-pruned) scan
    * ([[GraftCdcScan.readSchema]]) must build from the same function
    * or a drift would decode rows in the wrong slots. */
  def shape(dataFields: Seq[StructField],
            partFields: Seq[StructField]): StructType =
    StructType(dataFields ++ partFields ++ Array(ImageField, VersionField))

  // the per-file constants a read unit carries in its PartitionedFile's
  // `otherConstantMetadataColumnValues`: image tag, commit version, and
  // the position filter (a DeleteBitmap; `keepOnly` selects its sense)
  val ImageKey = "graft.cdc.image"
  val VersionKey = "graft.cdc.version"
  val PositionsKey = "graft.cdc.positions"
  val KeepOnlyKey = "graft.cdc.keepOnly"
}

private[sources] final class GraftCdcScan(
    spark: SparkSession,
    tablePath: String,
    opts: CaseInsensitiveStringMap,
    required: Option[StructType] = None) extends Scan {

  private val snapshot = SnapshotTable(spark, tablePath,
    "_unused_read_only", branch = Option(opts.get("branch")))
  private val (headEntries, tableSchema, partitionCols) =
    snapshot.scanInfo(None)

  // same guard as the snapshot scan: an id-mapped table read with id
  // matching off would resolve renamed/re-added columns by NAME
  if (SnapshotTable.idMapped(tableSchema))
    SnapshotTable.requireIdReadEnabled(spark, s"change feed of $tablePath")

  // data columns pruned to the query's requirement; partition and
  // change columns always present (manifest values / reader constants)
  private val dataSchema = StructType(
    tableSchema.fields.filterNot(f => partitionCols.contains(f.name))
      .filter(f => required.forall(_.fieldNames.contains(f.name))))
  private val partSchema = StructType(
    partitionCols.flatMap(c => tableSchema.fields.find(_.name == c)))

  override def readSchema(): StructType =
    GraftCdc.shape(dataSchema.fields.toSeq, partSchema.fields.toSeq)

  override def description(): String = s"GraftCdcScan graft.`$tablePath`"

  /** The file-reading half: one filter-free parquet factory over the
    * table's CURRENT schema serves every span (older files' missing
    * columns read as null — the same alignment changesDelta applies
    * across schema evolution). An empty scan-time file index is fine:
    * the factory's row decoding depends only on the SCHEMA; the files
    * come from each planned partition. */
  private[sources] def innerFactory(): ParquetPartitionReaderFactory = {
    val idx = new ManifestFileIndex(
      spark, snapshot.dataDirPath, headEntries, partSchema)
    val b = ParquetScanBuilder(spark, idx, tableSchema, dataSchema,
      CaseInsensitiveStringMap.empty())
    b.pruneColumns(StructType(dataSchema.fields ++ partSchema.fields))
    b.build().createReaderFactory().asInstanceOf[ParquetPartitionReaderFactory]
  }

  private[sources] def planner: GraftCdcPlanner =
    new GraftCdcPlanner(spark, snapshot, partSchema)

  // ---- batch change feed: an explicit (startingVersion, endingVersion]
  override def toBatch: Batch = {
    val from = Option(opts.get("startingVersion")).map(_.trim) match {
      case Some(raw) => raw.toLongOption.getOrElse(
        throw new IllegalArgumentException(
          s"readChangeFeed batch read needs a numeric startingVersion, " +
            s"got '$raw'"))
      case None => throw new IllegalArgumentException(
        "readChangeFeed batch read requires startingVersion (images " +
          "are committed in versions (startingVersion, endingVersion])")
    }
    val head = snapshot.currentVersion.getOrElse(0L)
    val to = Option(opts.get("endingVersion")).map(_.trim)
      .map(raw => raw.toLongOption.getOrElse(
        throw new IllegalArgumentException(
          s"endingVersion must be numeric, got '$raw'")))
      .getOrElse(head)
    // validate the span against the head NOW: a version past the head
    // would otherwise surface as the planner's misleading
    // "vacuumed — restart from a fresh checkpoint" error
    if (from > head || to > head)
      throw new IllegalArgumentException(
        s"change-feed span ($from, $to] exceeds the table head " +
          s"v$head of $tablePath")
    // startingVersion=0 walks every commit from v1 with true
    // `_commit_version` attribution — O(history), and it fails if early
    // versions were vacuumed. `initialSnapshot=collapse` opts a batch
    // consumer that only needs NET state back into the vacuum-tolerant
    // O(head) read: the ending snapshot as `after` images stamped `to`
    // (the streaming source's initial-offset behavior).
    val collapse = Option(opts.get("initialSnapshot")).map(_.trim.toLowerCase)
      match {
        case None | Some("percommit") => false
        case Some("collapse") =>
          if (from != 0L) throw new IllegalArgumentException(
            s"initialSnapshot=collapse requires startingVersion=0 " +
              s"(got $from): only the initial snapshot can collapse")
          true
        case Some(other) => throw new IllegalArgumentException(
          s"initialSnapshot must be 'collapse' or 'perCommit', got '$other'")
      }
    val p = planner
    val f = innerFactory()
    new Batch {
      override def planInputPartitions(): Array[InputPartition] =
        p.planSpan(from, to, collapseInitial = collapse)
      override def createReaderFactory(): PartitionReaderFactory =
        new GraftCdcReaderFactory(f)
    }
  }

  override def toMicroBatchStream(loc: String): MicroBatchStream =
    new GraftCdcMicroBatchStream(tablePath, planner, innerFactory(), opts)
}

/** Per-span CDC partition planning from manifest diffs — METADATA
  * only; shared by the batch and streaming entry points. */
private[sources] final class GraftCdcPlanner(
    spark: SparkSession,
    snapshot: SnapshotTable,
    partSchema: StructType) {

  private def entriesAt(v: Long): Seq[FileEntry] =
    snapshot.retainedEntriesAt(v, "change-feed")

  /** One whole-file read unit per entry (positions are counted by the
    * reader, so splits are forbidden), carrying the image tag, the
    * commit version and the entry's position filter: its deletion
    * vector at the image's visibility, or — for the entries named in
    * `keepOnly` — exactly those positions (DV-diff before images). */
  private def unitFiles(entries: Seq[FileEntry], image: String,
                        version: Long,
                        keepOnly: Map[String, Array[Long]] = Map.empty)
      : Seq[PartitionedFile] = {
    if (entries.isEmpty) return Nil
    // a span that crosses a partition-spec evolution would silently
    // MIS-DECODE pre-evolution files: dir values zip to partSchema
    // positionally, so an old-layout dir value would land in the new
    // spec's column (or null). Refuse with the bounded remedy.
    val spec = partSchema.fieldNames.toSeq
      .filterNot(_ == ManifestFileIndex.MetaPartitionCol)
    entries.find(e => SnapshotTable.specOf(e.path) != spec).foreach(e =>
      throw new IllegalStateException(
        s"change feed of ${snapshot.path} crossed a partition-spec " +
          s"evolution: file ${e.path} is not laid out by " +
          s"'${spec.mkString(",")}' — bound the span (startingVersion) " +
          "at or after the evolution commit"))
    val idx = new ManifestFileIndex(
      spark, snapshot.dataDirPath, entries, partSchema)
    val byBase = entries.map(e => SnapshotTable.basename(e.path) -> e).toMap
    idx.listFiles(Nil, Nil).flatMap { dir =>
      dir.files.map { f =>
        val base = f.getPath.getName
        val (positions, keep) = keepOnly.get(base) match {
          case Some(ps) => (DeleteBitmap.fromSorted(ps), true)
          case None => (byBase(base).deletedBitmap, false)
        }
        PartitionedFile(dir.values, SparkPath.fromPath(f.getPath), 0L,
          f.getLen, Array.empty[String], f.getModificationTime, f.getLen,
          Map(GraftCdc.ImageKey -> image, GraftCdc.VersionKey -> version,
            GraftCdc.PositionsKey -> positions, GraftCdc.KeepOnlyKey -> keep))
      }
    }
  }

  /** All change partitions committed in versions (vs, ve].
    *
    * `vs == 0` with `collapseInitial` (the STREAMING initial offset)
    * delivers the whole ve snapshot as `after` images stamped ve —
    * Delta CDF's initial-snapshot-as-inserts behavior. The BATCH entry
    * point passes `collapseInitial = false`: a batch consumer asking
    * "since the beginning" gets every commit walked from v1 with its
    * TRUE `_commit_version` (collapsing would stamp every row ve and
    * break per-commit attribution; net-fold consumers see the same
    * multiset either way). The walk fails loudly if v1's files were
    * vacuumed, exactly like any other unretained span. */
  def planSpan(vs: Long, ve: Long,
               collapseInitial: Boolean = true): Array[InputPartition] = {
    val units =
      if (ve <= vs) Nil
      else if (vs == 0L && collapseInitial)
        unitFiles(entriesAt(ve), "after", ve)
      else walk(vs, ve)
    // Spark's file-scan packing (largest first, split size from the
    // same confs), so a span of many small files reads in a few tasks
    val openCost = spark.sessionState.conf.filesOpenCostInBytes
    FilePartition.getFilePartitions(spark, units.sortBy(-_.length),
      FilePartition.maxSplitBytes(spark, units.map(_.length + openCost).sum))
      .toArray
  }

  /** Every commit in (vs, ve] walked from the manifest diffs. */
  private def walk(vs: Long, ve: Long): Seq[PartitionedFile] = {
    val out = Seq.newBuilder[PartitionedFile]
    var prev = if (vs == 0L) Seq.empty[FileEntry] else entriesAt(vs)
    var v = vs + 1
    while (v <= ve) {
      val cur = entriesAt(v)
      val prevByPath = prev.map(e => e.path -> e).toMap
      val curByPath = cur.map(e => e.path -> e).toMap
      def dvOf(e: FileEntry) = e.deletedRows
      // same path, GROWN vector (deleteMoR union): only the newly-
      // hidden positions emit, as before images — the file's bytes
      // are unchanged and everything else would cancel pairwise
      val dvDiff = cur.filter { e =>
        prevByPath.get(e.path).exists(p =>
          !java.util.Arrays.equals(dvOf(p), dvOf(e)))
      }
      val (grown, reshaped) = dvDiff.partition { e =>
        val old = dvOf(prevByPath(e.path)).toSet
        old.subsetOf(dvOf(e).toSet)
      }
      out ++= unitFiles(
        grown.map(e => prevByPath(e.path)), "before", v,
        keepOnly = grown.map { e =>
          val oldDv = dvOf(prevByPath(e.path)).toSet
          val newlyHidden = dvOf(e).filterNot(oldDv)
          SnapshotTable.basename(e.path) -> newlyHidden
        }.toMap)
      // a SHRUNK/reshaped vector (no writer does this today) falls
      // back to the generic pair: full before at the old visibility,
      // full after at the new — correct for any vector change
      out ++= unitFiles(reshaped.map(e => prevByPath(e.path)),
        "before", v)
      out ++= unitFiles(reshaped, "after", v)
      // path-level adds and removes
      out ++= unitFiles(
        cur.filterNot(e => prevByPath.contains(e.path)), "after", v)
      out ++= unitFiles(
        prev.filterNot(e => curByPath.contains(e.path)), "before", v)
      prev = cur
      v += 1
    }
    out.result()
  }
}

/** Reads a change-feed unit: the whole file through the filter-free
  * parquet reader and the shared position filter, with its two
  * constant change columns appended. The inherited `createReader`
  * opens one such reader per unit, so each file's position count
  * starts at 0. Row-based throughout (position counting; CDC consumers
  * read full rows). */
private[sources] final class GraftCdcReaderFactory(
    inner: ParquetPartitionReaderFactory) extends FilePartitionReaderFactory {

  override def options: FileSourceOptions = inner.options

  override def buildReader(file: PartitionedFile): PartitionReader[InternalRow] = {
    val unit = file.otherConstantMetadataColumnValues
    val rows = new GraftDvRowReader(inner.buildReader(file),
      unit(GraftCdc.PositionsKey).asInstanceOf[DeleteBitmap],
      keepOnly = unit(GraftCdc.KeepOnlyKey).asInstanceOf[Boolean])
    val constants = new GenericInternalRow(Array[Any](
      UTF8String.fromString(unit(GraftCdc.ImageKey).asInstanceOf[String]),
      unit(GraftCdc.VersionKey)))
    val joined = new JoinedRow
    new PartitionReader[InternalRow] {
      override def next(): Boolean = rows.next()
      override def get(): InternalRow = joined(rows.get(), constants)
      override def close(): Unit = rows.close()
    }
  }
}

/** The change feed as a Structured Streaming SOURCE: offsets are
  * manifest versions (shared [[GraftVersionedStream]] machinery —
  * startingVersion/'latest'/startingTimestamp, AvailableNow pinning,
  * maxVersionsPerTrigger admission control); each micro-batch
  * delivers the images of its version span, planned per commit. */
private[sources] final class GraftCdcMicroBatchStream(
    tablePath: String,
    planner: GraftCdcPlanner,
    factory: ParquetPartitionReaderFactory,
    opts: CaseInsensitiveStringMap)
    extends GraftVersionedStream(tablePath, opts) {

  override def planInputPartitions(start: org.apache.spark.sql.connector
      .read.streaming.Offset, end: org.apache.spark.sql.connector.read
      .streaming.Offset): Array[InputPartition] =
    planner.planSpan(start.asInstanceOf[GraftOffset].version,
      end.asInstanceOf[GraftOffset].version)

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftCdcReaderFactory(factory)
}
