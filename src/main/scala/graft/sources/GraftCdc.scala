package graft.sources

import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  GenericInternalRow, JoinedRow}
import org.apache.spark.sql.connector.read.{
  Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan,
  ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.MicroBatchStream
import org.apache.spark.sql.execution.datasources.{
  FilePartition, PartitionedFile}
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder
import org.apache.spark.sql.types.{LongType, StringType, StructField,
  StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

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
  * Positions are counted by the reader (file order), so every file
  * reads UNSPLIT and whole, with no pushed filters and its own position
  * count — the same invariant [[GraftDvReaderFactory]] relies on; clean
  * `after`/`before` files without a position filter read whole too (the
  * factory is filter-free by construction, CDC reads are full-row by
  * nature). A task reads several such files one after another, packed
  * the way Spark packs a file scan. */
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
  private[sources] def innerFactory(): PartitionReaderFactory = {
    val idx = new ManifestFileIndex(
      spark, snapshot.dataDirPath, headEntries, partSchema)
    val b = ParquetScanBuilder(spark, idx, tableSchema, dataSchema,
      CaseInsensitiveStringMap.empty())
    b.pruneColumns(StructType(dataSchema.fields ++ partSchema.fields))
    b.build().createReaderFactory()
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
    * commit version, and the entry's position filter. */
  private def filePartitions(entries: Seq[FileEntry], image: String,
                             version: Long,
                             keepOnly: Map[String, Array[Long]] = Map.empty)
      : Seq[GraftCdcFile] = {
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
    val byBase = entries.map(e =>
      e.path.substring(e.path.lastIndexOf('/') + 1) -> e).toMap
    idx.listFiles(Nil, Nil).flatMap { dir =>
      dir.files.map { f =>
        val base = f.getPath.getName
        val entry = byBase(base)
        val pf = new PartitionedFile(dir.values,
          SparkPath.fromPath(f.getPath), 0L, f.getLen,
          Array.empty[String], f.getModificationTime, f.getLen,
          Map.empty)
        GraftCdcFile(pf, image, version,
          drop = entry.deletedRows, keep = keepOnly.get(base).orNull)
      }
    }
  }

  /** Pack whole-file units into input partitions the way Spark packs a
    * file scan (largest first; a partition closes when the next file
    * would overflow the split size, each file also costing the open
    * cost; split size from the same confs), so a span of many small
    * files reads in a few tasks instead of one task per file. Each unit
    * still reads whole, with its own position count. */
  private def packed(units: Seq[GraftCdcFile]): Array[InputPartition] = {
    if (units.isEmpty) return Array.empty
    val conf = spark.sessionState.conf
    val openCost = conf.filesOpenCostInBytes
    val perCore = units.map(_.pf.length + openCost).sum /
      conf.filesMinPartitionNum.getOrElse(spark.sparkContext.defaultParallelism)
    val maxSplit = math.min(conf.filesMaxPartitionBytes,
      math.max(openCost, perCore))
    val out = Array.newBuilder[InputPartition]
    var cur = Vector.empty[GraftCdcFile]
    var size = 0L
    units.sortBy(-_.pf.length).foreach { u =>
      if (cur.nonEmpty && size + u.pf.length > maxSplit) {
        out += GraftCdcInputPartition(cur)
        cur = Vector.empty
        size = 0L
      }
      cur :+= u
      size += u.pf.length + openCost
    }
    out += GraftCdcInputPartition(cur)
    out.result()
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
    if (ve <= vs)
      return Array.empty
    if (vs == 0L && collapseInitial)
      return packed(filePartitions(entriesAt(ve), "after", ve))
    val out = Seq.newBuilder[GraftCdcFile]
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
      out ++= filePartitions(
        grown.map(e => prevByPath(e.path)), "before", v,
        keepOnly = grown.map { e =>
          val oldDv = dvOf(prevByPath(e.path)).toSet
          val newlyHidden = dvOf(e).filterNot(oldDv)
          e.path.substring(e.path.lastIndexOf('/') + 1) -> newlyHidden
        }.toMap)
      // a SHRUNK/reshaped vector (no writer does this today) falls
      // back to the generic pair: full before at the old visibility,
      // full after at the new — correct for any vector change
      out ++= filePartitions(reshaped.map(e => prevByPath(e.path)),
        "before", v)
      out ++= filePartitions(reshaped, "after", v)
      // path-level adds and removes
      out ++= filePartitions(
        cur.filterNot(e => prevByPath.contains(e.path)), "after", v)
      out ++= filePartitions(
        prev.filterNot(e => curByPath.contains(e.path)), "before", v)
      prev = cur
      v += 1
    }
    packed(out.result())
  }
}

/** One change-feed read unit: a whole parquet file, the image it
  * contributes, the commit it belongs to, and its position filter —
  * `drop` hides positions (the file's deletion vector at the image's
  * visibility), `keep` (when non-null) restricts to exactly those
  * positions (DV-diff before images). Both sorted ascending. */
private[sources] final case class GraftCdcFile(
    pf: PartitionedFile, image: String, version: Long,
    drop: Array[Long], keep: Array[Long])

/** The read units one change-feed task reads, one file after another. */
private[sources] final case class GraftCdcInputPartition(
    files: Seq[GraftCdcFile]) extends InputPartition {
  override def preferredLocations(): Array[String] =
    FilePartition(0, files.map(_.pf).toArray).preferredLocations()
}

/** Reads a partition's units one file at a time — each through its
  * own filter-free parquet row reader, so the position count restarts
  * at every file — applying the unit's position filter and appending
  * its two constant change columns. Row-based throughout (position
  * counting; CDC consumers read full rows). */
private[sources] final class GraftCdcReaderFactory(
    inner: PartitionReaderFactory) extends PartitionReaderFactory {

  override def supportColumnarReads(p: InputPartition): Boolean = false

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val units = p.asInstanceOf[GraftCdcInputPartition].files.iterator
    new PartitionReader[InternalRow] {
      private var cdc: GraftCdcFile = _
      private var it: PartitionReader[InternalRow] = _
      private var constants: InternalRow = _
      private var pos = -1L
      private val joined = new JoinedRow
      override def next(): Boolean = {
        while (it != null || units.hasNext) {
          if (it == null) {
            cdc = units.next()
            it = inner.createReader(FilePartition(0, Array(cdc.pf)))
            constants = new GenericInternalRow(Array[Any](
              UTF8String.fromString(cdc.image), cdc.version))
            pos = -1L
          }
          while (it.next()) {
            pos += 1
            val visible =
              if (cdc.keep != null)
                java.util.Arrays.binarySearch(cdc.keep, pos) >= 0
              else java.util.Arrays.binarySearch(cdc.drop, pos) < 0
            if (visible) return true
          }
          it.close()
          it = null
        }
        false
      }
      override def get(): InternalRow = joined(it.get(), constants)
      override def close(): Unit = if (it != null) it.close()
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
    factory: PartitionReaderFactory,
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
