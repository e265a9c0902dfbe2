package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{
  AttributeReference, EqualTo, Expression, In, Literal}
import org.apache.spark.sql.connector.expressions.{
  Expression => V2Expression, Expressions, Literal => V2Literal,
  NamedReference}
import org.apache.spark.sql.connector.expressions.filter.{
  Predicate => V2Predicate}
import org.apache.spark.sql.connector.read.{
  Batch, InputPartition, PartitionReaderFactory, Scan, ScanBuilder,
  SupportsRuntimeV2Filtering}
import org.apache.spark.sql.connector.read.streaming.{
  MicroBatchStream, Offset, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.datasources.PartitioningAwareFileIndex
import org.apache.spark.sql.execution.datasources.v2.parquet.{
  ParquetPartitionReaderFactory, ParquetScan, ParquetScanBuilder}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.plans.{ManifestFileIndex, SnapshotTable}

/** A stream position in a snapshot table: the last manifest version
  * whose files have been delivered. Versions are the table's commit
  * sequence, so offsets are totally ordered, durable across restarts,
  * and comparable with nothing but a long. */
private[sources] final case class GraftOffset(version: Long) extends Offset {
  override def json(): String = version.toString
}

/** [[ParquetScanBuilder]] with one override: the built scan also
  * answers `toMicroBatchStream`, making the same `format("graft")`
  * relation readable by `spark.readStream`. Batch planning, column
  * pruning, filter pushdown and the vectorized reader are inherited
  * untouched — the subclass only adds the streaming entry point.
  *
  * For a snapshot carrying merge-on-read deletion vectors
  * (`dvByBase` nonEmpty) the built scan plans each vectored file whole
  * and packs it with the rest, applies the vectors per file at read
  * ([[GraftDvReaderFactory]]), and aggregate pushdown is REFUSED:
  * the pushed COUNT/MIN/MAX answer from parquet footers alone, which
  * count rows a deletion vector hides. */
private[sources] final class GraftScanBuilder(
    spark: SparkSession,
    tablePath: String,
    pinnedVersion: Option[Long],
    fileIndex: PartitioningAwareFileIndex,
    tableSchema: StructType,
    dataSchema: StructType,
    dvByBase: Map[String, graft.functions.DeleteBitmap],
    opts: CaseInsensitiveStringMap,
    exactRows: Option[Long] = None)
    extends ParquetScanBuilder(spark, fileIndex, tableSchema, dataSchema,
      opts) {
  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean =
    dvByBase.isEmpty && super.pushAggregation(agg)

  override def build(): ParquetScan =
    new GraftScan(tablePath, pinnedVersion, super.build(), dvByBase,
      exactRows)
}

/** The built scan IS a [[ParquetScan]] (same batch planning, columnar
  * `BatchScan`, whole-stage codegen, estimateStatistics); the subclass
  * adds the streaming entry point — handing the same pruned/pushed
  * scan shape to [[GraftMicroBatchStream]], which re-plans it per
  * micro-batch over only the files each commit added — and DYNAMIC
  * partition pruning ([[SupportsRuntimeV2Filtering]]): a join against
  * a filtered dimension delivers the surviving partition keys after
  * the dim side ran, and the scan narrows its manifest listing to just
  * those partitions before any fact I/O. At cluster scale this is the
  * difference between scanning a 100 TB fact table and scanning the
  * joined slice of it.
  *
  * Deletion vectors ride the inherited planning: a vectored file is
  * unsplittable ([[isSplitable]]), so Spark packs it whole into shared
  * partitions exactly as it packs clean files — also after a runtime
  * filter narrows the listing, and for every micro-batch and SQL DML
  * read planned through this scan — and the reader factory applies
  * each file's vector with a position count of its own. */
private[sources] final class GraftScan(
    tablePath: String,
    pinnedVersion: Option[Long],
    base: ParquetScan,
    /** basename → sorted deleted row positions, for every live file
      * carrying a merge-on-read deletion vector; empty for clean
      * snapshots (the overwhelmingly common case — every override
      * below is a zero-cost pass-through then). */
    dvByBase: Map[String, graft.functions.DeleteBitmap] = Map.empty,
    /** EXACT snapshot row count from manifest metadata (per-file
      * footer counts minus DV cardinalities), when every live file
      * carries one — reported to the planner so join-strategy and AQE
      * decisions see a true rowCount instead of a bytes-derived guess.
      * Only reported for a FILTER-FREE scan: with any pushed/partition/
      * data filter the file set is narrower than the table and the
      * size-based estimate (which follows the pruned listing) is the
      * honest one. */
    exactRows: Option[Long] = None)
    extends ParquetScan(base.sparkSession, base.hadoopConf, base.fileIndex,
      base.dataSchema, base.readDataSchema, base.readPartitionSchema,
      base.pushedFilters, base.options, base.pushedAggregate,
      base.partitionFilters, base.dataFilters,
      base.pushedVariantExtractions)
    with SupportsRuntimeV2Filtering {

  /** Set once this scan's effective row set is no longer the whole
    * snapshot through a channel the plan-time filter guard cannot
    * see: runtime (DPP) predicates narrowing the shared file index,
    * or service as a STREAMING template (each micro-batch reads only
    * a commit delta). From then on [[estimateStatistics]] must stop
    * claiming the exact whole-table count. */
  @volatile private var rowSetNarrowed = false

  /** Exact-rowCount statistics for filter-free scans (see
    * [[exactRows]]); the byte estimate stays the inherited one. */
  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics = {
    val fromFiles = super.estimateStatistics()
    exactRows match {
      case Some(n) if !rowSetNarrowed && pushedFilters.isEmpty &&
          partitionFilters.isEmpty &&
          dataFilters.isEmpty && pushedAggregate.isEmpty =>
        new org.apache.spark.sql.connector.read.Statistics {
          override def sizeInBytes(): java.util.OptionalLong =
            fromFiles.sizeInBytes()
          override def numRows(): java.util.OptionalLong =
            java.util.OptionalLong.of(n)
        }
      case _ => fromFiles
    }
  }

  /** A vectored file is never split: its position filter counts rows
    * from the file's first ([[GraftDvReaderFactory]]). Spark's packing
    * then plans it whole, in a partition shared with other files. */
  override def isSplitable(path: Path): Boolean =
    !dvByBase.contains(path.getName) && super.isSplitable(path)

  /** For a scan whose planned file set holds a vectored file: the
    * normal factory serves clean files (row-based — see
    * [[GraftDvReaderFactory]] — but with pushed filters intact), and a
    * twin with EMPTY pushed filters serves vectored files, so parquet
    * row-group/page skipping can never renumber the position filter's
    * running count. Otherwise the plain factory, columnar path and
    * all. The listing is the one the inherited partition planning
    * packs, so the factory and the partitions see the same files. */
  override def createReaderFactory(): PartitionReaderFactory = {
    val clean = super.createReaderFactory()
    val plansVectored = dvByBase.nonEmpty &&
      fileIndex.listFiles(partitionFilters, dataFilters)
        .exists(_.files.exists(f => dvByBase.contains(f.getPath.getName)))
    if (!plansVectored) return clean
    require(pushedAggregate.isEmpty,
      "aggregate pushdown must be refused for a DV'd snapshot")
    val dvSide = copy(pushedFilters = Array.empty).createReaderFactory()
    new GraftDvReaderFactory(clean.asInstanceOf[ParquetPartitionReaderFactory],
      dvSide.asInstanceOf[ParquetPartitionReaderFactory], dvByBase)
  }

  override def toMicroBatchStream(
      checkpointLocation: String): MicroBatchStream = {
    require(pinnedVersion.isEmpty,
      s"cannot stream a versionAsOf/timestampAsOf read of $tablePath — " +
        "a pinned snapshot never changes")
    // the streaming relation's computeStats consults THIS scan, but
    // each micro-batch delivers only a commit delta — the whole-table
    // exact count would be off by orders of magnitude per batch
    rowSetNarrowed = true
    new GraftMicroBatchStream(tablePath, this, options)
  }

  private def manifestIndex: Option[ManifestFileIndex] = fileIndex match {
    case m: ManifestFileIndex => Some(m)
    case _ => None
  }

  private def partitionFieldNames: Seq[String] =
    manifestIndex.toSeq.flatMap(_.partitionSchema.fields.map(_.name))
      .filterNot(_ == ManifestFileIndex.MetaPartitionCol)

  /** Runtime filters are accepted on the columns a manifest listing can
    * prune without touching data: the PARTITION columns (directory
    * pruning) and any DATA column carrying per-file min/max stats or a
    * bloom (file skipping). */
  override def filterAttributes(): Array[NamedReference] = {
    val dataCols = manifestIndex.toSeq.flatMap(_.skippableDataColumns)
    (partitionFieldNames ++ dataCols).distinct
      .map(n => Expressions.column(n): NamedReference).toArray
  }

  /** Delivered by BatchScanExec after the dim-side subquery evaluated:
    * IN/= predicates over the declared columns. Partition-column keys
    * become partition filters on the listing; data-column keys become
    * per-file stats/bloom probes. Translation is conservative — a
    * shape or type we don't recognize narrows nothing (pruning may
    * only skip, never change results). */
  override def filter(predicates: Array[V2Predicate]): Unit = {
    // any runtime narrowing invalidates the exact whole-table count
    // for later stats consultations (AQE re-optimizations)
    if (predicates.nonEmpty) rowSetNarrowed = true
    val partCols = partitionFieldNames.toSet
    def refOf(e: V2Expression): Option[String] = e match {
      case r: NamedReference if r.fieldNames.length == 1 =>
        Some(r.fieldNames()(0))
      case _ => None
    }
    def attrOf(name: String): Option[AttributeReference] =
      manifestIndex.flatMap(_.partitionSchema.fields.find(_.name == name))
        .map(f => AttributeReference(f.name, f.dataType, nullable = true)())
    // partition literals must carry exactly the partition column's
    // type: the listing evaluates them against typed partition values,
    // and a mis-typed comparison cannot be trusted to skip correctly
    def litOf(e: V2Expression, attr: AttributeReference): Option[Literal] =
      e match {
        case l: V2Literal[_] if l.dataType == attr.dataType =>
          Some(Literal(l.value, l.dataType))
        case _ => None
      }
    def rawOf(e: V2Expression): Option[Any] = e match {
      case l: V2Literal[_] => Some(l.value)
      case _ => None
    }
    def traverse[A](xs: Seq[Option[A]]): Option[Seq[A]] =
      if (xs.forall(_.isDefined)) Some(xs.map(_.get)) else None

    var partExprs = List.empty[Expression]
    def narrowData(c: String, vals: Seq[Any]): Unit =
      manifestIndex.foreach(_.narrowDataForRuntime(c, vals))
    predicates.foreach { p =>
      val kids = p.children.toSeq
      (p.name, kids) match {
        case ("IN", ref +: values) if values.nonEmpty =>
          refOf(ref).foreach {
            case c if partCols(c) =>
              for {
                a <- attrOf(c)
                vs <- traverse(values.map(litOf(_, a)))
              } partExprs ::= In(a, vs)
            case c =>
              traverse(values.map(rawOf)).foreach(narrowData(c, _))
          }
        case ("=", Seq(x, y)) =>
          Seq((x, y), (y, x)).collectFirst {
            case (r, v) if refOf(r).isDefined && rawOf(v).isDefined =>
              (refOf(r).get, rawOf(v).get)
          }.foreach {
            case (c, _) if partCols(c) =>
              for {
                a <- attrOf(c)
                l <- Seq(x, y).flatMap(litOf(_, a)).headOption
              } partExprs ::= EqualTo(a, l)
            case (c, v) => narrowData(c, Seq(v))
          }
        case _ => ()
      }
    }
    if (partExprs.nonEmpty)
      manifestIndex.foreach(_.narrowForRuntime(partExprs))
  }
}

/** `spark.readStream.format("graft").load(path)` — the snapshot table
  * as a Structured Streaming SOURCE (the Delta streaming-source
  * analog). Offsets are manifest versions; the first batch delivers
  * the whole snapshot at stream start, and every later micro-batch
  * walks the commits in `(start, end]` and reads exactly the files
  * EACH commit added — so a row image that lived only between two
  * triggers (appended at v6, rewritten away at v7) is still delivered,
  * not lost to a net set-diff. Planning goes through the same manifest
  * index + vectorized parquet stack as batch reads — no directory
  * listing, no file-arrival heuristics — and a restart resumes from
  * the checkpointed version.
  *
  * Delivery contract: file-level, at-least-once per row image. Blind
  * [[SnapshotTable.append]] tables stream exactly-once per row. A
  * merge-on-read upsert (a batch smaller than the slice it touches —
  * see [[SnapshotTable.upsert]]) writes only its batch and hides the
  * replaced rows with deletion vectors, so it delivers only the new
  * images; hidden rows are never re-delivered (this feed carries
  * images, not deletes — `readChangeFeed` carries both), and the
  * initial snapshot is read through its vectors. A copy-on-write
  * merge or a copy-on-write delete rewrites whole partitions and so
  * delivers the rewritten partition's rows (new images AND carried
  * rows) — downstream either dedups by key (the engine's
  * idempotent-merge stance) or consumes append-only tables.
  * Compaction likewise re-delivers what it rewrites (same caveat as
  * Delta without CDF).
  * Vacuuming past a stream's checkpointed offset fails the stream with
  * an explicit message (the history it needs is gone), never a raw
  * missing-file crash loop.
  *
  * Options: `startingVersion` — first batch starts AFTER this version
  * (default 0 = deliver the whole table first); `latest` skips history
  * and tails only commits after stream start. `startingTimestamp` —
  * deliver commits made at or after the instant (epoch millis or an
  * ISO literal in the session zone); mutually exclusive with
  * `startingVersion`. `maxVersionsPerTrigger` — cap how many table
  * versions one micro-batch may span (bounded catch-up epochs). */
private[sources] abstract class GraftVersionedStream(
    protected val tablePath: String,
    opts: CaseInsensitiveStringMap)
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  protected def spark: SparkSession = SparkSession.active

  // one handle for the stream's lifetime: its bounded manifest cache is
  // exactly what serves the consecutive-version walks each trigger
  // does; `option("branch", name)` streams the branch's commit line
  protected lazy val snapshot: SnapshotTable =
    SnapshotTable(spark, tablePath, "_unused_read_only",
      branch = Option(opts.get("branch")))

  protected def head: Long = snapshot.currentVersion.getOrElse(0L)

  override def initialOffset(): Offset = {
    val byVersion = Option(opts.get("startingVersion"))
    val byTs = Option(opts.get("startingTimestamp"))
    require(byVersion.isEmpty || byTs.isEmpty,
      "set startingVersion or startingTimestamp, not both")
    byTs match {
      case Some(raw) =>
        // versions committed strictly BEFORE the instant are history
        // the stream skips; a commit at or after it is delivered
        // (Delta's at-or-after startingTimestamp contract). Instants
        // predating the table deliver everything, like version 0.
        val ms = GraftSource.sessionEpochMs(spark, raw)
        require(ms <= System.currentTimeMillis(),
          s"startingTimestamp '$raw' is in the future — commits made " +
            "after stream start but before the instant would leak in")
        snapshot.versionAt(ms - 1) match {
          case Some(v) => GraftOffset(v)
          case None if snapshot.hasVersion(1) ||
              snapshot.currentVersion.isEmpty =>
            GraftOffset(0L) // instant predates the table: deliver all
          case None => throw new IllegalStateException(
            s"history at startingTimestamp=$raw of $tablePath is " +
              "vacuumed — which rows predate the instant is no longer " +
              "knowable; use startingVersion against a retained version")
        }
      case None =>
        val raw = byVersion.getOrElse("0")
        if (raw.equalsIgnoreCase("latest")) GraftOffset(head)
        else GraftOffset(raw.toLongOption.getOrElse(
          throw new IllegalArgumentException(
            s"startingVersion must be a version number or 'latest', " +
              s"got '$raw'")))
    }
  }

  override def latestOffset(): Offset = GraftOffset(head)

  // Trigger.AvailableNow: pin the drain target ONCE at query start so
  // the run terminates at that head even under concurrent commits,
  // instead of Spark's single-batch fallback (which warns and cannot
  // bound the run against a live writer)
  @volatile private var availableNowEnd: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowEnd = Some(head)

  // admission control for burst catch-up: bound how many table
  // versions one micro-batch may span, so a stream recovering a long
  // backlog drains it in bounded-size epochs instead of one giant
  // batch (the maxFilesPerTrigger analog, but in the table's own
  // commit granularity — each epoch stays one atomic, replayable unit)
  private val maxVersionsPerTrigger: Option[Long] =
    Option(opts.get("maxVersionsPerTrigger")).map { raw =>
      val v = raw.toLongOption.filter(_ > 0).getOrElse(
        throw new IllegalArgumentException(
          s"maxVersionsPerTrigger must be a positive number, got '$raw'"))
      v
    }

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val end = availableNowEnd.getOrElse(head)
    val from = start.asInstanceOf[GraftOffset].version
    GraftOffset(maxVersionsPerTrigger
      .fold(end)(m => math.min(end, from + m)))
  }

  override def reportLatestOffset(): Offset = GraftOffset(head)

  override def deserializeOffset(json: String): Offset =
    GraftOffset(json.trim.toLong)

  /** One version's manifest entries (lengths guaranteed), with
    * missing-history surfaced as the operational fact it is: the
    * offset was vacuumed ([[SnapshotTable.retainedEntriesAt]]). */
  protected def rawEntriesAt(v: Long): Seq[SnapshotTable.FileEntry] =
    snapshot.retainedEntriesAt(v, "stream")

  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()
}

private[sources] final class GraftMicroBatchStream(
    tablePath: String,
    template: ParquetScan,
    opts: CaseInsensitiveStringMap)
    extends GraftVersionedStream(tablePath, opts) {

  /** The scan the LAST planned micro-batch reads through: the
    * template over that batch's files, wrapped DV-aware
    * ([[GraftScan]]) when a delivered file carries a deletion vector.
    * Spark plans a batch's partitions before asking for its reader
    * factory, so [[createReaderFactory]] answers from the same scan. */
  @volatile private var batchScan: ParquetScan = template

  override def planInputPartitions(start: Offset,
                                   end: Offset): Array[InputPartition] = {
    val vs = start.asInstanceOf[GraftOffset].version
    val ve = end.asInstanceOf[GraftOffset].version
    if (ve <= vs) return Array.empty
    val delta =
      if (vs == 0L) rawEntriesAt(ve) // initial batch: the whole snapshot
      else {
        // per-commit walk, not a net vs→ve set-diff: a file added at
        // some v and rewritten away before ve never shows in the net
        // diff, silently dropping its rows from the stream. File paths
        // are write-unique, so the union needs no dedup.
        val added = Seq.newBuilder[SnapshotTable.FileEntry]
        var prev = rawEntriesAt(vs).map(_.path).toSet
        var v = vs + 1
        while (v <= ve) {
          val cur = rawEntriesAt(v)
          added ++= cur.filterNot(e => prev(e.path))
          prev = cur.map(_.path).toSet
          v += 1
        }
        added.result()
      }
    if (delta.isEmpty) return Array.empty
    // a micro-batch that crosses a partition-spec evolution would
    // silently MIS-DECODE: the index zips dir values to the stream-
    // start partition schema positionally, so a new-layout file's dir
    // value would land in the wrong column (or null). Fail loudly.
    val spec = template.fileIndex.partitionSchema.fieldNames.toSeq
      .filterNot(_ == ManifestFileIndex.MetaPartitionCol)
    delta.find(e => SnapshotTable.specOf(e.path) != spec).foreach(e =>
      throw new IllegalStateException(
        s"streaming read of ${snapshot.path} crossed a partition-spec " +
          s"evolution: file ${e.path} is not laid out by " +
          s"'${spec.mkString(",")}' — restart the stream from a fresh " +
          "checkpoint (and migrateSpec() to unify remaining vintages)"))
    val idx = new ManifestFileIndex(spark, snapshot.dataDirPath, delta,
      template.fileIndex.partitionSchema)
    // a delivered file is read with the vector it carries in the
    // version that delivers it: the whole snapshot's vectors for the
    // initial batch (rows a merge or deleteMoR hid never stream), none
    // for a file a commit just added (new files carry no vector; its
    // rows are the commit's new images, and a LATER vector hides
    // nothing already delivered — this feed is images, not deletes)
    val dvs = SnapshotTable.vectorsOf(delta)
    // same pruned columns, pushed filters and options as the batch
    // scan — only the file set differs
    val scan = template.copy(fileIndex = idx)
    batchScan =
      if (dvs.isEmpty) scan else new GraftScan(tablePath, None, scan, dvs)
    batchScan.toBatch.planInputPartitions()
  }

  /** Row decoding depends only on the scan shape and the batch's
    * vectors — see [[batchScan]]. */
  override def createReaderFactory(): PartitionReaderFactory =
    batchScan.toBatch.createReaderFactory()
}
