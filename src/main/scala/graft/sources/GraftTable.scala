package graft.sources

import java.util.{Collections, Set => JSet}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{
  MetadataColumn, SupportsMetadataColumns, SupportsRead,
  SupportsRowLevelOperations, SupportsWrite, Table, TableCapability}
import org.apache.spark.sql.connector.distributions.{
  Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{
  Expressions, SortDirection, SortOrder, Transform}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{
  LogicalWriteInfo, RequiresDistributionAndOrdering,
  RowLevelOperationBuilder, RowLevelOperationInfo, SupportsTruncate,
  V1Write, Write, WriteBuilder}
import org.apache.spark.sql.connector.write.streaming.StreamingWrite
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder
import org.apache.spark.sql.sources.InsertableRelation
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.plans.{ManifestFileIndex, SnapshotTable}

/** The snapshot table as a DataSource V2 [[Table]] — what
  * `spark.read.format("graft")` resolves to. Scans are planned by
  * Spark's own vectorized parquet stack ([[ParquetScanBuilder]] →
  * columnar `BatchScan`, inside whole-stage codegen) over a
  * [[ManifestFileIndex]], so a `format("graft")` read costs exactly
  * what a native parquet read costs while planning from manifest
  * metadata alone: zero directory listings, partition pruning and
  * min/max data skipping decided before any I/O.
  *
  * A table handle is pinned to ONE snapshot version (head at
  * construction, or `versionAsOf`/`timestampAsOf`): time travel is just
  * a handle onto an older manifest, and a concurrent commit can never
  * shift a query's file set mid-plan. */
final class GraftTable(
    spark: SparkSession,
    val tablePath: String,
    val pinnedVersion: Option[Long] = None,
    /** CREATE TABLE OPTIONS / writer options — `primaryKey` names the
      * MERGE key for the write half, `partitionCol` opts writes into
      * partition-scoped rewrites. */
    val options: Map[String, String] = Map.empty)
    extends Table with SupportsRead with SupportsWrite
    with SupportsRowLevelOperations with SupportsMetadataColumns {

  // `option("branch", name)` pins this table handle onto a branch's
  // commit line (shared data directory, independent log) — reads AND
  // writes: the catalog's `ns.`t$branch_<name>`` identifier resolves
  // here, so SQL SELECT/INSERT/MERGE/UPDATE/DELETE all run branch-
  // local. Only path-based `save()` writes refuse the option
  // (GraftSource.createRelation), keeping an untracked writer off a
  // branch line it cannot see. Case-insensitive lookup — a
  // case-sensitive get let `option("BRANCH", ...)` slip through to
  // main.
  private[sources] val branchOpt: Option[String] =
    GraftSource.optCI(options, "branch")

  private val snapshot =
    SnapshotTable(spark, tablePath, "_unused_read_only", branch = branchOpt)

  /** LAZY cold-open state (big tables with a parquet checkpoint twin):
    * the live entries stay an uncollected DataFrame and scans
    * materialize only the partitions their filters keep
    * ([[graft.plans.SnapshotTable.lazyScanState]] documents the
    * gates). None → the classic eager path: one driver-side manifest
    * read per handle. */
  private val lazyState
      : Option[(Long, org.apache.spark.sql.DataFrame, StructType, Seq[String])] =
    snapshot.lazyScanState(pinnedVersion)

  // the eager manifest read: the ONLY path on small tables, the forced
  // fallback on lazy handles when a consumer genuinely needs the full
  // driver-side entry list (metadata-only extremes, inputFiles). The
  // version is pinned to the lazy state's resolution so both views
  // always describe the SAME snapshot.
  private lazy val eagerScan: (Seq[SnapshotTable.FileEntry], StructType, Seq[String]) =
    snapshot.scanInfo(lazyState.map(_._1).orElse(pinnedVersion))

  private lazy val entries: Seq[SnapshotTable.FileEntry] = eagerScan._1

  private val (tableSchema: StructType, partitionCols: Seq[String]) =
    lazyState.map(s => (s._3, s._4))
      .getOrElse((eagerScan._2, eagerScan._3))

  private val partitionSchema: StructType = StructType(
    partitionCols.flatMap(c => tableSchema.fields.find(_.name == c)))

  private val dataSchema: StructType = StructType(
    tableSchema.fields.filterNot(f => partitionCols.contains(f.name)))

  /** CHANGE FEED mode (`option("readChangeFeed", "true")`): the
    * relation's schema gains `_change_image`/`_commit_version` and
    * scans plan from manifest DIFFS instead of one snapshot
    * ([[GraftCdcScan]] — batch spans and the streaming source). */
  private val cdcMode: Boolean = GraftCdc.requested(options)
  require(!cdcMode || pinnedVersion.isEmpty,
    s"readChangeFeed and versionAsOf/timestampAsOf cannot combine on " +
      s"$tablePath — a change feed is a SPAN of versions; bound it " +
      "with startingVersion/endingVersion instead")

  override def name(): String =
    s"graft.`$tablePath`" + pinnedVersion.fold("")(v => s"@v$v")

  override def schema(): StructType =
    if (cdcMode) GraftCdc.schemaFor(tableSchema, partitionCols)
    else tableSchema

  override def partitioning(): Array[Transform] =
    partitionCols.map(c => Expressions.identity(c)).toArray

  /** The manifest's logged table properties (primaryKey and friends) —
    * surfaced so `DESCRIBE TABLE EXTENDED` and catalog tooling see the
    * same metadata every writer is bound by, not an empty map. */
  override def properties(): java.util.Map[String, String] = {
    val m = new java.util.HashMap[String, String]()
    snapshot.properties.foreach { case (k, v) => m.put(k, v) }
    Collections.unmodifiableMap(m)
  }

  /** V1_BATCH_WRITE — not BATCH_WRITE — is deliberate: SQL
    * `INSERT INTO` / `INSERT OVERWRITE` on a V2 relation accept it
    * (TableCapabilityCheck), so SQL DML rides the proven
    * [[SnapshotRelation.insert]] semantics (Append MERGEs by
    * primaryKey), while `DataFrameWriter.save` only takes its V2 path
    * on full BATCH_WRITE and therefore falls back to the V1 sink —
    * which is the only API that can honor ALL FOUR save modes
    * (the V2 writer contract forbids ErrorIfExists/Ignore). */
  override def capabilities(): JSet[TableCapability] = {
    val s = new java.util.HashSet[TableCapability]()
    s.add(TableCapability.BATCH_READ)
    s.add(TableCapability.MICRO_BATCH_READ)
    s.add(TableCapability.V1_BATCH_WRITE)
    s.add(TableCapability.TRUNCATE)
    s.add(TableCapability.STREAMING_WRITE)
    s
  }

  /** The row's group identity: its Hive-encoded partition-dir value
    * ("" on unpartitioned tables). Iceberg's `_partition` analog — and
    * the metadata attribute the row-level operations require, which is
    * what routes their writes through Spark's projecting write task. */
  override def metadataColumns(): Array[MetadataColumn] = Array(
    new MetadataColumn {
      override def name(): String = ManifestFileIndex.MetaPartitionCol
      override def dataType(): org.apache.spark.sql.types.DataType =
        org.apache.spark.sql.types.StringType
      override def isNullable: Boolean = true
      override def comment(): String =
        "Hive-encoded partition value of the row's data file"
    })

  /** Served as one more "partition column" whose value comes from the
    * manifest path — the parquet readers never see it. */
  private def indexPartitionSchema: StructType = StructType(
    partitionSchema.fields :+ org.apache.spark.sql.types.StructField(
      ManifestFileIndex.MetaPartitionCol,
      org.apache.spark.sql.types.StringType, nullable = true))

  private[sources] def fileIndex: ManifestFileIndex = {
    // an id-mapped table scanned with id matching off would silently
    // resolve renamed/re-added columns by NAME — wrong bytes, so loud
    if (SnapshotTable.idMapped(tableSchema))
      SnapshotTable.requireIdReadEnabled(spark, name())
    lazyState match {
      case Some((_, df, _, _)) =>
        ManifestFileIndex.lazyIndex(spark, snapshot.dataDirPath, df,
          indexPartitionSchema)
      case None =>
        new ManifestFileIndex(spark, snapshot.dataDirPath, entries,
          indexPartitionSchema)
    }
  }

  /** EXACT row count of this handle's pinned snapshot from manifest
    * metadata alone (per-file footer counts minus deletion-vector
    * cardinalities), or None when any live file predates row-count
    * recording or the handle is a change feed. What
    * [[MetadataOnlyCount]] rewrites `COUNT(*)` with. */
  private[sources] def metadataRowCount: Option[Long] =
    if (cdcMode) None
    else lazyState match {
      case Some(_) => lazyRowCount // distributed, cached per handle
      case None => SnapshotTable.metadataRowCount(entries)
    }

  /** [[SnapshotTable.metadataRowCount]] computed as ONE distributed
    * aggregate over the twin DataFrame — Σ(file rows − DV cardinality)
    * with an all-files-have-counts gate — so `COUNT(*)` stays a
    * metadata answer on lazy handles without collecting the entry
    * list. (Column counts/extremes still force the eager list: they
    * are rarer rewrites and their null/stat plumbing is per-column.) */
  private lazy val lazyRowCount: Option[Long] = lazyState.flatMap {
    case (_, df, _, _) =>
      import org.apache.spark.sql.functions.expr
      val rk = SnapshotTable.FileEntry.RowsKey
      val dk = SnapshotTable.FileEntry.DvKey
      val r = df.agg(
        expr(s"min(case when array_position(skeys, '$rk') > 0 " +
          "then 1 else 0 end)").as("__all"),
        expr(s"""sum(case when array_position(skeys, '$rk') > 0
          | then cast(substring(element_at(smins,
          |   cast(array_position(skeys, '$rk') as int)), 3) as bigint)
          | else 0L end)
          | - sum(case when array_position(skeys, '$dk') > 0
          | then cast(substring(element_at(smaxs,
          |   cast(array_position(skeys, '$dk') as int)), 3) as bigint)
          | else 0L end)""".stripMargin.replace("\n", " ")).as("__n"))
        .head()
      if (r.isNullAt(0)) Some(0L) // empty snapshot
      else if (r.getInt(0) == 0) None // a live file predates row counts
      else Some(r.getLong(1))
  }

  /** EXACT `count(col)` (non-null count) of this handle's pinned
    * snapshot from manifest null counts, or None when metadata cannot
    * answer exactly — see [[SnapshotTable.metadataColumnCount]]. What
    * [[MetadataOnlyCount]] rewrites `count(col)` with. */
  private[sources] def metadataColumnCount(colName: String): Option[Long] =
    if (cdcMode) None
    else SnapshotTable.metadataColumnCount(entries, colName)

  /** EXACT column MIN/MAX from manifest stats, or None when metadata
    * cannot answer exactly: any deletion vector (a hidden row may be
    * the extreme), any file without stats for the column, a stats
    * family that is not loss-free under SQL semantics (plain integrals
    * `L:`, ASCII strings `S:`, datetimes `T:` and decimals `C:`
    * qualify — double stats are NaN/-0.0-hazardous in parquet footers
    * and stay scan-answered), or a column type the family cannot
    * reconstruct. Parquet column stats exclude nulls, matching SQL
    * MIN/MAX; an all-null file has no stats entry and therefore
    * refuses. Empty table → SQL null. */
  private[sources] def metadataExtreme(
      colName: String, dataType: org.apache.spark.sql.types.DataType,
      isMin: Boolean): Option[Any] = {
    import org.apache.spark.sql.types._
    import SnapshotTable.FileEntry
    if (cdcMode) return None
    if (entries.isEmpty) return Some(null)
    if (entries.exists(_.hasDeletes)) return None
    val sides = entries.map(_.stats.get(colName).map(s =>
      if (isMin) s._1 else s._2))
    if (sides.exists(_.isEmpty)) return None
    val tagged = sides.map(_.get)
    if (tagged.map(_.take(2)).distinct.size != 1) return None
    val pick =
      if (isMin) tagged.min(FileEntry.valueOrdering)
      else tagged.max(FileEntry.valueOrdering)
    (pick.take(2), dataType) match {
      case ("L:", LongType) => pick.drop(2).toLongOption
      case ("L:", IntegerType) =>
        pick.drop(2).toLongOption.collect {
          case v if v >= Int.MinValue && v <= Int.MaxValue => v.toInt }
      case ("L:", ShortType) =>
        pick.drop(2).toLongOption.collect {
          case v if v >= Short.MinValue && v <= Short.MaxValue => v.toShort }
      case ("L:", ByteType) =>
        pick.drop(2).toLongOption.collect {
          case v if v >= Byte.MinValue && v <= Byte.MaxValue => v.toByte }
      case ("S:", StringType) => Some(
        org.apache.spark.unsafe.types.UTF8String.fromString(
          java.net.URLDecoder.decode(pick.drop(2), "UTF-8")))
      // "T:" is micros in the COLUMN'S OWN semantics (a date file's
      // stats are midnight micros; date→ts_ntz widened vintages stay
      // in one unit) — timestamps take it verbatim, dates divide back
      // to days, exactly or not at all
      case ("T:", TimestampType | TimestampNTZType) =>
        pick.drop(2).toLongOption
      case ("T:", DateType) =>
        pick.drop(2).toLongOption.collect {
          case us if us % SnapshotTable.FileEntry.MicrosPerDay == 0 &&
              us / SnapshotTable.FileEntry.MicrosPerDay >= Int.MinValue &&
              us / SnapshotTable.FileEntry.MicrosPerDay <= Int.MaxValue =>
            (us / SnapshotTable.FileEntry.MicrosPerDay).toInt
        }
      // "C:" carries each value's own scale; rescaling to the column's
      // declared (wider-or-equal) scale is exact by the widening
      // contract — anything that would round refuses
      case ("C:", dt: DecimalType) =>
        try {
          val d = FileEntry.decodeDecimal(pick.drop(2))
            .setScale(dt.scale) // throws on any rounding
          if (d.precision <= dt.precision)
            Some(org.apache.spark.sql.types.Decimal(d, dt.precision,
              dt.scale))
          else None
        } catch { case _: ArithmeticException => None }
      case _ => None
    }
  }

  /** Merge-on-read deletion vectors of this snapshot, keyed by file
    * basename (commit-UUID-prefixed, globally unique) — applied inside
    * the scan ([[GraftDvReaderFactory]]), so SQL/DSv2 reads of a DV'd
    * snapshot hide deleted rows with no materialization step. Empty
    * for clean snapshots. */
  private lazy val dvByBase: Map[String, graft.functions.DeleteBitmap] = {
    // lazy mode: only the DV-carrying entries (usually none) cross to
    // the driver — a distributed filter over the twin, not a full list
    val dvd = lazyState match {
      case Some((_, df, _, _)) =>
        import org.apache.spark.sql.functions._
        df.filter(array_contains(col("skeys"),
            lit(SnapshotTable.FileEntry.DvKey)))
          .collect().iterator.map(SnapshotTable.entryOfCkptRow).toSeq
      case None => entries.filter(_.hasDeletes)
    }
    SnapshotTable.vectorsOf(dvd)
  }

  /** Batch plans are exactly Spark's parquet scans; the graft subclass
    * only adds `toMicroBatchStream`, so the same relation serves
    * `spark.read` and `spark.readStream` ([[GraftMicroBatchStream]]).
    * Change-feed handles get the CDC scan instead. */
  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder = {
    requireUniformSpec("scan")
    if (cdcMode) new GraftCdcScanBuilder(spark, tablePath, opts)
    else new GraftScanBuilder(spark, tablePath, pinnedVersion, fileIndex,
      tableSchema, dataSchema, dvByBase, opts, metadataRowCount)
  }

  /** This DSv2 stack plans ONE partition spec (a single
    * [[graft.plans.ManifestFileIndex]] under `partitionCols`); a
    * snapshot that mixes spec vintages (repartitionTo committed,
    * migration incomplete) must refuse rather than parse old-layout
    * paths under the new spec. Checked at scan/DML construction — not
    * at table load, so DESCRIBE/SHOW still work on a mixed table. */
  // computed once per handle: entries are fixed at construction, and
  // re-splitting 10^6 paths per scan-builder call would tax planning.
  // Lazy mode answers from the DISTINCT parent dirs (O(partitions)
  // driver, collected distributively) — vintage is a per-DIRECTORY
  // fact, so the full path list is never needed.
  private lazy val uniformSpec: Boolean = lazyState match {
    case Some((_, df, _, _)) =>
      df.select(ManifestFileIndex.ParentDirExpr.as("__p")).distinct()
        .collect().forall { r =>
          val p = r.getString(0)
          graft.plans.SnapshotTable.specOf(
            if (p.isEmpty) "f" else s"$p/f") == partitionCols
        }
    case None => entries.forall(e =>
      graft.plans.SnapshotTable.specOf(e.path) == partitionCols)
  }

  private def requireUniformSpec(what: String): Unit =
    require(uniformSpec,
      s"cannot $what $tablePath through format(\"graft\"): the snapshot " +
        "mixes partition-spec vintages (repartitionTo committed, " +
        "migration incomplete) and this scan stack plans a single spec " +
        "— read through the SnapshotTable API, or run migrateSpec() to " +
        "rewrite legacy-layout files")

  /** SQL MERGE INTO / UPDATE / DELETE — group-based copy-on-write row
    * level operations ([[GraftRowLevelOperation]]). DML against a
    * time-travel handle is rejected: only the head may be mutated. */
  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder = {
    require(pinnedVersion.isEmpty,
      s"cannot ${info.command} a versionAsOf/timestampAsOf read of $tablePath")
    requireUniformSpec(s"${info.command}")
    // a branch handle is a first-class DML target: the operation scans,
    // stages and commits against the BRANCH's commit line (same shared
    // data dir), which is what makes a pure-SQL write-audit-publish
    // loop possible on the `t$branch_<name>` identifier
    () => new GraftRowLevelOperation(spark, tablePath, info.command,
      branchOpt)
  }

  /** One builder, two transports: batch writes ride the V1 sink (the
    * only API honoring all four save modes, see capabilities note);
    * `writeStream.format("graft")` asks the SAME Write for
    * `toStreaming` and gets the exactly-once epoch-committing sink
    * ([[GraftStreamingWrite]]). The clustered-by-partition distribution
    * is declared ONLY once `toStreaming` is taken (Spark's micro-batch
    * planner builds the streaming write before preparing the query):
    * the V1 batch path does its own pinned repartition inside
    * [[graft.plans.SnapshotTable]] and must not pay a second
    * exchange. */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    new WriteBuilder with SupportsTruncate {
      private var overwrite = false
      override def truncate(): WriteBuilder = { overwrite = true; this }
      override def build(): Write = {
        val ow = overwrite
        new V1Write with RequiresDistributionAndOrdering {
          @volatile private var streaming = false
          override def toInsertableRelation: InsertableRelation =
            (data, _) => SnapshotRelation(
              spark.sqlContext, tablePath, None, options).insert(data, ow)
          override def toStreaming: StreamingWrite = {
            require(pinnedVersion.isEmpty,
              s"cannot stream into a versionAsOf/timestampAsOf handle " +
                s"of $tablePath")
            require(branchOpt.isEmpty,
              s"cannot stream into a branch of $tablePath — the " +
                "streaming sink's epoch log is main-line only; batch " +
                "DML (INSERT/MERGE/UPDATE/DELETE) works on branches")
            streaming = true
            new GraftStreamingWrite(spark, tablePath, info.schema(),
              info.queryId(), ow, options)
          }
          // cluster + sort each micro-batch by the partition column so
          // every task streams one partition dir at a time (single open
          // writer, no per-epoch small-file explosion); width pinned so
          // AQE can't serialize a toy batch's per-dir round-trips onto
          // one task
          override def requiredDistribution(): Distribution =
            if (streaming && partitionCols.nonEmpty)
              Distributions.clustered(partitionCols.map(c =>
                Expressions.identity(c)
                  : org.apache.spark.sql.connector.expressions.Expression)
                .toArray)
            else Distributions.unspecified()
          override def requiredOrdering(): Array[SortOrder] =
            if (streaming)
              partitionCols.map(c => Expressions.sort(
                Expressions.column(c), SortDirection.ASCENDING)).toArray
            else Array.empty
          override def requiredNumPartitions(): Int =
            if (streaming && partitionCols.nonEmpty)
              spark.sessionState.conf.numShufflePartitions
            else 0
        }
      }
    }
  }
}

/** What [[GraftSource.getTable]] returns for a path with NO committed
  * snapshot yet: declaring no capabilities makes `DataFrameWriter.save`
  * fall back to the V1 sink (whose ErrorIfExists/Ignore/Append/
  * Overwrite all handle table creation), while any read planned
  * against it fails with the real cause instead of an empty scan. */
final class MissingGraftTable(val tablePath: String)
    extends Table with SupportsRead {
  override def name(): String = s"graft.`$tablePath` (uncommitted)"
  override def schema(): StructType = new StructType()
  override def properties(): java.util.Map[String, String] =
    Collections.emptyMap()
  override def capabilities(): JSet[TableCapability] = Collections.emptySet()
  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    throw new IllegalStateException(s"no committed snapshot at $tablePath")
}
