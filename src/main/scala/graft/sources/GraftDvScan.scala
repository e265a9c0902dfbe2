package graft.sources

import org.apache.spark.sql.catalyst.{FileSourceOptions, InternalRow}
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.execution.datasources.v2.FilePartitionReaderFactory
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetPartitionReaderFactory

import graft.functions.DeleteBitmap
import graft.plans.SnapshotTable

/** MERGE-ON-READ deletion vectors applied INSIDE the DSv2 scan — what
  * lets `spark.read.format("graft")`, the SQL catalog and every
  * Catalyst plan on top of them serve a vectored snapshot directly,
  * with no `purgeDeletes()`/`compact()` materialization step (the
  * Delta scan-time-DV model; reference behavior: the Athena/Delta
  * reads in `-Lakehouse-Architecture-for-E-Commerce-Transactions`
  * never see deleted rows regardless of access path).
  *
  * The mechanism rests on one invariant: a parquet file read WHOLE,
  * with NO pushed filters and NO pushed aggregate, yields its rows in
  * file order — so a running count from the file's first row IS
  * `_metadata.row_index`, and the vector filters by membership. Spark's
  * own file planning and this per-file reader keep it:
  *
  *  - [[graft.sources.GraftScan]] declares a vectored file unsplittable,
  *    so Spark plans it as one whole-file `PartitionedFile` and packs it
  *    into partitions alongside clean files and their splits.
  *  - The inherited `createReader` opens one reader per
  *    `PartitionedFile`; for a vectored file that is a reader from a
  *    twin factory with EMPTY pushed filters (parquet pushdown skips
  *    row groups and pages, which would silently renumber every later
  *    row), wrapped in the position filter — so each file's count
  *    starts at 0. Parquet pushdown is advisory — Spark keeps the
  *    Filter node above the scan — so dropping it costs skipping,
  *    never correctness. Clean files keep their pushed filters.
  *  - Aggregate pushdown (footer-only COUNT/MIN/MAX) is refused at
  *    the builder for vectored snapshots: footers count deleted rows.
  *
  * One deliberate trade-off: `BatchScanExec` requires every partition
  * of a scan to agree on columnar-vs-row ("Cannot mix row-based and
  * columnar input partitions"), so a scan whose PLANNED file set holds
  * a vectored file reads row-based throughout — clean files keep their
  * pushed filters and all file-level pruning (partitions, manifest
  * min/max, blooms, runtime DPP — sound under vectors, which only hide
  * rows WITHIN a file), they just lose the vectorized decode. A scan
  * whose pruning removed every vectored file gets the plain parquet
  * factory and keeps the full columnar path; and vectored state is
  * transient by design ([[graft.plans.SnapshotTable.compact]] purges
  * lazily, `purgeDeletes()` eagerly). Serialized to executors with the
  * vector map inside — bounded by `graft.mor.maxDeleteRows`, the same
  * budget the API read path broadcasts. */
private[sources] final class GraftDvReaderFactory(
    clean: ParquetPartitionReaderFactory,
    dvSide: ParquetPartitionReaderFactory,
    dvByBase: Map[String, DeleteBitmap])
    extends FilePartitionReaderFactory {

  override def options: FileSourceOptions = clean.options

  override def buildReader(file: PartitionedFile): PartitionReader[InternalRow] =
    dvByBase.get(SnapshotTable.basename(file.filePath.toString)) match {
      case Some(dv) => new GraftDvRowReader(dvSide.buildReader(file), dv)
      case None => clean.buildReader(file)
    }
}

/** The one position filter of the DSv2 readers (snapshot scan, stream,
  * SQL DML, change feed): counts one whole file's rows in file order
  * and passes the rows whose position is NOT in `positions` — or, with
  * `keepOnly`, exactly the rows whose position IS. Compressed
  * Roaring-style bitmap membership, O(1) on the dense containers broad
  * deletes produce. Surviving rows pass through untouched (the inner
  * reader's row reuse contract is preserved — `get()` is only called
  * for rows handed to the caller). */
private[sources] final class GraftDvRowReader(
    inner: PartitionReader[InternalRow],
    positions: DeleteBitmap,
    keepOnly: Boolean = false) extends PartitionReader[InternalRow] {

  private var pos = -1L

  override def next(): Boolean = {
    while (inner.next()) {
      pos += 1
      if (positions.contains(pos) == keepOnly) return true
    }
    false
  }

  override def get(): InternalRow = inner.get()

  override def close(): Unit = inner.close()
}
